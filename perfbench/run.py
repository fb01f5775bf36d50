#!/usr/bin/env python3
"""Benchmark of the graft library: one client drives a workload in a
closed loop from one fresh JVM and the run prints its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run in a checkout builds the
library and the harness with sbt; later runs reuse the build. Each run
wipes perfbench/.work, which is the JVM's temp directory and every
catalog root, and measures what the run leaves there.
The last stdout line is the result JSON; the lines before it are a report
for people. `--record` re-records the expected query digests instead.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
DATA = os.path.join(HERE, "data", "sf0.1")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
EXPECTED = os.path.join(HERE, "expected.tsv")
WORKLOADS = ("query_mix", "lifecycle_rw")
CORES = min(4, os.cpu_count() or 1)
HEAP = "4g"
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
END_TO_END = ("setup_s", "wall_s", "op_p50_s", "op_p90_s")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile library + harness once per source state; return the classpath."""
    key = tree_hash([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
                     os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
                     os.path.join(HERE, "src")])
    stamp = os.path.join(BUILD, "classpath-" + key)
    if os.path.isfile(stamp):
        with open(stamp) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log("building library and harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    with open(stamp, "w") as f:
        f.write(lines[-1])
    log(f"build took {time.time() - t0:.1f} s")
    return lines[-1]


def java(cp, args, tmp, timeout):
    cmd = (["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ, PERFBENCH_CORES=str(CORES))
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"JVM did not finish within {timeout} s")


def du_mb(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total / 1048576.0


def run_jvm(cp, a, out, record=False):
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    seconds = 0 if record else a.seconds
    args = ["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(seconds),
            "--trace", str(a.trace), "--data", DATA, "--work", WORK,
            "--out", out, "--expected", EXPECTED]
    if record:
        args += ["--record", "1"]
    if os.path.exists(out):
        os.remove(out)
    rc = java(cp, args, os.path.join(WORK, "tmp"), JVM_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(out):
        fail(f"benchmark JVM failed (exit code {rc})")
    with open(out) as f:
        res = json.load(f)
    res["disk_mb_left"] = du_mb(WORK)
    return res


def record(cp, a):
    """Run the query pool once in each of two JVMs and rewrite
    expected.tsv; queries whose digest differs between the two runs are
    kept as "unstable" (checked on schema and rows only)."""
    runs = [run_jvm(cp, a, os.path.join(OUT, f"record-{i}.json"), True)["digests"]
            for i in range(2)]
    lines = []
    for q in sorted(runs[0]):
        rows, schema, digest = runs[0][q].split("\t")
        if runs[1].get(q) != runs[0][q]:
            digest = "unstable"
            log(f"{q}: digest differs between two runs, recorded as unstable")
        lines.append(f"{q}\t{rows}\t{schema}\t{digest}")
    with open(EXPECTED, "w") as f:
        f.write("\n".join(lines) + "\n")
    log(f"recorded {len(lines)} results in {EXPECTED}")


def report(a, res):
    info = res["info"]
    ops, failed = res["attempted"], len(res["failures"])
    e2e = {k: v["value"] for k, v in res["e2e"].items()}
    passes, warm = int(info["passes"]), int(info["passes"] * info["ops_per_pass"])
    lines = [f"workload {a.workload} seed {a.seed} trace {a.trace}: {ops} ops, {failed} failed: "
             f"a warm-up pass and {passes} measured passes of {info['ops_per_pass']:.0f} ops",
             f"  setup_s         {e2e['setup_s']:.3f} s  (the run's one cold set-up; its warm-up pass "
             f"took {info['warmup_pass_s']:.3f} s)",
             f"  wall_s          {e2e['wall_s']:.3f} s  (median time of one pass over {passes} measured passes)",
             f"  op_p50_s        {e2e['op_p50_s']:.3f} s  (over {warm} measured ops)",
             f"  op_p90_s        {e2e['op_p90_s']:.3f} s  (over {warm} measured ops; {warm // 10} beyond it)",
             f"  failed_ops      {e2e['failed_ops']:.4f} ratio  ({failed} of {ops})",
             f"  peak_storage_mb {e2e['peak_storage_mb']:.3f} MB",
             f"  disk_mb_left    {res['disk_mb_left']:.3f} MB"]
    for name, err in res["failures"]:
        lines.append(f"  FAILED {name}: {err}")
    if a.trace:
        walls = []
        for f in os.listdir(OUT):
            if f.startswith(f"result-{a.workload}-") and f.endswith("-trace0.json"):
                with open(os.path.join(OUT, f)) as fh:
                    walls.append(json.load(fh)["e2e"]["wall_s"]["value"])
        traced = res["layers"]["trace.wall_s"]["value"]
        if walls:
            base = statistics.median(walls)
            lines.append(f"  tracing overhead: wall_s {traced:.3f} s traced vs {base:.3f} s untraced "
                         f"(median of {len(walls)} runs in this checkout): {100 * (traced / base - 1):+.1f}%")
        else:
            lines.append(f"  tracing overhead: no untraced {a.workload} run in this checkout to compare with")
        lines.append(f"  spans: {os.path.relpath(res['spans'], ROOT)}")
        for k, v in res["layers"].items():
            lines.append(f"  {k:28s} {v['value']:.6g} {v['unit']}")
    print("\n".join(lines))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft library sources next to {HERE}: run from a full checkout")
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        fail(f"input tables missing under {DATA}")
    cp = build()
    os.makedirs(OUT, exist_ok=True)
    if a.record:
        if a.workload != "query_mix":
            fail("--record applies to query_mix, the workload with recorded digests")
        record(cp, a)
        return
    out = os.path.join(OUT, f"result-{a.workload}-{a.seed}-trace{a.trace}.json")
    res = run_jvm(cp, a, out)
    if a.trace:
        res["spans"] = out + ".spans.json"
    with open(out, "w") as f:
        json.dump(res, f)
    report(a, res)
    if a.trace:
        metrics = dict(res["layers"])
        metrics["disk_mb_left"] = {"value": res["disk_mb_left"], "unit": "MB"}
    else:
        metrics = {k: res["e2e"][k] for k in END_TO_END}
    failed = len(res["failures"])
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
