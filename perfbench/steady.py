#!/usr/bin/env python3
"""Steadiness self-check of the benchmark.

    python3 perfbench/steady.py [--runs 10] [workload ...]

For each workload it makes two sets of `--runs` untraced runs with seeds
1 to `--runs` (the same seeds in both sets), and reports per end-to-end
metric:
  - spread: (Q3 - Q1) / median of each set's values, with Python's
    statistics.quantiles(values, n=4); it must stay within the metric's
    bound in BENCHMARK.json (setup_s is exempt);
  - drift: how far the second set's median is from the first set's, either
    way; it must stay within the bound for every metric.
It also checks that the seeds give more than one op sequence but a single
op count and mix of owning packages. Exit code 1 if any check fails.
"""
import argparse
import collections
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
SETS = 2


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed}: run.py exited with {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(OUT, f"result-{workload}-{seed}-trace0.json")) as f:
        ops = json.load(f)["ops"]
    return res, ops


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med, statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description="steadiness self-check")
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    ok = True
    for w in workloads:
        sets = []
        ops_by_seed = {}
        for i in range(SETS):
            vals = collections.defaultdict(list)
            for seed in range(1, a.runs + 1):
                res, ops = run(w, seed, bench["run_seconds"])
                if not res["correct"]:
                    print(f"{w} seed {seed}: {res['failed']} of {res['attempted']} ops failed")
                    ok = False
                for k, v in res["metrics"].items():
                    vals[k].append(v["value"])
                print(f"{w:13s} set {i + 1} seed {seed:2d}: " + "  ".join(
                    f"{k} {v['value']:.4f}" for k, v in res["metrics"].items()), flush=True)
                ops_by_seed.setdefault(seed, ops)
            sets.append(vals)
        for name, bound in bounds.items():
            meds = []
            for i, vals in enumerate(sets):
                sp, med = spread(vals[name])
                meds.append(med)
                bad = name != "setup_s" and sp > bound
                ok &= not bad
                print(f"{w:13s} {name:10s} set {i + 1}: median {med:.4f} spread {sp:.3f}"
                      f" (bound {bound}){'  FAIL' if bad else ''}")
            drift = meds[1] / meds[0] - 1
            bad = abs(drift) > bound
            ok &= not bad
            print(f"{w:13s} {name:10s} set 2 vs set 1: {100 * drift:+.1f}%{'  FAIL' if bad else ''}")
        # seeds change the op order or sample, never the op count or package mix
        passes = [[o for o in ops if o[0] == 0] for ops in ops_by_seed.values()]
        shapes = {(len(p), tuple(sorted(collections.Counter(o[2] for o in p).items()))) for p in passes}
        orders = {tuple(o[1] for o in p) for p in passes}
        ok &= len(shapes) == 1 and len(orders) > 1
        print(f"{w:13s} {len(passes)} seeds: {len(shapes)} op count and package mix,"
              f" {len(orders)} distinct op sequences")
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
