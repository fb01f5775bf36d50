package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** One operation of a workload, as one client issues it: `build` is the
  * public-API call that returns a frame (the construction phase), the
  * harness then collects the whole frame (the action phase) and `check`
  * judges the collected rows (None = correct). */
final case class Op(name: String, module: String, tag: String,
                    build: () => DataFrame,
                    check: (StructType, Array[Row]) => Option[String])

/** What the harness saw of one op. Times are seconds; `start` and the
  * phase boundaries are epoch milliseconds so they line up with the
  * Spark listener's job and stage times. */
final case class OpRec(pass: Int, op: Op, group: String,
                       start: Double, mid: Double, end: Double,
                       error: Option[String], routes: Seq[String],
                       files: Long, bytes: Long, extra: Map[String, Double]) {
  def constructS: Double = (mid - start) / 1000
  def actionS: Double = (end - mid) / 1000
  def latencyS: Double = (end - start) / 1000
}

/** A workload: the seeded op sequence of each pass. */
trait Workload {
  def pass(p: Int): Seq[Op]
  /** Harness bookkeeping around an op, run only in the traced run and
    * outside the op's timing (e.g. cache sizes for hit ratios). */
  def traceBefore(op: Op): Unit = ()
  def traceAfter(op: Op): Map[String, Double] = Map.empty
  /** Directory whose file count and bytes the traced run follows. */
  def storeRoot: Option[String] = None
}

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, work: String,
                      out: String, expected: String, cores: Int, record: Boolean)

object Harness {
  private def nowMs: Double = System.nanoTime() / 1e6 - nanoBase + epochBase
  private val nanoBase = System.nanoTime() / 1e6
  private val epochBase = System.currentTimeMillis().toDouble

  /** Open every input table through the library's loader, which reads the
    * parquet footers and keeps the schemas in its cache. */
  private def preTouch(spark: SparkSession, dir: String): Unit =
    graft.core.Tables.names.foreach(t => graft.core.Tables.load(spark, dir, t).schema)

  /** Harrell-Davis quantile: a mean of all order statistics weighted by
    * the Beta((n+1)q, (n+1)(1-q)) distribution. A run's ops fall into a few
    * latency groups (one per op kind); interpolating the two order
    * statistics next to q reads whichever op happens to sit there, while
    * this estimator blends its neighbours too. */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toArray
    val n = s.length
    if (n <= 1) s.headOption.getOrElse(Double.NaN)
    else {
      val a = (n + 1) * q - 1
      val b = (n + 1) * (1 - q) - 1
      // log of the Beta density at the midpoints of `steps` cells per 1/n
      val steps = 64
      val logDens = (0 until n * steps).map { k =>
        val x = (k + 0.5) / (n * steps)
        a * math.log(x) + b * math.log(1 - x)
      }
      val top = logDens.max
      // each order statistic weighs the density over its share of [0, 1]
      val w = logDens.map(l => math.exp(l - top)).grouped(steps).map(_.sum).toIndexedSeq
      w.indices.map(i => w(i) * s(i)).sum / w.sum
    }
  }

  private def rootCause(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    (e.getClass.getSimpleName + ": " + String.valueOf(c.getMessage))
      .replaceAll("\\s+", " ").take(300)
  }

  /** (files, bytes) under a directory, 0 when it does not exist. */
  def du(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        var n = 0L; var b = 0L
        s.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
          n += 1; b += java.nio.file.Files.size(f)
        }
        (n, b)
      } finally s.close()
    }
  }

  /** Passes the run measures at least, whatever `--seconds` says: each
    * warm pass is faster than the one before, so a run that fitted in one
    * more pass than another would read faster for that alone (NOTES.md). */
  val MinPasses = 3

  def run(a: Args): Unit = {
    val out = new Report
    // set-up, once and cold: the run's JVM is fresh, so this is what a
    // user's new session pays before its ops run at their warm speed:
    // session, footers, and one whole pass of the workload (static init,
    // first compilation, first-call caches)
    val t0 = System.nanoTime()
    val spark = Session.build(a.cores, s"${a.work}/spark-local")
    val tS = System.nanoTime()
    preTouch(spark, a.data)
    val t1 = System.nanoTime()
    graft.core.Routing.drain()
    val sc = spark.sparkContext

    val workload: Workload = a.workload match {
      case "query_mix" => Queries.workload(spark, a.data, a.seed, a.expected, a.record)
      case "lifecycle_rw" => new Lifecycle(spark, a.data, s"${a.work}/catalog", a.seed)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // block-manager storage in use, sampled through the run
    @volatile var peakStorage = 0L
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val used = sc.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum
        if (used > peakStorage) peakStorage = used
        Thread.sleep(50)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    val recs = mutable.ArrayBuffer.empty[OpRec]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val digests = mutable.LinkedHashMap.empty[String, String]
    def runPass(p: Int): Unit = {
      val ops = workload.pass(p)
      val passStart = System.nanoTime()
      ops.zipWithIndex.foreach { case (op, i) =>
        val group = s"op-$p-$i"
        if (a.trace) workload.traceBefore(op)
        val (f0, b0) = if (a.trace) workload.storeRoot.map(du).getOrElse((0L, 0L)) else (0L, 0L)
        graft.core.Routing.drain()
        sc.setJobGroup(group, op.name, interruptOnCancel = false)
        val start = nowMs
        var mid = start
        var rows: Array[Row] = null
        var schema: StructType = null
        var err: Option[String] = None
        try {
          val df = op.build()
          mid = nowMs
          schema = df.schema
          rows = df.collect()
        } catch { case e: Throwable => err = Some(rootCause(e)) }
        val end = nowMs
        if (mid == start && err.isDefined) mid = end
        sc.clearJobGroup()
        val routes = graft.core.Routing.drain()
        if (err.isEmpty) {
          if (a.record) digests(op.name) = Queries.recordLine(schema, rows)
          else err = try op.check(schema, rows) catch {
            case e: Throwable => Some("check: " + rootCause(e)) }
        }
        val extra = if (a.trace) workload.traceAfter(op) else Map.empty[String, Double]
        val (f1, b1) = if (a.trace) workload.storeRoot.map(du).getOrElse((0L, 0L)) else (0L, 0L)
        recs += OpRec(p, op, group, start, mid, end, err, routes,
          math.max(0L, f1 - f0), math.max(0L, b1 - b0), extra)
        err.foreach(e => System.err.println(s"[perfbench] FAILED ${op.name}: $e"))
      }
      passWall += (System.nanoTime() - passStart) / 1e9
    }

    runPass(0)
    val t2 = System.nanoTime()
    // the traced run follows the measured passes only
    val trace = if (a.trace) Some(new Trace) else None
    trace.foreach(sc.addSparkListener)
    // measured passes: warm, until --seconds have gone by (the current
    // pass always completes)
    var p = 1
    while (!a.record && (p <= MinPasses || (System.nanoTime() - t2) / 1e9 < a.seconds)) {
      runPass(p)
      p += 1
    }
    sampling = false
    sampler.join()

    val warm = recs.filter(_.pass > 0).toSeq
    val warmWall = passWall.drop(1).toSeq
    val lat = warm.map(_.latencyS)
    out.e2e("setup_s", (t2 - t0) / 1e9, "s")
    out.e2e("wall_s", quantile(warmWall, 0.5), "s")
    out.e2e("op_p50_s", quantile(lat, 0.5), "s")
    out.e2e("op_p90_s", quantile(lat, 0.9), "s")
    out.e2e("failed_ops", recs.count(_.error.isDefined).toDouble / recs.size, "ratio")
    out.e2e("peak_storage_mb", peakStorage / 1048576.0, "MB")
    out.info("session_s", (tS - t0) / 1e9)
    out.info("pretouch_s", (t1 - tS) / 1e9)
    out.info("warmup_pass_s", passWall.head)
    out.info("passes", warmWall.size.toDouble)
    out.info("ops_per_pass", warm.size.toDouble / math.max(1, warmWall.size))
    out.attempted = recs.size
    out.failures = recs.filter(_.error.isDefined).map(r => r.op.name -> r.error.get).toSeq
    out.ops = recs.map(r => (r.pass, r.op.name, r.op.module, r.latencyS)).toSeq
    out.digests = digests.toSeq

    trace.foreach { t =>
      t.settle()
      Layers.compute(out, t, warm, warmWall.size, (t1 - tS) / 1e9, quantile(warmWall, 0.5))
      Layers.writeSpans(s"${a.out}.spans.json", t, warm)
    }
    out.write(a.out)
    spark.stop()
  }
}
