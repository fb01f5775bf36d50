package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Round-12 hardening (the CORRECTNESS_r11.json == `{}` incident):
  *  - `oracle_sql.json` is written FIRST, before any query runs. If this
  *    process is killed mid-dump (driver wall-clock timeout), the driver
  *    still finds the oracle map plus every parquet completed so far and
  *    can emit a partial correctness record instead of zero evidence.
  *  - queries dump CONCURRENTLY (SPARK_GRAFT_VERIFY_PAR threads, default
  *    min(8, 2×cpus)): per-query results are unchanged — each query's own
  *    jobs keep the same session config/partitioning — but driver-side
  *    planning and job-scheduling gaps overlap across queries, cutting
  *    wall time well under any plausible driver budget.
  *  - per-query timing + a rolling "done k/n" heartbeat on stderr so a
  *    future stall is diagnosable from the driver's captured log.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = graft.core.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = graft.oracle.Oracle.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val work = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR",
      math.min(8, 2 * graft.core.Session.cores).max(2).toString).toInt
    val pool = Executors.newFixedThreadPool(par)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val t0 = System.nanoTime
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val futures = work.map { case (name, fn) => Future {
      val s0 = System.nanoTime
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val k = done.incrementAndGet()
        System.err.println(f"[verify] $name ok ${(System.nanoTime - s0) / 1e9}%.1fs ($k/${work.size})")
      } catch { case e: Throwable =>
        done.incrementAndGet()
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }}
    Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()
    System.err.println(f"[verify] total ${(System.nanoTime - t0) / 1e9}%.1fs for ${work.size} queries (par=$par)")
    spark.stop()
  }
}
