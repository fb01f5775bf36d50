package graft.core

import org.apache.spark.sql.SparkSession

/** The library's only session configuration: `Bench`, `Verify`, the
  * `graft.tools` mains and the test suite all build their session here, so
  * the settings they time and check under cannot drift apart. Callers
  * add deployment settings (a warehouse dir, an app name) with
  * `.config` on the returned builder. `tools.Debug` keeps a vanilla
  * session on purpose: it mirrors how an external caller runs
  * `SparkEntry.entry`. */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** Generated classes Spark keeps compiled (a static conf; Spark's
    * default is 100). The 16 `query_mix` queries compile 173–175
    * classes, so at 100 entries every repeat of the mix recompiles
    * most of them; at 1,024 a repeat compiles 6. Holding every
    * query's classes (7,692 in one `Verify` pass at sf0.01) would cost
    * the test JVM about 1.7 GB more peak RSS for no faster suite. */
  val CodegenCacheEntries = 1024

  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
}
