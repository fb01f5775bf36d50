package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's only session: public Spark settings, nothing from the
  * library's own builders, so a change to those builders cannot change
  * what the benchmark measures. */
object Session {
  def build(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
