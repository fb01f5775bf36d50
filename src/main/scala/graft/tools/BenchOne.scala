package graft.tools

/** Time a handful of SparkEntry queries in isolation (same session confs
  * as Bench, same warmup) — for pinning down bench-ordering effects vs
  * real regressions. Usage: runMain graft.tools.BenchOne <sfDir> <q> [<q>…]
  * Each query runs `reps` times (default 3); per-rep seconds printed. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = graft.core.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[benchone] $name: ${times.map(t => f"$t%.2f").mkString(", ")} s")
    }
    spark.stop()
  }
}
