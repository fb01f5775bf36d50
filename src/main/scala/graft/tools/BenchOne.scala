package graft.tools

/** Time a handful of SparkEntry queries in isolation (same session confs
  * as Bench, same warmup) — for pinning down bench-ordering effects vs
  * real regressions. Usage: runMain graft.tools.BenchOne <sfDir> <q> [<q>…]
  * Each query runs 3 times with `count()` (Bench's action; per-rep
  * seconds printed), then 3 times with `collect()`, whose min is printed
  * on a second line. `count()` lets Catalyst prune aggregates the count
  * does not need, so only the `collect()` line sees work done in them. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = graft.core.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def time(action: org.apache.spark.sql.DataFrame => Any): Seq[Double] =
        (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          action(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }
      val times = time(_.count())
      println(f"[benchone] $name: ${times.map(t => f"$t%.2f").mkString(", ")} s")
      val collects = time(_.collect())
      println(f"[benchone] $name collect: min ${collects.min}%.3f s " +
        f"(${collects.map(t => f"$t%.3f").mkString(", ")})")
    }
    spark.stop()
  }
}
