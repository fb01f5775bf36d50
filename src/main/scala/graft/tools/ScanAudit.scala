package graft.tools

/** Fleet-wide plan audit: for EVERY SparkEntry query, count parquet
  * scans, shuffles (Exchange), corpus-frame single-partition exchanges
  * and cartesian products in the compiled physical plan — the
  * plan-shape facts the per-query `Explain` tool surfaces one query at
  * a time, tabulated so scan-amplified or shuffle-heavy queries rank
  * to the top without reading 519 plans by hand.
  *
  * Planning only (no execution): ~seconds per query. Output: one TSV
  * line per query sorted by scan count desc, then a summary block.
  * Usage: runMain graft.tools.ScanAudit <sfDir> [topN]
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val topN = args.lift(1).map(_.toInt).getOrElse(40)
    val spark = graft.core.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
          val lines = plan.split("\n")
          def c(p: String) = lines.count(_.contains(p))
          Some((name, c("Scan parquet"), c("Exchange"),
            c("SinglePartition"), c("CartesianProduct"),
            c("BroadcastNestedLoopJoin")))
        } catch {
          case e: Throwable =>
            System.err.println(s"[scanaudit] $name failed: ${e.getMessage}")
            None
        }
    }
    println("query\tscans\texchanges\tsingle_part\tcartesian\tbnlj")
    rows.sortBy(r => (-r._2, -r._3)).take(topN).foreach { r =>
      println(s"${r._1}\t${r._2}\t${r._3}\t${r._4}\t${r._5}\t${r._6}")
    }
    val cart = rows.filter(_._5 > 0).map(_._1)
    println(s"== totals: ${rows.size} queries, " +
      s"${rows.map(_._2).sum} scans, ${rows.map(_._3).sum} exchanges, " +
      s"${rows.count(_._4 > 0)} with single-partition stages, " +
      s"cartesian: ${if (cart.isEmpty) "none" else cart.mkString(",")}")
    spark.stop()
  }
}
