package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dump the formatted physical plan of SparkEntry queries — the
  * plan-shape audit loop (broadcasts where expected, pushed filters,
  * no stray cartesian/single-partition exchanges).
  * Usage: runMain graft.tools.Explain <sfDir> <q> [<q>…] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = graft.core.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.tail.foreach { name =>
      println(s"========== $name ==========")
      println(graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
