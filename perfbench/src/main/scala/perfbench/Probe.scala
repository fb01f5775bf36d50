package perfbench

import org.apache.spark.sql.SparkSession

/** Development aid: time SparkEntry queries one by one and print, per
  * query and rep, construction and action seconds, rows and digest (tab
  * separated). With `count` as the mode the action is `count()` instead
  * of a full collect, which shows the work `count()` lets Catalyst prune. */
object Probe {
  def run(spark: SparkSession, dir: String, names: Seq[String], reps: Int,
          mode: String): Unit = {
    val queries = graft.SparkEntry.queries
    val todo = if (names == Seq("all")) queries.keys.toSeq.sorted else names
    todo.foreach { name =>
      (1 to reps).foreach { rep =>
        val t0 = System.nanoTime()
        val line = try {
          val df = queries(name)(spark, dir)
          val t1 = System.nanoTime()
          val (rows, digest) =
            if (mode == "count") (df.count(), "-")
            else {
              val r = Digest.of(df.schema.simpleString, df.collect())
              (r.rows, r.digest)
            }
          val t2 = System.nanoTime()
          f"$name\t$rep\t${(t1 - t0) / 1e9}%.4f\t${(t2 - t1) / 1e9}%.4f\t$rows\t$digest"
        } catch { case e: Throwable =>
          s"$name\t$rep\tERROR\t${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(200).replaceAll("\\s+", " ")
        }
        println("PROBE\t" + line)
      }
    }
  }
}
