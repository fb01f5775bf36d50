package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** Per-group top-k: the "rank, keep ≤ k" step of the whole library.
  *
  * The proximity family keeps the k nearest references per query (the
  * reference's `proximity.py:30-98`, mapped here to crossJoin + window
  * top-k), and text, views, CDC, sampling and the stats operators keep
  * the first k rows per group the same way. This is the one place that
  * writes that step.
  *
  * The body is a `row_number()` window filtered at `k`, so Spark plans
  * `Window`, then `WindowGroupLimit` (Spark's `InferWindowGroupLimit`
  * adds it while k is at most `spark.sql.optimizer.windowGroupLimitThreshold`,
  * 1000 by default), then `Filter`.
  */
object TopK {

  /** The first `k` rows of each `by` group of `df`, ordered by `order`.
    *
    * @param by    grouping columns; empty ranks the whole frame as one group
    * @param order sort order; the caller sets asc/desc and null ordering.
    *              Rows that tie on the whole order are cut in no fixed
    *              order, so end it with a unique column for a stable cut
    * @param k     rows kept per group
    * @param rank  keep the 1-based rank under this name; `None` drops it
    */
  def apply(df: DataFrame, by: Seq[Column], order: Seq[Column], k: Int,
            rank: Option[String] = None): DataFrame = {
    val r = rank.getOrElse("__topk_rank")
    val kept = df
      .withColumn(r, row_number().over(Window.partitionBy(by: _*).orderBy(order: _*)))
      .filter(col(r) <= k)
    if (rank.isDefined) kept else kept.drop(r)
  }
}
