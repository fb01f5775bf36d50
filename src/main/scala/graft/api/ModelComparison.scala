package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** Champion/challenger metric comparison (reference:
  * utils/model_comparison.py:33-130): one row per model plus a `delta`
  * row whose values are the metrics-aware improvement of model B over
  * model A — positive ALWAYS means B is better, with the lower-is-better
  * set flipped (`rmse`/`mae`/`medae`; everything else, r²/f1/auc/…, is
  * higher-is-better; counts like support fall through to plain b−a).
  *
  * Metrics come from each model's stored inference run (metadata-sized
  * frames); classifier tables contribute their support-weighted `all`
  * row — the same row the promotion arbiter ranks on. */
object ModelComparison {
  /** model_comparison.py:18. */
  val LowerIsBetter: Set[String] = Set("rmse", "mae", "medae")

  /** The representative numeric metrics row of a stored metrics frame:
    * classifier tables contribute their support-weighted `all` summary
    * row, regressors their single row. Shared by the comparison/contest
    * stack and `captureRun`'s metrics-into-meta — ONE place owns the
    * 'all'-row convention. */
  private[api] def metricsRowOf(df: DataFrame): Option[Seq[(String, Double)]] =
    metricsRowOf(df.columns.toSeq, df.collect()) // metrics frames are metadata-sized

  /** [[metricsRowOf]] over already-collected rows of a frame with `columns`. */
  private[api] def metricsRowOf(columns: Seq[String],
                                rows: Array[Row]): Option[Seq[(String, Double)]] = {
    val classIdx = columns.indexOf("class")
    val rowOpt =
      if (classIdx >= 0)
        rows.find(r => !r.isNullAt(classIdx) && r.getString(classIdx) == "all")
          .orElse(rows.headOption)
      else rows.headOption
    rowOpt.map { r =>
      columns.zipWithIndex.collect {
        case (c, i) if !r.isNullAt(i) && r.get(i).isInstanceOf[Number] =>
          c -> r.get(i).asInstanceOf[Number].doubleValue
      }
    }
  }

  private[api] def metricsRow(m: Model, run: String): Option[Seq[(String, Double)]] =
    m.getInferenceMetrics(run).flatMap(metricsRowOf)

  /** Decimal HALF_UP to 6 places — the repo's oracle-parity rounding. */
  private[api] def round6(x: Double): Double = graft.ml.Metrics.round6(x)

  private def r6(x: Double): Double = round6(x)

  /** `None` when either model has no metrics for the run or the two
    * share no metric columns (a regressor/classifier mismatch). */
  def compare(a: Model, b: Model, inferenceRun: String = "default")
      : Option[DataFrame] =
    for {
      ra <- metricsRow(a, inferenceRun)
      rb <- metricsRow(b, inferenceRun)
      mb = rb.toMap
      shared = ra.collect { case (c, v) if mb.contains(c) => (c, v, mb(c)) }
      if shared.nonEmpty
    } yield {
      val cols = shared.map(_._1)
      val delta = shared.map { case (c, va, vb) =>
        r6(if (LowerIsBetter.contains(c)) va - vb else vb - va)
      }
      val rows = java.util.Arrays.asList(
        Row.fromSeq(a.name +: shared.map(t => Double.box(t._2))),
        Row.fromSeq(b.name +: shared.map(t => Double.box(t._3))),
        Row.fromSeq("delta" +: delta.map(Double.box)))
      a.catalog.spark.createDataFrame(rows,
        StructType(StructField("model", StringType) +:
          cols.map(StructField(_, DoubleType))))
    }
}
