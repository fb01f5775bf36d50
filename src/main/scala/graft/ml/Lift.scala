package graft.ml

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cumulative-gains / lift read-out for a scored binary outcome — the
  * campaign-targeting view of the calibration table
  * ([[graft.ml.Stats.calibrationBins]]): rank the population by score,
  * cut into quantile bands, and report how much of the positive class
  * each top slice captures (reference surface: the model-metrics
  * plugins around src/workbench/web_interface/components/plugins/
  * model_metrics; lift itself is standard scoring-model practice).
  *
  * Scale shape: band edges are ONE exact-percentile aggregate
  * (quantized to 6dp so edge-sitting scores bin identically in every
  * engine — the q152 equi-depth lesson), band assignment is a codegen
  * comparison chain, per-band stats are one groupBy, and the cumulative
  * pass is a window over the ≤bands-row totals frame (metadata).
  * Returns, best band first: (band, n, n_pos, pos_rate, cum_capture,
  * lift) where lift = band pos-rate / global pos-rate.
  */
object Lift {

  def liftTable(df: DataFrame, scoreCol: String, labelCol: String,
                bands: Int = 10): DataFrame = Checkpoints.scoped {
    val base = df.select(col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("int").as("__y"))
      .filter(col("__s").isNotNull && !isnan(col("__s")) &&
        col("__y").isNotNull)
    // ranged assignment: exact-percentile edges, 6dp-quantized so an
    // edge-sitting score bins identically in every engine, then a
    // codegen comparison chain — no ntile window (the q190 kernel)
    val ps = (1 until bands).map(_.toDouble / bands)
    val edgeRow = base
      .agg(graft.functions.ExactPercentiles.exactPercentiles(col("__s"), ps))
      .head()
    val edges =
      if (edgeRow.isNullAt(0)) Seq.empty[Double]
      else edgeRow.getSeq[Double](0)
        .map(e => BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val band = edges.foldLeft(lit(1))((acc, e) =>
      acc + when(col("__s") > e, 1).otherwise(0))
    val perBand = Checkpoints.local(binned(base, band))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("band").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Checkpoints.local(perBand
      .withColumn("__cum_pos", sum("n_pos").over(w))
      .crossJoin(perBand.agg(sum("n_pos").as("__tot_pos"),
        sum("n").as("__tot_n")))
      .select(col("band"), col("n"), col("n_pos"),
        round(col("n_pos") / col("n"), 6).as("pos_rate"),
        round(try_divide(col("__cum_pos"), col("__tot_pos")), 6)
          .as("cum_capture"),
        round(try_divide(col("n_pos") / col("n"),
          col("__tot_pos") / col("__tot_n")), 6).as("lift")))
  }

  /** per-band counts — split out so the frame feeding both the window
    * and the totals aggregate is materialized once */
  private def binned(base: DataFrame, band: Column): DataFrame =
    base.groupBy(band.cast("int").as("band"))
      .agg(count(lit(1)).as("n"), sum("__y").as("n_pos"))
}
