package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-weighted average over an irregular event stream (the
  * kdb-style `twa` / TimescaleDB `time_weight('locf')` operator): each
  * observation holds its value until the next one (LOCF), so the mean
  * weights every value by how LONG it was current, not how often it was
  * sampled — the right read for prices, gauge metrics, and any series
  * whose sampling rate correlates with volatility. The plain mean is
  * returned alongside as the contrast column.
  *
  * Scale shape at 100 TB: the naive kernel is one window over the whole
  * series per key — a single task per key when keys are few. This
  * implementation range-buckets the time axis instead (day grain):
  * within-bucket pair terms Σ vᵢ·(tᵢ₊₁−tᵢ) come from a window
  * partitioned by (key, day) — thousands of small partitions — and the
  * cross-bucket gap terms v_last·(t_first_next − t_last_prev) come from
  * a lag window over the per-bucket summary frame, which is
  * DAYS-per-key-sized (metadata, not corpus). The two term families
  * partition the full telescoping sum exactly, so the result is
  * IDENTICAL to the flat single-window formulation the DuckDB twin
  * runs (float summation order differs; both sides round at 6dp).
  */
object TimeWeighted {

  /** Per-key LOCF time-weighted average. `ordCol` must be unique per
    * row (timestamp tie-break). Returns (keyCol, n_events, span_us,
    * twa 6dp, mean_value 6dp); a key with a single event (zero span)
    * nulls its twa. */
  def timeWeightedAvg(df: DataFrame, keyCol: String, tsCol: String,
                      ordCol: String, valCol: String): DataFrame = {
    val ev = graft.core.Tables.ltzTs(df, tsCol)
      .filter(col(valCol).isNotNull)
      .select(col(keyCol), col(ordCol).as("__o"),
        unix_micros(col(tsCol)).as("__t"),
        col(valCol).cast("double").as("__v"))
      .withColumn("__b", expr("__t div 86400000000"))
    // within-bucket consecutive-pair terms
    val wIn = Window.partitionBy(col(keyCol), col("__b"))
      .orderBy("__t", "__o")
    val intra = ev
      .withColumn("__tn", lead("__t", 1).over(wIn))
      .groupBy(col(keyCol), col("__b"))
      .agg(sum(col("__v") * (col("__tn") - col("__t"))).as("__area"),
        count(lit(1)).as("__n"), sum("__v").as("__vs"),
        min("__t").as("__tf"), max("__t").as("__tl"),
        // post-1970 ts + non-negative ≤20-digit ord required: a '-'
        // sign defeats the zero-pad and lpad truncates wider inputs
        max_by(col("__v"), concat(
          lpad(col("__t").cast("string"), 20, "0"),
          lpad(col("__o").cast("string"), 20, "0"))).as("__vl"))
    // cross-bucket gap terms over the bucket-summary frame (days-sized)
    val wAcross = Window.partitionBy(col(keyCol)).orderBy("__b")
    intra
      .withColumn("__gap",
        (col("__tf") - lag("__tl", 1).over(wAcross)) *
          lag("__vl", 1).over(wAcross))
      .groupBy(col(keyCol))
      .agg(sum("__n").as("n_events"),
        (max("__tl") - min("__tf")).as("span_us"),
        round(try_divide(
          coalesce(sum("__area"), lit(0.0)) +
            coalesce(sum("__gap"), lit(0.0)),
          (max("__tl") - min("__tf")).cast("double")), 6).as("twa"),
        round(sum("__vs") / sum("__n"), 6).as("mean_value"))
      .orderBy(keyCol)
  }
}
