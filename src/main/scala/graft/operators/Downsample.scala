package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** M4 time-series downsampling (Jugel, Jerzak, Hackenbroich & Markl,
  * "M4: A Visualization-Oriented Time Series Data Aggregation",
  * VLDB 2014): per (series, time bucket) keep exactly the first, last,
  * minimum and maximum value — the four points that make a line chart
  * rendered from the reduced series pixel-identical to one rendered
  * from the raw series. The standard dashboard-feeding reduction
  * (OHLC/candlestick is the same kernel at market granularity).
  *
  * Determinism discipline: first/last are argmin/argmax over a
  * zero-padded `(epoch-micros, order-key)` string — a TOTAL order (the
  * order key is unique), so ties on the timestamp resolve identically
  * on every engine; min/max of stored doubles are exact. Domain
  * requirement (ADVICE r12): timestamps must be post-1970 and the
  * order key non-negative and ≤20 digits — a '-' sign defeats the
  * zero-pad and lpad TRUNCATES wider inputs (both engines), breaking
  * the total order.
  *
  * Scale shape at 100 TB: one groupBy on (series, bucket) — a single
  * shuffle with full map-side partial aggregation (all four extremes
  * combine associatively); output is bucket-count-sized. */
object Downsample {

  /** Hourly M4 reduction. `ordCol` must be unique per row (tie-break).
    * Returns (series, bucket, n, v_open, v_close, v_low, v_high). */
  def m4(df: DataFrame, seriesCol: String, tsCol: String,
         ordCol: String, valCol: String): DataFrame = {
    val ev = graft.core.Tables.ltzTs(df, tsCol)
    val key = concat(
      lpad(unix_micros(col(tsCol)).cast("string"), 20, "0"),
      lpad(col(ordCol).cast("string"), 20, "0"))
    ev.filter(col(valCol).isNotNull)
      .groupBy(col(seriesCol).as("series"),
        date_format(date_trunc("hour", col(tsCol)), "yyyy-MM-dd HH:00")
          .as("bucket"))
      .agg(count(lit(1)).as("n"),
        min_by(col(valCol), key).as("v_open"),
        max_by(col(valCol), key).as("v_close"),
        min(col(valCol)).as("v_low"),
        max(col(valCol)).as("v_high"))
      .orderBy("series", "bucket")
  }
}
