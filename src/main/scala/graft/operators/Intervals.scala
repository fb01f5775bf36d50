package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gaps-and-islands interval algebra: collapse a bag of (possibly
  * overlapping) per-key intervals into maximal disjoint "islands" and
  * report coverage — the classic warehouse question (machine uptime,
  * shipment-in-transit coverage, user-session overlap) that the
  * point-event sessionizer (`operators/Events.sessionStats`, q138) and
  * the interval JOIN (`operators/IntervalJoin`, q168) both skirt:
  * those consume points or pair up intervals; this one merges them.
  */
object Intervals {

  /** Per-key union of CLOSED numeric intervals [start, end] (touching
    * endpoints merge; rows with end < start or nulls are dropped).
    * The standard one-sort kernel: inside each key, sorted by
    * (start, end), an island opens where start exceeds the running
    * max of all previous ends; the island id is the running count of
    * opens, and islands aggregate to (min start, max end).
    *
    * Scale shape: both windows partition BY THE KEY — one shuffle of
    * the interval frame, no self-join, no unpartitioned window; skew
    * rides the key distribution exactly like any keyed window (salt
    * upstream if one key owns the corpus). Returns one row per key:
    * (key, n_intervals, n_islands, covered_len, max_island_len,
    * max_gap_len) — lengths as doubles 6dp, gaps between consecutive
    * islands (null when a single island). */
  def coalesceIntervals(df: DataFrame, keyCol: String, startCol: String,
                        endCol: String): DataFrame = {
    val s = col(startCol).cast("double")
    val e = col(endCol).cast("double")
    val iv = df.filter(s.isNotNull && e.isNotNull && e >= s)
      .select(col(keyCol).as("key"), s.as("s"), e.as("e"))
    val wPrev = Window.partitionBy("key").orderBy("s", "e")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy("key").orderBy("s", "e")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = iv
      .withColumn("__pmax", max("e").over(wPrev))
      .withColumn("__new",
        when(col("__pmax").isNull || col("s") > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum("__new").over(wCum))
    val islands = flagged.groupBy("key", "__isl").agg(
      count(lit(1)).as("__n"),
      min("s").as("__lo"), max("e").as("__hi"))
    val wIsl = Window.partitionBy("key").orderBy("__isl")
    val gapped = islands
      .withColumn("__gap", col("__lo") - lag("__hi", 1).over(wIsl))
    gapped.groupBy("key").agg(
      sum("__n").as("n_intervals"),
      count(lit(1)).as("n_islands"),
      round(sum(col("__hi") - col("__lo")), 6).as("covered_len"),
      round(max(col("__hi") - col("__lo")), 6).as("max_island_len"),
      round(max("__gap"), 6).as("max_gap_len"))
  }

  /** Open-order BACKLOG curve by calendar month: each header opens at
    * `startCol`'s month and closes after the month of its detail rows'
    * max `endCol` (sweep-line +1/-1 at month grain), so `open_orders`
    * for month m counts orders whose [order, last-ship] span covers m —
    * the operational backlog read (is fulfillment keeping up with
    * intake?) that an interval self-join would turn into an O(n x
    * months) blow-up.
    *
    * Scale shape: one map-combinable groupBy of the detail to per-key
    * max-end, one key equi-join to the header, then two groupBys onto
    * the MONTH grain — the cumulative window that integrates the
    * deltas orders a metadata-sized month frame (#distinct months),
    * never corpus rows. Headers with no detail rows drop (they never
    * opened a span). Returns (month, n_opened, n_closed, open_orders);
    * the final month always nets to zero. */
  def backlogByMonth(headers: DataFrame, detail: DataFrame,
                     headerKey: String, detailKey: String,
                     startCol: String, endCol: String): DataFrame = {
    val last = detail.groupBy(detailKey)
      .agg(max(to_date(col(endCol))).as("__last"))
    // ONE pass over the joined frame: each order emits a (+1 at start
    // month, -1 after end month) delta pair, so opens and closes come
    // from a single month-keyed aggregate — no second scan/join for
    // the close side, no outer join to re-align the two
    val merged = headers.join(last, col(headerKey) === col(detailKey))
      .select(explode(array(
        struct(trunc(to_date(col(startCol)), "month").as("month"),
          lit(1L).as("__d")),
        struct(add_months(trunc(col("__last"), "month"), 1).as("month"),
          lit(-1L).as("__d")))).as("__x"))
      .select(col("__x.month").as("month"), col("__x.__d").as("__d"))
      .groupBy("month")
      .agg(count(when(col("__d") === 1L, 1)).as("n_opened"),
        count(when(col("__d") === -1L, 1)).as("n_closed"))
    // months frame is metadata-sized — the unpartitioned cumulative
    // window sorts #distinct months rows, never corpus rows
    val w = Window.orderBy("month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged
      .withColumn("open_orders",
        sum(col("n_opened") - col("n_closed")).over(w))
      // ISO string month: engine- and tz-proof (DATE columns round-trip
      // as datetime64 through some clients), same sort order
      .select(date_format(col("month"), "yyyy-MM-dd").as("month"),
        col("n_opened"), col("n_closed"), col("open_orders"))
      .orderBy("month")
  }
}
