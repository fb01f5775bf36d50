package graft.operators

import graft.core.Lattice
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Batch event-stream analytics: sessionization, rolling time windows,
  * ordered funnels. The streaming forms live in
  * [[graft.streaming.Streaming]] (session_window + watermark); these are
  * their batch/backfill counterparts — the shapes an event warehouse
  * needs when replaying history instead of tailing a stream.
  *
  * Scale notes (100 TB of events): every operator here shuffles ONCE on
  * the entity key and works inside per-key sorted partitions (windows)
  * or per-key aggregates (funnel steps) — no self-joins over the event
  * table, no global windows, no driver state.
  */
object Events {

  private def ltzTs(df: DataFrame, tsCol: String): DataFrame =
    graft.core.Tables.ltzTs(df, tsCol)

  /** Gap-based sessionization: a new session starts when the entity is
    * idle longer than `gapSec`. Adds `session_idx` (0-based per entity,
    * ordered by time). One shuffle on `userCol`; the lag/cumsum pair is
    * partition-local. Ties at equal ts break by the tie columns given
    * (default none — equal-ts rows stay in one session anyway since
    * their gap is 0). */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
                 gapSec: Long): DataFrame = {
    val ev = ltzTs(events, tsCol)
    val w = Window.partitionBy(userCol).orderBy(col(tsCol).asc)
    val gap = unix_micros(col(tsCol)) - lag(unix_micros(col(tsCol)), 1).over(w)
    ev.withColumn("__new", when(gap.isNull || gap > gapSec * 1000000L, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
      .drop("__new")
  }

  /** Per-session rollup: event count, span seconds (long), value sum
    * (decimal-accumulated → double, order-independent — the engine's
    * standard cross-engine-stable sum).
    * (userCol, session_idx, n_events, duration_sec, value_sum). */
  def sessionStats(events: DataFrame, userCol: String, tsCol: String,
                   gapSec: Long, valueCol: String): DataFrame =
    sessionize(events, userCol, tsCol, gapSec)
      .groupBy(col(userCol), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        ((unix_micros(max(col(tsCol))) - unix_micros(min(col(tsCol)))) / lit(1000000L))
          .cast("long").as("duration_sec"),
        Lattice.centsSum(col(valueCol)).cast("double").as("value_sum"))

  /** Rolling time-window features: for every event, the count and sum of
    * `valueCol` over that entity's trailing `[ts − windowSec, ts]`
    * window (inclusive both ends; equal-ts rows are frame peers). A
    * RANGE window over epoch-micros — partition-local after the one
    * shuffle, never a self-join. */
  def rollingWindow(events: DataFrame, userCol: String, tsCol: String,
                    valueCol: String, windowSec: Long): DataFrame = {
    val ev = ltzTs(events, tsCol)
    val w = Window.partitionBy(userCol).orderBy(unix_micros(col(tsCol)))
      .rangeBetween(-windowSec * 1000000L, 0L)
    ev.withColumn("rolling_n", count(lit(1)).over(w))
      .withColumn("rolling_sum", sum(col(valueCol)).over(w))
  }

  /** Ordered funnel: per entity, the first time each step's event type
    * occurs STRICTLY AFTER the previous step's first occurrence;
    * `withinSec` (optional) additionally requires the whole journey to
    * fit in a window after step 1. Returns one row per step:
    * (step, step_name, n_users) with n_users monotonically non-increasing.
    *
    * k steps cost k entity-keyed aggregates + (k−1) entity-keyed joins —
    * each bounded by distinct-entity cardinality after the first
    * aggregate, never an event-table self-join. */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String],
             withinSec: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty)
    val ev = ltzTs(events, tsCol).select(col(userCol), col(tsCol), col(typeCol))
    val spark = events.sparkSession
    import spark.implicits._
    // step 1: first occurrence per user; each stage is persisted so the
    // per-step counts don't recompute the whole prefix chain (O(k²) scans)
    var reached = ev.filter(col(typeCol) === steps.head)
      .groupBy(userCol).agg(min(col(tsCol)).as("__t"))
      .withColumn("__t0", col("__t"))
      .persist()
    val stages = scala.collection.mutable.ArrayBuffer(reached)
    var out = Seq((1, steps.head, reached.count()))
    steps.zipWithIndex.drop(1).foreach { case (s, i) =>
      val horizon = withinSec.map(sec =>
        unix_micros(col(tsCol)) <= unix_micros(col("__t0")) + sec * 1000000L)
        .getOrElse(lit(true))
      reached = ev.filter(col(typeCol) === s)
        .join(reached.select(col(userCol), col("__t"), col("__t0")), Seq(userCol))
        .filter(col(tsCol) > col("__t") && horizon)
        .groupBy(userCol).agg(min(col(tsCol)).as("__t"), min(col("__t0")).as("__t0"))
        .persist()
      stages += reached
      out = out :+ ((i + 1, s, reached.count()))
    }
    stages.foreach(_.unpersist())
    out.toDF("step", "step_name", "n_users")
  }

  /** Regular-grid resampling with forward fill: one row per entity per
    * `stepSec` grid slot between that entity's first and last event
    * (grid aligned to slot-sized boundaries), carrying the most recent
    * observed value at-or-before the slot (`asof_*` NULL before the
    * first observation). The grid explode is per-entity metadata; the
    * fill is [[graft.views.Joins.asofJoin]] — one shuffle, no self-join.
    * `observations` must be unique per (entity, ts) — pre-aggregate. */
  def resampleFfill(observations: DataFrame, userCol: String, tsCol: String,
                    valueCol: String, stepSec: Long): DataFrame = {
    val obs = ltzTs(observations, tsCol)
    val step = stepSec * 1000000L
    // floor(), not cast: truncation-toward-zero would misalign the grid
    // one slot late for pre-1970 (negative-epoch) timestamps
    val grid = obs.groupBy(userCol)
      .agg(min(unix_micros(col(tsCol))).as("__lo"),
        max(unix_micros(col(tsCol))).as("__hi"))
      .select(col(userCol), explode(sequence(
        floor(col("__lo") / step) * step,
        floor(col("__hi") / step) * step,
        lit(step))).as("__gm"))
      .select(col(userCol), timestamp_micros(col("__gm")).as(tsCol))
    graft.views.Joins.asofJoin(grid, obs.select(col(userCol), col(tsCol), col(valueCol)),
      userCol, tsCol, payload = Seq(valueCol))
  }

  /** SCD2 interval build from an event log: keep only CHANGE points of
    * `stateCol` per entity (null-safe compare vs the previous event),
    * then close each interval at the next change
    * (`valid_from` = change ts, `valid_to` = next change ts, NULL =
    * still current). Two same-partitioning windows → one shuffle.
    * Equal-ts duplicates must be pre-deduped. */
  def scd2Intervals(events: DataFrame, keyCol: String, tsCol: String,
                    stateCol: String): DataFrame = {
    val ev = ltzTs(events, tsCol)
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol).asc)
    ev.select(col(keyCol), col(tsCol), col(stateCol))
      .withColumn("__prev", lag(col(stateCol), 1).over(w))
      .filter(!(col("__prev") <=> col(stateCol)))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(col(keyCol), col(stateCol), col("valid_from"), col("valid_to"))
  }

  /** Daily audience growth: events per day, NEW entities per day
    * (first-ever appearance) and the cumulative distinct-entity count —
    * the "how big is the user base over time" curve that a naive
    * per-day COUNT(DISTINCT) recomputes from scratch O(days) times.
    *
    * Two corpus passes, both map-combinable: groupBy(day) for volume
    * and groupBy(entity) for first-seen day; everything after (the
    * cumulative window) rides the #days calendar frame. Days with
    * traffic but no first-seen entities still appear with new = 0.
    * Returns (day, n_events, new_entities, cum_entities). */
  def cumulativeDistinct(events: DataFrame, userCol: String,
                         tsCol: String): DataFrame = {
    val ev = ltzTs(events, tsCol).select(col(userCol).as("__u"),
      to_date(col(tsCol)).as("day"))
    val perDay = ev.groupBy("day").agg(count(lit(1)).as("n_events"))
    val firstSeen = ev.groupBy("__u").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("__new"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay.join(firstSeen, Seq("day"), "left")
      .withColumn("new_entities", coalesce(col("__new"), lit(0L)))
      .withColumn("cum_entities", sum("new_entities").over(w))
      .select(col("day").cast("timestamp").as("day"), col("n_events"),
        col("new_entities"), col("cum_entities"))
  }

  /** Inter-event burstiness (Goh–Barabási 2008): per entity the gap
    * CV and B = (σ−μ)/(σ+μ) over inter-event seconds — B ≈ −1 is a
    * metronome, 0 a Poisson stream, → 1 extreme bursts. The SHAPE
    * companion to rate stats: two streams with identical rates can
    * have opposite B. Per-entity gaps ride one entity-keyed lag
    * window; per-entity B quantizes at 6dp and decimal-averages.
    * Entities need ≥ 3 events (≥ 2 gaps) to have a defined σ.
    * Returns one row: (n_entities, mean_b 6dp, p50_b 6dp,
    * share_bursty 6dp — B > 0). */
  def interEventBurstiness(events: DataFrame, userCol: String,
                           tsCol: String): DataFrame = {
    val ev = ltzTs(events, tsCol)
      .select(col(userCol).as("__u"), unix_micros(col(tsCol)).as("__t"))
    val w = Window.partitionBy("__u").orderBy("__t")
    val gaps = ev
      .withColumn("__g",
        (col("__t") - lag("__t", 1).over(w)) / lit(1000000.0))
      .filter(col("__g").isNotNull)
    val per = gaps.groupBy("__u")
      .agg(count(lit(1)).as("__n"), avg("__g").as("__m"),
        stddev_pop("__g").as("__s"))
      .filter(col("__n") >= 2 && (col("__m") + col("__s")) > 0)
      .select(round((col("__s") - col("__m")) /
        (col("__s") + col("__m")), 6).as("__b"))
    per.agg(count(lit(1)).as("n_entities"),
      round(sum(col("__b").cast(DecimalType(28, 6))).cast("double") /
        count(lit(1)), 6).as("mean_b"),
      round(element_at(graft.functions.ExactPercentiles
        .exactPercentiles(col("__b"), Seq(0.5)), 1), 6).as("p50_b"),
      round(sum((col("__b") > 0).cast("long")).cast("double") /
        count(lit(1)), 6).as("share_bursty"))
  }

  /** Reorder-gap profile: per-entity gaps between consecutive order
    * dates (integer days via an entity-keyed lag), summarized to
    * type-1 percentiles with integer-lattice thresholds (4·cum ≥ N —
    * no interpolation, the weightedQuantiles convention) — "how often
    * do customers come back", the replenishment read-out behind
    * reorder reminders and churn windows. Returns one row:
    * (n_entities, n_gaps, p25_days, p50_days, p75_days, p90_days). */
  def reorderGaps(df: DataFrame, entityCol: String,
                  dateCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(entityCol).orderBy(col(dateCol))
    val gaps = df.filter(col(dateCol).isNotNull)
      .withColumn("__gap",
        datediff(col(dateCol), lag(col(dateCol), 1).over(w))
          .cast("long"))
      .filter(col("__gap").isNotNull)
      .select(col(entityCol).as("__e"), col("__gap"))
    val nEnt = gaps.select("__e").distinct().count()
    val cells = gaps.groupBy("__gap").agg(count(lit(1)).as("__c"))
    val wc = Window.orderBy("__gap")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells.withColumn("__cum", sum("__c").over(wc))
    val tot = cells.agg(sum("__c").as("__n"))
    cum.crossJoin(broadcast(tot))
      .agg(first("__n").as("n_gaps"),
        min(when(col("__cum") * 4 >= col("__n"), col("__gap")))
          .as("p25_days"),
        min(when(col("__cum") * 2 >= col("__n"), col("__gap")))
          .as("p50_days"),
        min(when(col("__cum") * 4 >= col("__n") * 3, col("__gap")))
          .as("p75_days"),
        min(when(col("__cum") * 10 >= col("__n") * 9, col("__gap")))
          .as("p90_days"))
      .select(lit(nEnt).as("n_entities"), col("n_gaps"),
        col("p25_days"), col("p50_days"), col("p75_days"),
        col("p90_days"))
  }

  /** Inter-event latency percentiles PER TYPE: entity-keyed lag gaps
    * in whole seconds, then type-1 p50/p90/p99 with integer-lattice
    * thresholds, partitioned by event type — the ops-latency table
    * (q212 gives one mean; this gives the tail that pages people).
    * Returns (event_type, n_gaps, p50_s, p90_s, p99_s) ordered. */
  def latencyPercentiles(df: DataFrame, entityCol: String,
                         tsCol: String, typeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.core.Tables.ltzTs(df, tsCol)
    val w = Window.partitionBy(entityCol, typeCol)
      .orderBy(unix_micros(col(tsCol)))
    val gaps = ev
      .withColumn("__gap",
        ((unix_micros(col(tsCol)) -
          lag(unix_micros(col(tsCol)), 1).over(w)) / 1000000L)
          .cast("long"))
      .filter(col("__gap").isNotNull)
      .select(col(typeCol).as("event_type"), col("__gap"))
    val cells = gaps.groupBy("event_type", "__gap")
      .agg(count(lit(1)).as("__c"))
    val wc = Window.partitionBy("event_type").orderBy("__gap")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy("event_type")
    cells
      .withColumn("__cum", sum("__c").over(wc))
      .withColumn("__n", sum("__c").over(wt))
      .groupBy("event_type")
      .agg(first("__n").as("n_gaps"),
        min(when(col("__cum") * 2 >= col("__n"), col("__gap")))
          .as("p50_s"),
        min(when(col("__cum") * 10 >= col("__n") * 9, col("__gap")))
          .as("p90_s"),
        min(when(col("__cum") * 100 >= col("__n") * 99, col("__gap")))
          .as("p99_s"))
      .orderBy("event_type")
  }
}
