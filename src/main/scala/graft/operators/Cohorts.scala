package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cohort retention analysis: group users by the week of their FIRST
  * event (the cohort), then count how many of each cohort are active
  * 0, 1, 2, … weeks later — the classic product-analytics retention
  * triangle.
  *
  * Scale shape: one user-keyed aggregate for cohort assignment, one
  * (user, week)-distinct aggregate for activity, one user-keyed equi
  * join between them, and a final metadata-sized groupBy — corpus
  * touched twice, both times collapsing to user cardinality. No
  * windows, no self-join of the raw event table.
  */
object Cohorts {

  /** (cohort_week, week_offset, n_active) — distinct users from the
    * cohort active in that offset week. week 0 row = cohort size.
    */
  def retention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val ev = graft.core.Tables.ltzTs(events, tsCol)
      .select(col(userCol).as("__u"),
        date_trunc("week", col(tsCol)).as("__wk"))
    val cohorts = ev.groupBy("__u").agg(min(col("__wk")).as("cohort_week"))
    val active = ev.distinct()
    active.join(cohorts, Seq("__u"))
      .groupBy(col("cohort_week"),
        (datediff(col("__wk"), col("cohort_week")) / 7).cast("int")
          .as("week_offset"))
      .agg(countDistinct(col("__u")).as("n_active"))
  }

  /** Retention half-life per cohort: fit ln(retention rate) ~ offset
    * by OLS over offsets ≥ 1 (exponential-decay model) and report
    * half-life = ln2/(−slope) — the single number that compares
    * cohorts ("newer cohorts churn twice as fast") where the q164
    * triangle needs a chart. Cohorts need ≥ `minWeeks` positive
    * offsets and a negative slope for a finite half-life (else null).
    *
    * Scale shape: everything after [[retention]]'s user-cardinality
    * collapse is metadata — the fit is one groupBy over the
    * (cohort, offset) frame. Returns per cohort: (cohort_week,
    * n_weeks, slope 6dp, half_life_weeks 6dp). */
  def retentionHalfLife(events: DataFrame, userCol: String, tsCol: String,
                        minWeeks: Int = 3): DataFrame = {
    val r = retention(events, userCol, tsCol)
    val base = r.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_active").as("__n0"))
    val pts = r.join(base, Seq("cohort_week"))
      .filter(col("week_offset") >= 1 && col("n_active") > 0)
      .select(col("cohort_week"),
        col("week_offset").cast("double").as("__x"),
        log(col("n_active").cast("double") / col("__n0")).as("__y"))
    val g = pts.groupBy("cohort_week")
      .agg(count(lit(1)).as("n_weeks"),
        sum("__x").as("__sx"), sum("__y").as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__x") * col("__y")).as("__sxy"))
      .filter(col("n_weeks") >= minWeeks)
    val n = col("n_weeks").cast("double")
    val slope = (col("__sxy") - col("__sx") * col("__sy") / n) /
      (col("__sxx") - col("__sx") * col("__sx") / n)
    g.select(col("cohort_week").cast("timestamp").as("cohort_week"),
      col("n_weeks"), round(slope, 6).as("slope"),
      round(when(slope < 0, lit(math.log(2.0)) / -slope), 6)
        .as("half_life_weeks"))
      .orderBy("cohort_week")
  }

  /** Cold-start rate per segment after a split date: the share of
    * post-split active entities that were NEVER seen before the split
    * — the train/serve hygiene number (a recommender trained pre-split
    * has no history for exactly these users) that pairs with q106
    * contamination and q305 leakage from the opposite direction.
    * Two integer aggregates + one anti-join-shaped left join on the
    * entity key. Returns (segment, n_active, n_new, cold_rate 6dp). */
  def coldStartRate(events: DataFrame, entityCol: String,
                    segmentCol: String, tsCol: String,
                    split: java.sql.Timestamp): DataFrame = {
    val ev = graft.core.Tables.ltzTs(events, tsCol)
    val pre = ev.filter(col(tsCol) < lit(split))
      .select(col(entityCol).as("__e")).distinct()
      .withColumn("__seen", lit(1))
    val post = ev.filter(col(tsCol) >= lit(split))
      .select(col(entityCol).as("__e"),
        col(segmentCol).as("segment")).distinct()
    post.join(pre, Seq("__e"), "left")
      .groupBy("segment")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_new"))
      .withColumn("cold_rate",
        round(col("n_new").cast("double") / col("n_active"), 6))
      .orderBy("segment")
  }

  /** Cohort LTV curve: users cohort by FIRST-event week (integer
    * epoch-week index — exact long math, no locale week rules), and
    * each cohort accumulates value across week offsets — the
    * value-weighted retention triangle ("how much is a week-w cohort
    * worth by week w+k"), the revenue companion to the q164 count
    * triangle. Exact decimal value sums; the cumulative LTV window
    * rides the (cohort, offset) frame. Missing offsets (no activity)
    * simply don't emit a row; the cumulative carries across gaps.
    * Returns (cohort_week, week_offset, n_cohort, n_active,
    * value 6dp, cum_ltv 6dp). */
  def cohortLtv(events: DataFrame, userCol: String, tsCol: String,
                valueCol: String, maxOffset: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val ev = graft.core.Tables.ltzTs(events, tsCol)
      .filter(col(valueCol).isNotNull)
      .select(col(userCol).as("__u"),
        (datediff(to_date(col(tsCol)), lit("1970-01-01").cast("date"))
          .cast("long") / 7).cast("long").as("__w"),
        col(valueCol).cast(DecimalType(18, 2)).as("__v"))
    val firstW = ev.groupBy("__u").agg(min("__w").as("__cw"))
    val sizes = firstW.groupBy("__cw").agg(count(lit(1)).as("n_cohort"))
    val cellsBase = ev.join(firstW, Seq("__u"))
      .withColumn("__off", col("__w") - col("__cw"))
      .filter(col("__off") <= maxOffset)
    val cells = cellsBase.groupBy("__cw", "__off")
      .agg(countDistinct("__u").as("n_active"), sum("__v").as("__val"))
    val w = Window.partitionBy("__cw").orderBy("__off")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("__cum", sum("__val").over(w))
      .join(sizes, Seq("__cw"))
      .select(col("__cw").as("cohort_week"),
        col("__off").as("week_offset"), col("n_cohort"),
        col("n_active"),
        round(col("__val").cast("double"), 6).as("value"),
        round(col("__cum").cast("double") /
          col("n_cohort").cast("double"), 6).as("cum_ltv"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Daily GROWTH ACCOUNTING: decompose each day's active-user count
    * into new (first day ever), retained (active the previous day) and
    * resurrected (back after a gap), plus the churned count (active
    * the previous day, absent today) — the DAU ledger where
    * new + resurrected − churned must equal the day-over-day active
    * delta. Churn events past the last observed day are clipped.
    *
    * Scale shape: events collapse to DISTINCT (user, day) cells first;
    * the lag/lead windows partition BY USER over those cells (a few
    * rows per user — no global sort); the ledger itself is a
    * metadata-sized day frame. Returns (day ISO string, n_active,
    * n_new, n_retained, n_resurrected, n_churned) ordered by day. */
  def growthAccounting(events: DataFrame, userCol: String,
                       tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.core.Tables.ltzTs(events, tsCol)
    val cells = ev.select(col(userCol).as("__u"),
      to_date(col(tsCol)).as("__d")).distinct()
    val w = Window.partitionBy("__u").orderBy("__d")
    val lagd = cells
      .withColumn("__prev", lag("__d", 1).over(w))
      .withColumn("__next", lead("__d", 1).over(w))
    val active = lagd.groupBy(col("__d").as("day"))
      .agg(count(lit(1)).as("n_active"),
        count(when(col("__prev").isNull, 1)).as("n_new"),
        count(when(datediff(col("__d"), col("__prev")) === 1, 1))
          .as("n_retained"),
        count(when(col("__prev").isNotNull &&
          datediff(col("__d"), col("__prev")) > 1, 1))
          .as("n_resurrected"))
    val churn = lagd
      .filter(col("__next").isNull ||
        datediff(col("__next"), col("__d")) > 1)
      .select(date_add(col("__d"), 1).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_churned"))
    val maxd = cells.agg(max("__d").as("__mx"))
    active.join(churn, Seq("day"), "full")
      .crossJoin(maxd)
      .filter(col("day") <= col("__mx"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("day")
  }

  /** Monthly stickiness — the DAU/MAU engagement ratio: how much of
    * the month's audience shows up on an average day. Definitionally
    * stickiness = mean(DAU)/MAU = user_days / (n_days · MAU); both
    * divisions run once over exact integer counts, so the read is
    * bit-exact cross-engine. Complements [[growthAccounting]] (flow)
    * with the intensity read (stock usage depth).
    *
    * Scale shape: one distinct over (month, day, user) — a single
    * corpus-scale shuffle with map-side partial dedup — then one
    * month-grain aggregate (two count-distincts expand to the usual
    * Expand plan over month-sized cells). Returns (month, n_days, mau,
    * user_days, avg_dau 6dp, stickiness 6dp). */
  def stickiness(events: DataFrame, userCol: String,
                 tsCol: String): DataFrame = {
    val ev = graft.core.Tables.ltzTs(events, tsCol)
    ev.select(
        date_format(date_trunc("month", col(tsCol)), "yyyy-MM-01")
          .as("month"),
        to_date(col(tsCol)).as("__day"),
        col(userCol).as("__u"))
      .distinct()
      .groupBy("month")
      .agg(countDistinct(col("__day")).as("n_days"),
        countDistinct(col("__u")).as("mau"),
        count(lit(1)).as("user_days"))
      .withColumn("avg_dau",
        round(col("user_days").cast("double") / col("n_days"), 6))
      .withColumn("stickiness",
        round(col("user_days").cast("double") /
          (col("n_days") * col("mau")), 6))
      .orderBy("month")
  }
}
