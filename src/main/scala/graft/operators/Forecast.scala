package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Checkpoints, Lattice, Tables}

/** Time-series diagnostics over an event stream, computed on the
  * DAILY-AGGREGATED series (the reference's monitoring layer reads
  * day-granularity endpoint metrics — see
  * src/workbench/web_interface/components/plugins/dashboard widgets;
  * here the day rollup is the contract, not an approximation).
  *
  * Scale shape, shared by every operator here: ONE map-side-combined
  * groupBy(day) collapses the raw events (100 TB of rows) to a
  * #days-cardinality series — METADATA — and every window below runs
  * over that bounded frame. The unpartitioned windows are therefore
  * bounded by calendar length, never by data volume (the same
  * "window over the totals frame" argument as the rank kernel's
  * offset window).
  */
object Forecast {

  /** groupBy(day) rollup: (day, n, total, mean). Decimal sum keeps the
    * cross-engine/fold-order totals exact. */
  private def daily(events: DataFrame, tsCol: String, valueCol: String): DataFrame =
    Tables.ltzTs(events, tsCol)
      .filter(col(valueCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"),
        Lattice.centsSum(col(valueCol)).as("__t"))
      .select(col("day"), col("n"),
        col("__t").cast("double").as("total"),
        (col("__t").cast("double") / col("n")).as("mean"))

  /** Sample autocorrelation of the daily TOTAL at lags 1..maxLag
    * (correlogram form: centered on the global series mean, normalized
    * by the global sum of squares — the classic stat, not a per-lag
    * Pearson). Missing calendar days simply don't pair (lag is by row
    * offset on the observed series, standard for gapless synthetic
    * feeds). Returns (lag, n_pairs, acf). */
  def acf(events: DataFrame, tsCol: String, valueCol: String,
          maxLag: Int = 7): DataFrame = {
    val d = daily(events, tsCol, valueCol)
    val w = Window.orderBy("day")
    val m = d.agg(avg("total").as("__m"),
      sum(col("total") * col("total")).as("__ss"),
      sum("total").as("__s"), count(lit(1)).as("__n"))
    // all lag columns in ONE window pass, then explode to (lag, x, xk)
    // rows and aggregate every lag in ONE job — not maxLag jobs each
    // re-running the day rollup
    val lagged = d.select(
      col("total").as("x") +: (1 to maxLag).map(k =>
        lag("total", k).over(w).as(s"x_$k")): _*)
    lagged.crossJoin(m)
      .select(col("x"), col("__m"), col("__ss"), col("__n"),
        explode(array((1 to maxLag).map(k =>
          struct(lit(k).as("lag"), col(s"x_$k").as("xk"))): _*)).as("p"))
      .groupBy(col("p.lag").as("lag"))
      .agg(
        count(col("p.xk")).as("n_pairs"),
        round(try_divide(
          sum((col("x") - col("__m")) * (col("p.xk") - col("__m"))),
          first(col("__ss") - col("__n") * col("__m") * col("__m"))), 6)
          .as("acf"))
  }

  /** CUSUM change-point scan over the daily MEAN: cumulative sum of
    * deviations from the global series mean; the day where |cusum|
    * peaks is the estimated shift point (Page's statistic in its
    * offline scan form). Returns the full diagnostic series
    * (day, mean, cusum, is_peak). */
  /** Trailing Pearson correlation between the daily event COUNT and
    * the daily MEAN value over a `windowDays`-row trailing frame — the
    * volume-vs-intensity co-movement monitor (does value move with
    * traffic?). All five running sums ride ONE ordered window over the
    * day frame (metadata-sized by the [[daily]] collapse, the
    * weeklyReport argument); corr is the closed moment form with a
    * GREATEST(0) clamp under the sqrt so float cancellation can't go
    * negative. Rows before a full window emit the partial-window corr
    * (standard trailing-stat convention). Returns
    * (day, n_days, x, y, corr 6dp). */
  def rollingCorrelation(events: DataFrame, tsCol: String, valueCol: String,
                         windowDays: Int = 7): DataFrame = {
    require(windowDays >= 2)
    val d = daily(events, tsCol, valueCol)
      .select(col("day"), col("n").cast("double").as("x"), col("mean").as("y"))
    val w = Window.orderBy("day").rowsBetween(-(windowDays - 1), 0)
    d.select(col("day"),
        count(lit(1)).over(w).as("n_days"),
        col("x"), col("y"),
        sum("x").over(w).as("__sx"), sum("y").over(w).as("__sy"),
        sum(col("x") * col("x")).over(w).as("__sxx"),
        sum(col("y") * col("y")).over(w).as("__syy"),
        sum(col("x") * col("y")).over(w).as("__sxy"))
      // day → timestamp on output: pandas reads a parquet DATE as a
      // python date object while the DuckDB oracle yields datetime64 —
      // the repo-wide day-column convention (seasonalDecompose etc.)
      .select(col("day").cast("timestamp").as("day"),
        col("n_days"), col("x"), col("y"),
        round(try_divide(
          col("n_days") * col("__sxy") - col("__sx") * col("__sy"),
          sqrt(greatest(lit(0.0),
              col("n_days") * col("__sxx") - col("__sx") * col("__sx")) *
            greatest(lit(0.0),
              col("n_days") * col("__syy") - col("__sy") * col("__sy")))), 6)
          .as("corr"))
  }

  def cusumChangepoint(events: DataFrame, tsCol: String,
                       valueCol: String): DataFrame = {
    val d = daily(events, tsCol, valueCol)
    val g = d.agg(avg("mean").as("__gm"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCusum = d.crossJoin(g)
      .withColumn("cusum", round(sum(col("mean") - col("__gm")).over(w), 6))
    val peak = withCusum.agg(max(abs(col("cusum"))).as("__pk"))
    withCusum.crossJoin(peak)
      // timestamp, not date: the repo-wide convention for comparable
      // calendar columns (pandas reads parquet DATE as object)
      .select(col("day").cast("timestamp").as("day"),
        round(col("mean"), 6).as("mean"), col("cusum"),
        (abs(col("cusum")) === col("__pk")).as("is_peak"))
  }

  /** Seasonal-naive forecast evaluation: forecast(t) = total(t−season),
    * benchmarked against the 1-step naive total(t−1) — MASE is the
    * ratio of their MAEs over the days where BOTH are defined (so the
    * two error means are over the same support and the ratio is a fair
    * scale-free skill score). Returns one row:
    * (n_eval, mae_seasonal, mae_naive, mase). */
  def seasonalNaiveEval(events: DataFrame, tsCol: String, valueCol: String,
                        season: Int = 7): DataFrame = {
    val d = daily(events, tsCol, valueCol)
    val w = Window.orderBy("day")
    d.select(col("total"),
        lag("total", season).over(w).as("__fs"),
        lag("total", 1).over(w).as("__f1"))
      .filter(col("__fs").isNotNull && col("__f1").isNotNull)
      .agg(count(lit(1)).as("n_eval"),
        round(avg(abs(col("total") - col("__fs"))), 6).as("mae_seasonal"),
        round(avg(abs(col("total") - col("__f1"))), 6).as("mae_naive"),
        round(try_divide(avg(abs(col("total") - col("__fs"))),
          avg(abs(col("total") - col("__f1")))), 6).as("mase"))
  }

  /** Additive seasonal decomposition of the daily MEAN:
    * trend = centered 7-day moving average (only where the full window
    * exists — edges stay null, the statsmodels convention), seasonal =
    * per-day-of-week mean of the detrended series, residual = the
    * rest. All windows run over the calendar-bounded day table; the
    * seasonal component is a 7-row aggregate joined back. Returns
    * (day, mean, trend, seasonal, residual). */
  def seasonalDecompose(events: DataFrame, tsCol: String,
                        valueCol: String): DataFrame = Checkpoints.scoped {
    val d = daily(events, tsCol, valueCol)
      .select(col("day"), col("mean"), dayofweek(col("day")).as("__dow"))
    val w = Window.orderBy("day").rowsBetween(-3, 3)
    val trended = Checkpoints.local(d
      .withColumn("__trend",
        when(count(lit(1)).over(w) === 7, avg("mean").over(w)))
      .withColumn("__detr", col("mean") - col("__trend")))
    val seasonal = trended.filter(col("__detr").isNotNull)
      .groupBy("__dow").agg(avg("__detr").as("__seas"))
    Checkpoints.local(trended.join(broadcast(seasonal), Seq("__dow"), "left")
      .select(col("day").cast("timestamp").as("day"),
        round(col("mean"), 6).as("mean"),
        round(col("__trend"), 6).as("trend"),
        round(col("__seas"), 6).as("seasonal"),
        round(col("mean") - col("__trend") - col("__seas"), 6)
          .as("residual")))
  }

  /** Trend and seasonality STRENGTH (Hyndman's feasts measures):
    * F_T = max(0, 1 − var(residual)/var(trend + residual)) and
    * F_S = max(0, 1 − var(residual)/var(seasonal + residual)) over the
    * [[seasonalDecompose]] frame — the pair of 0..1 numbers that say
    * whether a series is trend-dominated, seasonal, or noise, without
    * reading the decomposition chart. Rows with a null trend (the MA
    * edges) are excluded, as in the source definition.
    *
    * Scale shape: one aggregate over the decomposition's day frame
    * (metadata). Returns one row:
    * (n_days, trend_strength 6dp, seasonal_strength 6dp). */
  def seasonalityStrength(events: DataFrame, tsCol: String,
                          valueCol: String): DataFrame = {
    val dec = seasonalDecompose(events, tsCol, valueCol)
      .filter(col("trend").isNotNull && col("seasonal").isNotNull)
    dec.agg(count(lit(1)).as("n_days"),
        var_samp(col("residual")).as("__vr"),
        var_samp(col("trend") + col("residual")).as("__vtr"),
        var_samp(col("seasonal") + col("residual")).as("__vsr"))
      .select(col("n_days"),
        round(when(col("__vtr") > 0, greatest(lit(0.0),
          lit(1.0) - col("__vr") / col("__vtr"))), 6)
          .as("trend_strength"),
        round(when(col("__vsr") > 0, greatest(lit(0.0),
          lit(1.0) - col("__vr") / col("__vsr"))), 6)
          .as("seasonal_strength"))
  }

  /** Sequential probability ratio test (Wald SPRT) trace over daily
    * conversion counts: per day the binomial log-likelihood-ratio
    * increment for H1: p = p1 vs H0: p = p0, its running total, and
    * the boundary decision at error rates α = β = 0.05 (accept H1
    * above ln(19), accept H0 below −ln(19), else continue). The A/B
    * monitor that stops early instead of waiting for a fixed horizon.
    * One day rollup + one cumulative window over the day table.
    * Returns (day, trials, successes, llr, cum_llr, decision). */
  def sprtTrace(events: DataFrame, tsCol: String, typeCol: String,
                successType: String, p0: Double, p1: Double): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p1 != p0)
    val upper = math.log(19.0)
    val d = Tables.ltzTs(events, tsCol)
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("trials"),
        sum(when(col(typeCol) === successType, 1L).otherwise(0L))
          .as("successes"))
    val llr = col("successes") * math.log(p1 / p0) +
      (col("trials") - col("successes")) * math.log((1 - p1) / (1 - p0))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("llr", round(llr, 6))
      .withColumn("cum_llr", round(sum(llr).over(w), 6))
      .select(col("day").cast("timestamp").as("day"), col("trials"),
        col("successes"), col("llr"), col("cum_llr"),
        when(col("cum_llr") > upper, "accept_h1")
          .when(col("cum_llr") < -upper, "accept_h0")
          .otherwise("continue").as("decision"))
  }

  /** EWMA smoothing of the daily total (pandas `ewm(adjust=True)`
    * semantics: ewma_t = Σⱼ≤t (1−α)^(t−j) x_j / Σⱼ≤t (1−α)^(t−j)).
    * Computed as an explicit prior-day pair join on the
    * calendar-bounded series — the closed form, not the recurrence, so
    * it is exactly reproducible in ANSI SQL and trivially parallel; the
    * #days² pair fan-out is metadata (the Theil-Sen argument). The
    * recurrence form would serialize; the (1−α)^(−j) power trick
    * overflows past a few hundred days. Returns
    * (day, total, ewma). */
  def ewma(events: DataFrame, tsCol: String, valueCol: String,
           alpha: Double = 0.3): DataFrame = Checkpoints.scoped {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    val d = Checkpoints.local(daily(events, tsCol, valueCol)
      .select(col("day"), col("total"),
        row_number().over(Window.orderBy("day")).as("__rn")))
    val prior = d.select(col("__rn").as("__rj"), col("total").as("__xj"))
    Checkpoints.local(d.join(prior, col("__rj") <= col("__rn"))
      .groupBy(col("day"), col("total"))
      .agg((sum(pow(lit(1.0 - alpha), col("__rn") - col("__rj")) * col("__xj")) /
        sum(pow(lit(1.0 - alpha), col("__rn") - col("__rj")))).as("__e"))
      .select(col("day").cast("timestamp").as("day"), col("total"),
        round(col("__e"), 6).as("ewma")))
  }

  /** Holt linear-trend (double exponential) smoothing of the daily
    * total: level_t = α·y_t + (1−α)(level_{t−1} + trend_{t−1}),
    * trend_t = β(level_t − level_{t−1}) + (1−β)·trend_{t−1}, with the
    * textbook init level₁ = y₁, trend₁ = y₂ − y₁. Unlike EWMA there is
    * no stable closed form (the two recursions are coupled), so the
    * fold runs serially over ONE sorted partition of the per-day
    * frame — calendar-bounded metadata (the Theil-Sen argument), while
    * the data-sized work stays in the distributed daily() rollup.
    * Dyadic defaults (α = 0.5, β = 0.25) keep every multiply exact-ly
    * reproducible across engines. Returns (day, total, level, trend,
    * forecast, resid) where forecast is the one-step-ahead prediction
    * level_{t−1} + trend_{t−1} (null on the first two days). */
  def holtLinear(events: DataFrame, tsCol: String, valueCol: String,
                 alpha: Double = 0.5, beta: Double = 0.25): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1)
    val spark = events.sparkSession
    import spark.implicits._
    val d = daily(events, tsCol, valueCol)
      .select(col("day").cast("string"), col("total"))
      .as[(String, Double)]
    val out = d.repartition(1).sortWithinPartitions("day")
      .mapPartitions { it =>
        var level = 0.0; var trend = 0.0; var t = 0
        it.map { case (day, y) =>
          t += 1
          val fc = if (t <= 2) Double.NaN else level + trend
          if (t == 1) { level = y; trend = 0.0 }
          else if (t == 2) { trend = y - level; level = y }
          else {
            val prev = level
            level = alpha * y + (1.0 - alpha) * (level + trend)
            trend = beta * (level - prev) + (1.0 - beta) * trend
          }
          (day, y, level, trend, fc, y - fc)
        }
      }
      .toDF("day", "total", "level", "trend", "forecast", "resid")
    out.select(col("day").cast("timestamp").as("day"), col("total"),
      round(col("level"), 6).as("level"), round(col("trend"), 6).as("trend"),
      when(isnan(col("forecast")), lit(null).cast("double"))
        .otherwise(round(col("forecast"), 6)).as("forecast"),
      when(isnan(col("resid")), lit(null).cast("double"))
        .otherwise(round(col("resid"), 6)).as("resid"))
  }

  /** Additive Holt-Winters (triple exponential) smoothing of the daily
    * total with season length `season`: the seasonal extension of
    * [[holtLinear]]. Textbook init at t = season: level = mean of the
    * first season, trend = (Σ second season − Σ first season)/season²,
    * sᵢ = yᵢ − level; then for t > season
    *   forecast_t = L + T + s_{t−m},
    *   L_t = α(y_t − s_{t−m}) + (1−α)(L + T),
    *   T_t = β(L_t − L) + (1−β)T,
    *   s_t = γ(y_t − L_t) + (1−γ)s_{t−m}.
    * Dyadic defaults keep every multiply exactly reproducible across
    * engines. Like holtLinear the coupled recursion has no stable
    * closed form, so it folds serially over the calendar-bounded day
    * frame (materialized per-partition — #days rows, metadata) while
    * the data-sized rollup stays distributed. Emits the recursion
    * region only (t > season); a series shorter than two seasons
    * yields no rows (the init is undefined). Returns
    * (day, total, level, trend, seasonal, forecast, resid) 6dp. */
  def holtWinters(events: DataFrame, tsCol: String, valueCol: String,
                  season: Int = 7, alpha: Double = 0.25,
                  beta: Double = 0.125, gamma: Double = 0.25): DataFrame = {
    require(season >= 2, s"season must be >= 2, got $season")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1 &&
      gamma > 0 && gamma < 1)
    val m = season
    val spark = events.sparkSession
    import spark.implicits._
    val d = daily(events, tsCol, valueCol)
      .select(col("day").cast("string"), col("total"))
      .as[(String, Double)]
    val out = d.repartition(1).sortWithinPartitions("day")
      .mapPartitions { it =>
        val arr = it.toArray // calendar-bounded: #days rows
        if (arr.length < 2 * m) Iterator.empty
        else {
          // ascending left folds — the same order DuckDB's single-
          // threaded small-CTE SUM scans; residual 1e-16 divergence is
          // absorbed by the contracting recursion + 6dp round
          val sum1 = arr.take(m).map(_._2).sum
          val sum2 = arr.slice(m, 2 * m).map(_._2).sum
          var lvl = sum1 / m
          var trd = (sum2 - sum1) / (m.toDouble * m)
          val seas = Array.tabulate(m)(i => arr(i)._2 - lvl)
          Iterator.range(m, arr.length).map { i =>
            val (day, y) = arr(i)
            val sOld = seas(i % m)
            val fc = lvl + trd + sOld
            val newLvl = alpha * (y - sOld) + (1.0 - alpha) * (lvl + trd)
            val newTrd = beta * (newLvl - lvl) + (1.0 - beta) * trd
            val newSeas = gamma * (y - newLvl) + (1.0 - gamma) * sOld
            seas(i % m) = newSeas; lvl = newLvl; trd = newTrd
            (day, y, newLvl, newTrd, newSeas, fc, y - fc)
          }
        }
      }
      .toDF("day", "total", "level", "trend", "seasonal", "forecast",
        "resid")
    out.select(col("day").cast("timestamp").as("day"), col("total"),
      round(col("level"), 6).as("level"), round(col("trend"), 6).as("trend"),
      round(col("seasonal"), 6).as("seasonal"),
      round(col("forecast"), 6).as("forecast"),
      round(col("resid"), 6).as("resid"))
  }

  /** Theil-Sen robust trend of the daily total: the median of all
    * pairwise slopes (day pairs i<j), plus the median-residual
    * intercept. Pair fan-out is #days² — calendar-bounded metadata, not
    * data. Exact interpolating percentile on both engines. Returns one
    * row: (n_days, n_pairs, slope_per_day, intercept). */
  def theilSen(events: DataFrame, tsCol: String, valueCol: String): DataFrame = Checkpoints.scoped {
    val d = Checkpoints.local(daily(events, tsCol, valueCol)
      .select(datediff(col("day"), lit("1970-01-01")).cast("double").as("x"),
        col("total").as("y")))
    val slopes = d.as("p1").join(d.as("p2"), col("p1.x") < col("p2.x"))
      .select(((col("p2.y") - col("p1.y")) /
        (col("p2.x") - col("p1.x"))).as("s"))
    val slope = slopes.agg(count(lit(1)).as("n_pairs"),
      percentile(col("s"), lit(0.5)).as("__sl"))
    Checkpoints.local(d.crossJoin(slope)
      .agg(count(lit(1)).as("n_days"), first("n_pairs").as("n_pairs"),
        round(first("__sl"), 6).as("slope_per_day"),
        round(percentile(col("y") - col("__sl") * col("x"), lit(0.5)), 6)
          .as("intercept")))
  }

  /** Schuster periodogram of the daily total at harmonics k = 1..maxK:
    * spectral power share
    *   P_k = 2·(C_k² + S_k²) / (N·Σc²),  C_k = Σ c_t·cos(2πkt/N),
    * with c_t the mean-centered series — P_k = 1 for a pure sinusoid
    * at harmonic k, so the spectrum reads as fraction-of-variance per
    * frequency. The frequency-domain twin of [[acf]]: a weekly cycle
    * shows as a peak where period_days ≈ 7.
    *
    * Scale shape: the corpus collapses to the calendar-bounded daily
    * frame (decimal-exact totals) first; the t-index window and the
    * daily × maxK fan-out both ride that metadata-sized frame. Returns
    * (k, period_days 6dp, power 6dp). */
  def periodogram(events: DataFrame, tsCol: String, valueCol: String,
                  maxK: Int = 10): DataFrame = {
    require(maxK >= 1, "need at least one harmonic")
    val d = daily(events, tsCol, valueCol)
    val idx = d.select(col("day"), col("total"))
      .withColumn("__t", row_number().over(Window.orderBy("day")) - 1)
    val stats = idx.agg(count(lit(1)).as("__N"), avg("total").as("__mu"))
    val withK = idx.crossJoin(stats)
      .withColumn("k", explode(sequence(lit(1), lit(maxK))))
    val ang = lit(2.0 * math.Pi) * col("k").cast("double") *
      col("__t") / col("__N")
    val cent = col("total") - col("__mu")
    val g = withK.groupBy("k").agg(
      sum(cent * cos(ang)).as("__c"),
      sum(cent * sin(ang)).as("__s"),
      sum(cent * cent).as("__ss"),
      max("__N").as("__N"))
    g.select(col("k"),
        round(col("__N").cast("double") / col("k"), 6).as("period_days"),
        round(when(col("__ss") > 0,
          (col("__c") * col("__c") + col("__s") * col("__s")) * 2.0 /
            (col("__N") * col("__ss"))), 6).as("power"))
  }

  /** Cross-correlogram between TWO daily metrics of the same stream at
    * lags −maxLag..maxLag: r_k = Σ(x_t−x̄)(y_{t+k}−ȳ) / √(Sxx·Syy)
    * with the classic full-series normalization ([[acf]]'s convention
    * applied across series) — "does y lead or lag x, and by how many
    * days?". A peak at k>0 means x moves first.
    *
    * Both metrics are daily decimal SUMs of caller expressions over
    * the SAME groupBy(day) pass (null sums coalesce to 0 so both
    * series share one calendar), so the corpus collapses once; every
    * lag column comes out of ONE ordered window pass and aggregates in
    * ONE job, exactly the [[acf]] shape. Returns
    * (lag, n_pairs, ccf 6dp). */
  def crossCorrelation(events: DataFrame, tsCol: String, xExpr: Column,
                       yExpr: Column, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, "need at least one lag")
    val d = Tables.ltzTs(events, tsCol)
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(coalesce(Lattice.centsSum(xExpr), lit(0).cast("decimal(18,2)"))
          .cast("double").as("x"),
        coalesce(Lattice.centsSum(yExpr), lit(0).cast("decimal(18,2)"))
          .cast("double").as("y"))
    val w = Window.orderBy("day")
    val m = d.agg(avg("x").as("__mx"), avg("y").as("__my"),
      sum(col("x") * col("x")).as("__sxx"),
      sum(col("y") * col("y")).as("__syy"),
      count(lit(1)).as("__n"))
    val ks = (-maxLag to maxLag).filter(_ != 0)
    val lagged = d.select(
      col("x") +: ks.map(k =>
        lead("y", k).over(w).as(s"y_$k")): _*)
    lagged.crossJoin(m)
      .select(col("x"), col("__mx"), col("__my"), col("__sxx"),
        col("__syy"), col("__n"),
        explode(array(ks.map(k =>
          struct(lit(k).as("lag"), col(s"y_$k").as("yk"))): _*)).as("p"))
      .groupBy(col("p.lag").as("lag"))
      .agg(
        count(col("p.yk")).as("n_pairs"),
        round(try_divide(
          sum((col("x") - col("__mx")) * (col("p.yk") - col("__my"))),
          sqrt(first((col("__sxx") - col("__n") * col("__mx") * col("__mx")) *
            (col("__syy") - col("__n") * col("__my") * col("__my"))))), 6)
          .as("ccf"))
  }

  /** Durbin–Watson residual-autocorrelation diagnostic: detrend the
    * daily TOTAL with its OLS line against the day index, then
    * DW = Σ(e_t − e_{t−1})² / Σe_t² (≈2 = independent residuals, →0 =
    * positive serial correlation — the "is this trend fit lying to
    * you" gate before trusting q176/q295-style line fits on a series).
    * rho1 = Σe_t·e_{t−1}/Σe_t² rides the same aggregate.
    *
    * Scale shape: the [[daily]] rollup collapses the corpus to the
    * #days metadata frame; the OLS slope is closed-form from one
    * moment aggregate over that frame; residual + lag is one ordered
    * window over it (bounded by calendar length). Returns one row:
    * (n_days, slope 6dp, dw 6dp, rho1 6dp). */
  def durbinWatson(events: DataFrame, tsCol: String,
                   valueCol: String): DataFrame = {
    val d = daily(events, tsCol, valueCol)
      .select(col("total"),
        row_number().over(Window.orderBy("day")).cast("double").as("i"))
    val m = d.agg(count(lit(1)).as("__n"),
      sum("i").as("__si"), sum("total").as("__sy"),
      sum(col("i") * col("i")).as("__sii"),
      sum(col("i") * col("total")).as("__siy"))
    val n = col("__n").cast("double")
    val b1 = (col("__siy") - col("__si") * col("__sy") / n) /
      (col("__sii") - col("__si") * col("__si") / n)
    val res = d.crossJoin(broadcast(m))
      .withColumn("__b1", b1)
      .withColumn("__e",
        col("total") - (col("__sy") / n - col("__b1") * col("__si") / n) -
          col("__b1") * col("i"))
      .select(col("i"), col("__b1"), col("__e"),
        lag("__e", 1).over(Window.orderBy("i")).as("__e1"))
    res.agg(count(lit(1)).as("n_days"),
      round(first("__b1"), 6).as("slope"),
      round(sum((col("__e") - col("__e1")) * (col("__e") - col("__e1"))) /
        sum(col("__e") * col("__e")), 6).as("dw"),
      round(sum(col("__e") * col("__e1")) /
        sum(col("__e") * col("__e")), 6).as("rho1"))
  }

  /** Hurst exponent by rescaled-range (R/S) analysis of the daily
    * TOTAL: for each block size n ∈ `scales`, split the series into
    * complete n-day blocks, compute R/S per block (range of the
    * mean-centered cumulative sum over the population std), average
    * per scale, then H = OLS slope of ln(mean R/S) on ln(n). H ≈ 0.5 =
    * memoryless; H → 1 = long-range persistence (trending metric);
    * H < 0.5 = mean-reverting — the "does this series trend or revert"
    * gate on any momentum-style monitor.
    *
    * Scale shape: one day rollup (corpus → metadata), one explode to
    * (scale, block, day) rows, keyed (scale, block) windows only, then
    * a #scales-row regression. Returns one row:
    * (n_scales, n_days, hurst 6dp). */
  def hurstRs(events: DataFrame, tsCol: String, valueCol: String,
              scales: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(scales.nonEmpty && scales.forall(_ >= 4))
    val d = daily(events, tsCol, valueCol)
      .select(col("total"),
        (row_number().over(Window.orderBy("day")) - 1).as("__rn"))
    val ex = d.select(col("total"), col("__rn"), explode(array(
        scales.map(s => lit(s)): _*)).as("scale"))
      .withColumn("__blk", (col("__rn") / col("scale")).cast("long"))
    val blockStats = ex.groupBy("scale", "__blk")
      .agg(count(lit(1)).as("__bn"), avg("total").as("__bm"),
        stddev_pop("total").as("__bs"))
      .filter(col("__bn") === col("scale") && col("__bs") > 0)
    val wB = Window.partitionBy("scale", "__blk").orderBy("__rn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ex.join(blockStats, Seq("scale", "__blk"))
      .withColumn("__cum", sum(col("total") - col("__bm")).over(wB))
    val rs = cum.groupBy("scale", "__blk")
      .agg(((max("__cum") - min("__cum")) / first("__bs")).as("__rs"))
      .groupBy("scale").agg(avg("__rs").as("__mrs"))
      .filter(col("__mrs") > 0)
      .select(log(col("scale").cast("double")).as("__x"),
        log(col("__mrs")).as("__y"))
    val nDays = d.count()
    rs.agg(count(lit(1)).as("n_scales"),
        sum("__x").as("__sx"), sum("__y").as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__x") * col("__y")).as("__sxy"))
      .select(col("n_scales"), lit(nDays).as("n_days"),
        round((col("__sxy") - col("__sx") * col("__sy") /
            col("n_scales").cast("double")) /
          (col("__sxx") - col("__sx") * col("__sx") /
            col("n_scales").cast("double")), 6).as("hurst"))
  }

  /** Newey–West (HAC) standard error of the daily-total mean: serial
    * correlation makes the naive s/√n wildly optimistic on a trending
    * or weekly-patterned metric; the Bartlett-weighted long-run
    * variance γ₀ + 2Σ(1−k/(L+1))γ_k fixes the CI width. The
    * `inflation` column (se_nw/se_iid) is the single number that says
    * how much your alert thresholds lie.
    *
    * Scale shape: the [[acf]] pattern — one day rollup, one multi-lag
    * window pass, one aggregate. Returns one row: (n_days, mean 6dp,
    * se_iid 6dp, se_nw 6dp, inflation 6dp). */
  def neweyWestSe(events: DataFrame, tsCol: String, valueCol: String,
                  maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1 && maxLag <= 30)
    val d = daily(events, tsCol, valueCol)
    val w = Window.orderBy("day")
    val m = d.agg(avg("total").as("__m"), count(lit(1)).as("__n"))
    val lagged = d.select(
      col("total").as("x") +: (1 to maxLag).map(k =>
        lag("total", k).over(w).as(s"x_$k")): _*)
    val gAggs = sum((col("x") - col("__m")) * (col("x") - col("__m")))
      .as("g0") +: (1 to maxLag).map(k =>
        sum((col("x") - col("__m")) * (col(s"x_$k") - col("__m")))
          .as(s"g$k"))
    val g = lagged.crossJoin(broadcast(m))
      .agg(gAggs.head, (gAggs.tail :+ first("__n").as("__n")
        :+ first("__m").as("__mm")): _*)
    val n = col("__n").cast("double")
    val varNw = (1 to maxLag).foldLeft(col("g0") / n) { (acc, k) =>
      acc + lit(2.0) * lit(1.0 - k.toDouble / (maxLag + 1)) *
        (col(s"g$k") / n) }
    val seIid = sqrt(col("g0") / n / n)
    val seNw = sqrt(greatest(lit(0.0), varNw) / n)
    g.select(col("__n").as("n_days"), round(col("__mm"), 6).as("mean"),
      round(seIid, 6).as("se_iid"), round(seNw, 6).as("se_nw"),
      round(when(seIid > 0, seNw / seIid), 6).as("inflation"))
  }

  /** Croston's method for INTERMITTENT demand (many zero-demand days):
    * smooth the nonzero demand SIZES and the INTER-DEMAND INTERVALS
    * separately with the adjust-form EWMA (closed weighted sum — no
    * recursion, so both engines compute the identical value), forecast
    * = size / interval. The right forecaster where q209's plain EWMA
    * smears demand into the gaps (Croston 1972).
    *
    * Scale shape: the day rollup collapses the corpus; demand days and
    * their day-gaps are one ordered window over that frame; the two
    * smoothed values are ONE aggregate each. Returns one row:
    * (n_demand_days, z_hat 6dp, p_hat 6dp, forecast 6dp). Dyadic
    * alpha keeps the weights exact. */
  def croston(events: DataFrame, tsCol: String, valueCol: String,
              alpha: Double = 0.25): DataFrame = {
    require(alpha > 0 && alpha < 1)
    val d = daily(events, tsCol, valueCol).filter(col("total") > 0)
      .select(col("day"), col("total"),
        row_number().over(Window.orderBy("day")).as("__rn"),
        datediff(col("day"),
          lag("day", 1).over(Window.orderBy("day"))).as("__gap"))
    val k = d.agg(max("__rn").as("__k"))
    val w = pow(lit(1.0 - alpha), col("__k") - col("__rn"))
    val z = d.crossJoin(broadcast(k))
      .agg((sum(w * col("total")) / sum(w)).as("__z"),
        (sum(when(col("__gap").isNotNull, w * col("__gap"))) /
          sum(when(col("__gap").isNotNull, w))).as("__p"),
        count(lit(1)).as("n_demand_days"))
    z.select(col("n_demand_days"), round(col("__z"), 6).as("z_hat"),
      round(col("__p"), 6).as("p_hat"),
      round(when(col("__p") > 0, col("__z") / col("__p")), 6)
        .as("forecast"))
  }

  /** Partial autocorrelation (PACF) at lags 1..`maxLag` by the
    * Durbin–Levinson recursion over the raw (unrounded) sample ACF —
    * the AR-order-selection read-out next to q200's ACF (the lag where
    * PACF cuts off is the AR(p) order). The recursion is unrolled into
    * NAMED intermediate columns, so engine and oracle evaluate the
    * byte-identical expression tree.
    *
    * Scale shape: identical to [[acf]] (one day rollup, one window
    * pass, one aggregate) followed by pure single-row algebra.
    * Returns (lag, pacf 6dp), maxLag rows. */
  def pacf(events: DataFrame, tsCol: String, valueCol: String,
           maxLag: Int = 5): DataFrame = {
    require(maxLag >= 1 && maxLag <= 8, s"maxLag $maxLag out of 1..8")
    val d = daily(events, tsCol, valueCol)
    val w = Window.orderBy("day")
    val m = d.agg(avg("total").as("__m"),
      sum(col("total") * col("total")).as("__ss"),
      count(lit(1)).as("__n"))
    val lagged = d.select(
      col("total").as("x") +: (1 to maxLag).map(k =>
        lag("total", k).over(w).as(s"x_$k")): _*)
    // raw acf row: r_1..r_maxLag in one aggregate
    val rAggs = (1 to maxLag).map(k =>
      (sum((col("x") - col("__m")) * (col(s"x_$k") - col("__m"))) /
        first(col("__ss") - col("__n") * col("__m") * col("__m")))
        .as(s"r$k"))
    var frame = lagged.crossJoin(m).agg(rAggs.head, rAggs.tail: _*)
    // Durbin–Levinson with named intermediates p{k}_{j}
    frame = frame.withColumn("p1_1", col("r1"))
    for (k <- 2 to maxLag) {
      val num = (1 until k).map(j =>
        col(s"p${k - 1}_$j") * col(s"r${k - j}")).reduce(_ + _)
      val den = (1 until k).map(j =>
        col(s"p${k - 1}_$j") * col(s"r$j")).reduce(_ + _)
      frame = frame.withColumn(s"p${k}_$k",
        (col(s"r$k") - num) / (lit(1.0) - den))
      for (j <- 1 until k)
        frame = frame.withColumn(s"p${k}_$j",
          col(s"p${k - 1}_$j") - col(s"p${k}_$k") * col(s"p${k - 1}_${k - j}"))
    }
    frame.select(explode(array((1 to maxLag).map(k =>
        struct(lit(k).as("lag"), col(s"p${k}_$k").as("p"))): _*)).as("o"))
      .select(col("o.lag").as("lag"), round(col("o.p"), 6).as("pacf"))
  }

  /** Time-series motif discovery: the top-k most similar pairs of
    * non-overlapping `w`-day windows of the daily total, by
    * z-NORMALIZED Euclidean distance (the matrix-profile similarity;
    * z-normalization makes "same shape at different level/scale"
    * match — the recurring-pattern detector for capacity planning and
    * incident forensics).
    *
    * Scale shape: subsequences come from ONE lag-window pass over the
    * day frame (metadata); the pair join is (days × days)/2 on that
    * frame — bounded by calendar length squared, never by data volume
    * (the all-pairs is over ~10³ day rows even at 100 TB). Constant
    * (zero-variance) windows are dropped. Returns top-k:
    * (day_a, day_b, dist 6dp), (dist asc, day_a, day_b)
    * deterministic. */
  def motifs(events: DataFrame, tsCol: String, valueCol: String,
             w: Int = 7, topK: Int = 5): DataFrame = Checkpoints.scoped {
    require(w >= 3 && w <= 30 && topK >= 1)
    val d = daily(events, tsCol, valueCol)
    val win = Window.orderBy("day")
    val lags = (0 until w).map(k => lag("total", k).over(win).as(s"v$k"))
    val sub0 = d.select(col("day") +:
      (row_number().over(win)).as("__rn") +: lags: _*)
      .filter(col(s"v${w - 1}").isNotNull)
    val mean = (0 until w).map(k => col(s"v$k")).reduce(_ + _) / w
    val sub1 = sub0.withColumn("__m", mean)
    val varp = (0 until w).map(k =>
      (col(s"v$k") - col("__m")) * (col(s"v$k") - col("__m")))
      .reduce(_ + _) / w
    val sub = Checkpoints.local(sub1.withColumn("__s", sqrt(varp)).filter(col("__s") > 0)
      .select(col("day") +: col("__rn") +:
        (0 until w).map(k =>
          ((col(s"v$k") - col("__m")) / col("__s")).as(s"z$k")): _*))
    val a = sub.select(col("day").as("day_a") +: col("__rn").as("__ra") +:
      (0 until w).map(k => col(s"z$k").as(s"a$k")): _*)
    val b = sub.select(col("day").as("day_b") +: col("__rn").as("__rb") +:
      (0 until w).map(k => col(s"z$k").as(s"b$k")): _*)
    val dist2 = (0 until w).map(k =>
      (col(s"a$k") - col(s"b$k")) * (col(s"a$k") - col(s"b$k")))
      .reduce(_ + _)
    Checkpoints.local(a.join(b, col("__rb") >= col("__ra") + w)
      .select(col("day_a").cast("timestamp").as("day_a"),
        col("day_b").cast("timestamp").as("day_b"),
        round(sqrt(dist2), 6).as("dist"))
      .orderBy(col("dist"), col("day_a"), col("day_b")).limit(topK))
  }

  /** Gumbel (EV-I) return levels by method of moments over BLOCK
    * maxima of the daily total: β = s·√6/π, μ = m − γ·β (γ =
    * Euler–Mascheroni), and the T-block return level
    * x_T = μ − β·ln(−ln(1 − 1/T)) — "what weekly peak should we
    * provision for once a quarter/year," the capacity-planning
    * read-out on any load metric.
    *
    * Scale shape: day rollup → 7-day block maxima (one groupBy on the
    * metadata day frame) → one mean/stddev aggregate → pure literals.
    * Returns one row per T in `returns`:
    * (t_blocks, mu 6dp, beta 6dp, return_level 6dp). */
  def gumbelReturnLevels(events: DataFrame, tsCol: String,
                         valueCol: String, blockDays: Int = 7,
                         returns: Seq[Int] = Seq(4, 13, 52)): DataFrame = {
    require(blockDays >= 2 && returns.forall(_ >= 2))
    val d = daily(events, tsCol, valueCol)
      .select(col("total"),
        ((row_number().over(Window.orderBy("day")) - 1) / blockDays)
          .cast("long").as("__blk"))
    val blocks = d.groupBy("__blk")
      .agg(max("total").as("__mx"), count(lit(1)).as("__bn"))
      .filter(col("__bn") === blockDays)
    val m = blocks.agg(avg("__mx").as("__m"),
      stddev_samp("__mx").as("__s"))
    val euler = 0.5772156649015329
    // single precomputed literal so engine and oracle share ONE multiply
    val beta = col("__s") * lit(math.sqrt(6.0) / math.Pi)
    val mu = col("__m") - lit(euler) * beta
    m.select(explode(array(returns.map(t => lit(t)): _*)).as("t_blocks"),
        col("__m"), col("__s"))
      .select(col("t_blocks").cast("long").as("t_blocks"),
        round(mu, 6).as("mu"), round(beta, 6).as("beta"),
        round(mu - beta * log(-log(lit(1.0) - lit(1.0) /
          col("t_blocks").cast("double"))), 6).as("return_level"))
  }

  /** Ljung–Box portmanteau test on the daily-total correlogram:
    * Q(m) = n(n+2)·Σ_{k≤m} r_k²/(n−k), reported cumulatively per lag
    * so the row at lag m IS the classic Q(m) — "is there ANY linear
    * memory in the first m lags", the whiteness gate to run before
    * trusting an i.i.d. assumption (or after fitting a forecaster, on
    * its residuals). Identical plan shape to [[acf]] (one window pass,
    * one aggregate); the cumulative Q rides the maxLag-row metadata
    * frame. Returns (lag, n_pairs, acf 6dp, q_stat 6dp). */
  def ljungBox(events: DataFrame, tsCol: String, valueCol: String,
               maxLag: Int = 7): DataFrame = {
    val d = daily(events, tsCol, valueCol)
    val w = Window.orderBy("day")
    val m = d.agg(avg("total").as("__m"),
      sum(col("total") * col("total")).as("__ss"),
      count(lit(1)).as("__n"))
    val lagged = d.select(
      col("total").as("x") +: (1 to maxLag).map(k =>
        lag("total", k).over(w).as(s"x_$k")): _*)
    val perLag = lagged.crossJoin(m)
      .select(col("x"), col("__m"), col("__ss"), col("__n"),
        explode(array((1 to maxLag).map(k =>
          struct(lit(k).as("lag"), col(s"x_$k").as("xk"))): _*)).as("p"))
      .groupBy(col("p.lag").as("lag"))
      .agg(count(col("p.xk")).as("n_pairs"),
        try_divide(
          sum((col("x") - col("__m")) * (col("p.xk") - col("__m"))),
          first(col("__ss") - col("__n") * col("__m") * col("__m")))
          .as("__r"),
        first("__n").as("__nd"))
    val wq = Window.orderBy("lag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nd = col("__nd").cast("double")
    perLag
      .withColumn("q_stat", round(nd * (nd + 2) *
        sum(col("__r") * col("__r") /
          (nd - col("lag"))).over(wq), 6))
      .select(col("lag"), col("n_pairs"), round(col("__r"), 6).as("acf"),
        col("q_stat"))
  }

  /** Pettitt change-point test on the daily total: the rank-based
    * (distribution-free) shift detector — U_t = Σ_{i≤t}(2·rᵢ − n − 1)
    * with midranks (EXACTLY the sgn double sum, via the midrank
    * identity Σⱼ sgn(xᵢ−xⱼ) = 2rᵢ−n−1), K = max|U_t|, and the classic
    * approximation p ≈ 2·exp(−6K²/(n³+n²)). The rank-space twin of
    * [[cusumChangepoint]]: immune to outliers and to any monotone
    * transform of the values. Midranks come from one groupBy over the
    * distinct daily totals (the day frame is metadata-sized — the
    * weeklyReport argument); U rides one ordered window over it.
    * Returns one row: (n, k_stat 6dp, change_day, p_value 6dp). */
  def pettitt(events: DataFrame, tsCol: String,
              valueCol: String): DataFrame = {
    val d = daily(events, tsCol, valueCol).select(col("day"), col("total"))
    val byV = d.groupBy("total").agg(count(lit(1)).as("__c"))
    val wv = Window.orderBy("total")
    val ranks = byV.withColumn("__rank",
      (sum("__c").over(wv) - col("__c")).cast("double") +
        (col("__c").cast("double") + 1) / 2)
    val wd = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nTot = d.agg(count(lit(1)).as("__n"))
    val u = d.join(ranks.select(col("total"), col("__rank")), Seq("total"))
      .crossJoin(broadcast(nTot))
      .withColumn("__u",
        sum(lit(2.0) * col("__rank") - (col("__n") + 1)).over(wd))
      .withColumn("__t", count(lit(1)).over(wd))
      .filter(col("__t") < col("__n"))
    val kFrame = u.agg(first("__n").as("n"),
      max(abs(col("__u"))).as("__k"))
    val nd = col("n").cast("double")
    u.select(col("day"), abs(col("__u")).as("__au"))
      .crossJoin(broadcast(kFrame))
      .agg(first("n").as("n"), first("__k").as("__kk"),
        min(when(col("__au") === col("__k"), col("day")))
          .as("change_day"))
      .select(col("n"), round(col("__kk"), 6).as("k_stat"),
        // timestamp, not date: pandas reads parquet DATE as python
        // date objects while the oracle yields datetime64 (the
        // rollingCorrelation precedent)
        col("change_day").cast("timestamp").as("change_day"),
        round(least(lit(1.0), lit(2.0) * exp(lit(-6.0) * col("__kk") *
          col("__kk") / (nd * nd * nd + nd * nd))), 6).as("p_value"))
  }

  /** Lag-1 Granger causality on two daily series from the same event
    * stream: does yesterday's x (daily event COUNT) improve today's y
    * (daily total) beyond yesterday's y? Closed-form F of the
    * restricted (y ~ y₁) vs unrestricted (y ~ y₁ + x₁) OLS, all from
    * nine centered moments in ONE aggregate over the day frame —
    * no matrix library, no iteration.
    * Returns one row: (n, beta_x 6dp, f_stat 6dp). */
  def grangerLag1(events: DataFrame, tsCol: String,
                  valueCol: String): DataFrame = {
    val d = daily(events, tsCol, valueCol)
    val w = Window.orderBy("day")
    val rows = d.select(col("total").as("y"),
        lag("total", 1).over(w).as("u"),
        lag(col("n").cast("double"), 1).over(w).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
    val g = rows.agg(count(lit(1)).as("n"),
      avg("y").as("__my"), avg("u").as("__mu"), avg("v").as("__mv"),
      sum(col("y") * col("y")).as("__syy"),
      sum(col("u") * col("u")).as("__suu"),
      sum(col("v") * col("v")).as("__svv"),
      sum(col("y") * col("u")).as("__syu"),
      sum(col("y") * col("v")).as("__syv"),
      sum(col("u") * col("v")).as("__suv"))
    val nd = col("n").cast("double")
    val syy = col("__syy") - nd * col("__my") * col("__my")
    val suu = col("__suu") - nd * col("__mu") * col("__mu")
    val svv = col("__svv") - nd * col("__mv") * col("__mv")
    val syu = col("__syu") - nd * col("__my") * col("__mu")
    val syv = col("__syv") - nd * col("__my") * col("__mv")
    val suv = col("__suv") - nd * col("__mu") * col("__mv")
    val det = suu * svv - suv * suv
    val b1 = (syu * svv - syv * suv) / det
    val b2 = (syv * suu - syu * suv) / det
    val rssR = syy - syu * syu / suu
    val rssU = syy - b1 * syu - b2 * syv
    g.select(col("n"), round(b2, 6).as("beta_x"),
      round(when(rssU > 0,
        (rssR - rssU) * (nd - 3) / rssU), 6).as("f_stat"))
  }

  /** Permutation entropy (Bandt–Pompe, order m = 3) of the daily
    * total: entropy of the ordinal-pattern distribution over sliding
    * (x_t, x_{t+1}, x_{t+2}) windows, normalized by ln(3!) — 1.0 is
    * white noise, 0.0 a monotone ramp; the model-free complexity
    * number that needs no stationarity or moments at all. Ties break
    * positionally (earlier index ranks first — the standard stable
    * argsort convention), encoded as three strict-inequality bits.
    * One window pass + one 6-row groupBy.
    * Returns one row: (n_windows, n_patterns, pe 6dp). */
  def permutationEntropy(events: DataFrame, tsCol: String,
                         valueCol: String): DataFrame = {
    val d = daily(events, tsCol, valueCol)
    val w = Window.orderBy("day")
    val pats = d.select(col("total").as("x0"),
        lead("total", 1).over(w).as("x1"),
        lead("total", 2).over(w).as("x2"))
      .filter(col("x1").isNotNull && col("x2").isNotNull)
      .select(concat(
        (col("x1") > col("x0")).cast("int").cast("string"),
        (col("x2") > col("x0")).cast("int").cast("string"),
        (col("x2") > col("x1")).cast("int").cast("string"))
        .as("pattern"))
      .groupBy("pattern").agg(count(lit(1)).as("__c"))
    val tot = pats.agg(sum("__c").as("__nw"))
    val p = col("__c").cast("double") / col("__nw")
    pats.crossJoin(broadcast(tot))
      .agg(first("__nw").as("n_windows"),
        count(lit(1)).as("n_patterns"),
        round(-sum(p * log(p)) / log(lit(6.0)), 6).as("pe"))
  }

  /** Dickey–Fuller unit-root test (constant, no lag augmentation) on
    * the daily total: Δy_t = a + γ·y_{t−1}, t(γ̂) — γ near 0 means a
    * random walk (differencing needed before any stationary model),
    * strongly negative means mean-reversion. Closed-form simple-OLS
    * t from five moments in one aggregate over the day frame.
    * Returns one row: (n, gamma 6dp, t_stat 6dp). */
  def dickeyFuller(events: DataFrame, tsCol: String,
                   valueCol: String): DataFrame = {
    val d = daily(events, tsCol, valueCol)
    val w = Window.orderBy("day")
    val rows = d.select(col("total").as("y"),
        lag("total", 1).over(w).as("y1"))
      .filter(col("y1").isNotNull)
      .select((col("y") - col("y1")).as("dy"), col("y1"))
    val g = rows.agg(count(lit(1)).as("n"),
      avg("dy").as("__md"), avg("y1").as("__m1"),
      sum(col("dy") * col("dy")).as("__sdd"),
      sum(col("y1") * col("y1")).as("__s11"),
      sum(col("dy") * col("y1")).as("__sd1"))
    val nd = col("n").cast("double")
    val sxx = col("__s11") - nd * col("__m1") * col("__m1")
    val sxy = col("__sd1") - nd * col("__md") * col("__m1")
    val syy = col("__sdd") - nd * col("__md") * col("__md")
    val gam = sxy / sxx
    val rss = syy - gam * sxy
    g.select(col("n"), round(gam, 6).as("gamma"),
      round(when(rss > 0,
        gam / sqrt((rss / (nd - 2)) / sxx)), 6).as("t_stat"))
  }

  /** Engle–Granger cointegration test between the daily COUNT (x) and
    * daily TOTAL (y) of the same stream: step 1 OLS y ~ a + b·x, step
    * 2 no-constant Dickey–Fuller on the residuals (Δe_t = γ·e_{t−1}).
    * A strongly negative t means the two series share a long-run
    * equilibrium (the residual mean-reverts) — the pairs-trading /
    * shared-trend detector. Two aggregates over the day frame: one
    * for the OLS moments (whose slope becomes plan literals via a
    * broadcast scalar frame, NOT a collect), one for the residual DF.
    * Returns one row: (n, beta 6dp, gamma 6dp, t_stat 6dp). */
  def engleGranger(events: DataFrame, tsCol: String,
                   valueCol: String): DataFrame = {
    val d = daily(events, tsCol, valueCol)
      .select(col("day"), col("n").cast("double").as("x"),
        col("total").as("y"))
    val ols = d.agg(count(lit(1)).as("__n"),
      avg("x").as("__mx"), avg("y").as("__my"),
      sum(col("x") * col("x")).as("__sxx0"),
      sum(col("x") * col("y")).as("__sxy0"))
      .select(col("__n"),
        ((col("__sxy0") - col("__n") * col("__mx") * col("__my")) /
          (col("__sxx0") - col("__n") * col("__mx") * col("__mx")))
          .as("__b"),
        col("__mx"), col("__my"))
    val w = Window.orderBy("day")
    val resid = d.crossJoin(broadcast(ols))
      .select(col("day"), col("__n"), col("__b"),
        (col("y") - (col("__my") - col("__b") * col("__mx")) -
          col("__b") * col("x")).as("e"))
    val rows = resid
      .withColumn("e1", lag("e", 1).over(w))
      .filter(col("e1").isNotNull)
      .select(col("__n"), col("__b"), (col("e") - col("e1")).as("de"),
        col("e1"))
    val g = rows.agg(first("__n").as("n"), first("__b").as("__bb"),
      count(lit(1)).as("__m"),
      sum(col("de") * col("e1")).as("__sd1"),
      sum(col("e1") * col("e1")).as("__s11"),
      sum(col("de") * col("de")).as("__sdd"))
    val md = col("__m").cast("double")
    val gam = col("__sd1") / col("__s11")
    val rss = col("__sdd") - gam * col("__sd1")
    g.select(col("n"), round(col("__bb"), 6).as("beta"),
      round(gam, 6).as("gamma"),
      round(when(rss > 0,
        gam / sqrt((rss / (md - 1)) / col("__s11"))), 6).as("t_stat"))
  }

  /** Mann–Kendall trend test on the daily total: S = Σᵢ<ⱼ sgn(xⱼ−xᵢ)
    * with the tie-corrected variance and the ±1-continuity z — the
    * distribution-free "is there ANY monotone trend" companion to
    * q203's Theil–Sen slope (MK tests, Theil–Sen sizes). The pair
    * frame is the day-frame self-join — quadratic only in DAYS (the
    * groupBy(day) collapse happens first), never in events.
    * Returns one row: (n, s_stat, z_stat 6dp). */
  def mannKendall(events: DataFrame, tsCol: String,
                  valueCol: String): DataFrame = {
    val d = daily(events, tsCol, valueCol).select(col("day"),
      col("total"))
    val a = d.select(col("day").as("__da"), col("total").as("__xa"))
    val b = d.select(col("day").as("__db"), col("total").as("__xb"))
    val pairs = a.join(b, col("__da") < col("__db"))
      .agg(sum(signum(col("__xb") - col("__xa"))).as("__s"))
    val ties = d.groupBy("total").agg(count(lit(1)).as("__t"))
      .agg(sum(col("__t") * (col("__t") - 1) *
        (lit(2.0) * col("__t") + 5)).as("__tt"),
        sum("__t").as("n"))
    val nd = col("n").cast("double")
    val varS = (nd * (nd - 1) * (lit(2.0) * nd + 5) - col("__tt")) /
      lit(18.0)
    pairs.crossJoin(broadcast(ties))
      .select(col("n"), col("__s").cast("long").as("s_stat"),
        round(when(col("__s") > 0, (col("__s") - 1) / sqrt(varS))
          .when(col("__s") < 0, (col("__s") + 1) / sqrt(varS))
          .otherwise(lit(0.0)), 6).as("z_stat"))
  }

  /** Upper-tail dependence between two daily series derived from the
    * same stream (x = daily count, y = daily total): the share of
    * days where BOTH sit in their own top quantile, versus the q²
    * expected under independence — the "do extremes co-occur" number
    * plain correlation hides (two series can be corr 0.3 yet always
    * spike together). The two quantile thresholds stay a BROADCAST
    * one-row frame (the engleGranger convention — no driver collect,
    * one DAG); the rest is one integer aggregate. Returns one row:
    * (n_days, q, n_joint, joint_share 6dp, lift 6dp). */
  def tailDependence(events: DataFrame, tsCol: String,
                     valueCol: String, q: Double = 0.8): DataFrame = {
    val d = daily(events, tsCol, valueCol)
      .select(col("n").cast("double").as("x"), col("total").as("y"))
    val thr = d.agg(
      element_at(graft.functions.ExactPercentiles
        .exactPercentiles(col("x"), Seq(q)), 1).as("__tx"),
      element_at(graft.functions.ExactPercentiles
        .exactPercentiles(col("y"), Seq(q)), 1).as("__ty"))
    d.crossJoin(broadcast(thr))
      .agg(count(lit(1)).as("n_days"),
        sum((col("x") > col("__tx") && col("y") > col("__ty"))
          .cast("long")).as("n_joint"))
      .select(col("n_days"), lit(q).as("q"), col("n_joint"),
        round(col("n_joint").cast("double") / col("n_days"), 6)
          .as("joint_share"),
        round(col("n_joint").cast("double") / col("n_days") /
          ((1 - q) * (1 - q)), 6).as("lift"))
  }

  /** Page–Hinkley change detector over the daily total (offline
    * two-pass form, δ = 0): m_t = Σ_{i≤t}(x_i − x̄); an upward level
    * shift drives m_t − min_{i≤t} m_i up, a downward one drives
    * max_{i≤t} m_i − m_t — the sequential-monitoring companion to
    * q201 CUSUM that reports WHERE the drift budget peaked, with the
    * peak day (earliest on ties, deterministic).
    *
    * Scale shape: day-frame cumulative windows only (ordered, so the
    * partial sums are identical on any engine); one aggregate + a
    * broadcast join for the argmax day. Returns one row:
    * (n_days, ph_inc 6dp, ph_dec 6dp, peak_day). */
  def pageHinkley(events: DataFrame, tsCol: String,
                  valueCol: String): DataFrame = {
    val d = daily(events, tsCol, valueCol)
    val xbar = d.agg((sum(col("total").cast("decimal(28,2)"))
      .cast("double") / count(lit(1))).as("__xb"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withM = d.crossJoin(broadcast(xbar))
      .withColumn("__m", sum(col("total") - col("__xb")).over(w))
      .withColumn("__inc", col("__m") - min("__m").over(w))
      .withColumn("__dec", max("__m").over(w) - col("__m"))
      .withColumn("__g", greatest(col("__inc"), col("__dec")))
    val peaks = withM.agg(count(lit(1)).as("n_days"),
      max("__inc").as("__pi"), max("__dec").as("__pd"),
      max("__g").as("__pg"))
    withM.crossJoin(broadcast(peaks))
      .agg(first("n_days").as("n_days"),
        round(first("__pi"), 6).as("ph_inc"),
        round(first("__pd"), 6).as("ph_dec"),
        min(when(col("__g") === col("__pg"), col("day")))
          .cast("string").as("peak_day"))
  }

  /** Pinball (quantile) loss of rank-based train-half quantile
    * forecasts evaluated on the test half of the daily series — the
    * quantile-forecast acceptance metric (a q90 forecast is GOOD when
    * ~90% of test days land under it and the asymmetric loss is low).
    * Quantiles are DISCRETE order statistics (k = ceil(q·n), a data
    * value — no interpolation arithmetic to drift across engines), so
    * with cent-lattice totals every loss term 10·L is an exact
    * integer. One rank job on the train half + one integer aggregate
    * on the test half. Returns (q 1dp, forecast 6dp, n_test,
    * pinball 6dp). */
  def pinballEval(events: DataFrame, tsCol: String, valueCol: String,
                  split: java.sql.Date,
                  qs: Seq[Int] = Seq(1, 5, 9)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 9))
    val d = daily(events, tsCol, valueCol)
      .select(col("day"),
        (col("total").cast("decimal(18,2)") * 100).cast("long")
          .as("__yc"))
    val train = d.filter(col("day") < lit(split))
    val test = d.filter(col("day") >= lit(split))
    val wr = Window.orderBy("__yc")
    val ranked = train.withColumn("__r", row_number().over(wr))
    val n = train.count()
    val qcols = qs.map { q =>
      val k = (q * n + 9) / 10 // ceil(q/10 * n) in integer arithmetic
      ranked.filter(col("__r") === k)
        .select(lit(q).as("__q"), col("__yc").as("__fc"))
    }.reduce(_ unionByName _)
    test.crossJoin(broadcast(qcols))
      .groupBy("__q")
      .agg(first(col("__fc")).as("__f"), count(lit(1)).as("n_test"),
        sum(when(col("__yc") >= col("__fc"),
          col("__q") * (col("__yc") - col("__fc")))
          .otherwise((lit(10) - col("__q")) *
            (col("__fc") - col("__yc")))).as("__pl"))
      .select((col("__q").cast("double") / 10).as("q"),
        round(col("__f").cast("double") / 100, 6).as("forecast"),
        col("n_test"),
        round(col("__pl").cast("double") /
          (col("n_test") * 1000).cast("double"), 6).as("pinball"))
      .orderBy("q")
  }

  /** Single best variance changepoint (one binary-segmentation step)
    * on the daily total: the split that maximizes the between-segment
    * sum of squares L²/n_l + R²/n_r — reported with the share of total
    * variance it explains. Where q201 CUSUM and q352 Pettitt test
    * WHETHER the level shifted, this names the best split and how
    * much it buys, the first step of every segmentation tree.
    *
    * Scale shape: cent-lattice prefix sums over the ordered day frame
    * (exact integers), one scalar aggregate, earliest-day tie-break.
    * Returns one row: (n_days, split_day, mean_left 6dp,
    * mean_right 6dp, var_explained 6dp). */
  def varianceChangepoint(events: DataFrame, tsCol: String,
                          valueCol: String): DataFrame = {
    val d = daily(events, tsCol, valueCol)
      .select(col("day"),
        (col("total").cast("decimal(18,2)") * 100).cast("long")
          .as("__yc"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = d.agg(count(lit(1)).as("n_days"), sum("__yc").as("__T"),
      sum((col("__yc").cast("decimal(14,0)") *
        col("__yc").cast("decimal(14,0)"))).cast("double").as("__SS"))
    val pre = d
      .withColumn("__i", count(lit(1)).over(w))
      .withColumn("__L", sum("__yc").over(w))
      .crossJoin(broadcast(tot))
      .filter(col("__i") < col("n_days"))
    val nl = col("__i").cast("double")
    val nr = (col("n_days") - col("__i")).cast("double")
    val l = col("__L").cast("double")
    val r = (col("__T") - col("__L")).cast("double")
    // try_divide: ANSI Spark 4 throws on double/0 and some physical
    // plans evaluate the projection for the filtered-out i = n_days
    // row; the null score never survives the filter anyway
    val scored = pre.withColumn("__score",
      try_divide(l * l, nl) + try_divide(r * r, nr))
    val best = scored.agg(max("__score").as("__mx"))
    scored.crossJoin(broadcast(best))
      .filter(col("__score") === col("__mx"))
      .orderBy("day").limit(1)
      .select(col("n_days"),
        col("day").cast("string").as("split_day"),
        round(try_divide(l, nl) / 100.0, 6).as("mean_left"),
        round(try_divide(r, nr) / 100.0, 6).as("mean_right"),
        round(when(col("__SS") -
            col("__T").cast("double") * col("__T") /
              col("n_days").cast("double") > 0,
          (col("__mx") - col("__T").cast("double") * col("__T") /
            col("n_days").cast("double")) /
          (col("__SS") - col("__T").cast("double") * col("__T") /
            col("n_days").cast("double"))), 6).as("var_explained"))
  }

  /** Theil–Sen trend PER GROUP: the median pairwise slope of each
    * group's daily series (lower-median convention — the first slope
    * whose cumulative pair count reaches half, an integer-lattice
    * threshold with no interpolation arithmetic) — q203's robust
    * slope, segmented ("which event types are actually trending up").
    *
    * Scale shape: the day collapse happens per group first, so the
    * pair join is quadratic only in DAYS per group (calendar-bounded),
    * partitioned by group; the median selection is one
    * group-partitioned rank window. Returns (group, n_days, n_pairs,
    * sen_slope 6dp). */
  def senSlopeByGroup(events: DataFrame, groupCol: String,
                      tsCol: String, valueCol: String): DataFrame = Checkpoints.scoped {
    val d = Checkpoints.local(Tables.ltzTs(events, tsCol)
      .filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), to_date(col(tsCol)).as("__day"))
      .agg(Lattice.centsSum(col(valueCol))
        .cast("double").as("__y"))
      .withColumn("__i", datediff(col("__day"),
        to_date(lit("1970-01-01"))).cast("double")))
    val a = d.select(col("__g"), col("__i").as("__ia"),
      col("__y").as("__ya"))
    val b = d.select(col("__g").as("__gb"), col("__i").as("__ib"),
      col("__y").as("__yb"))
    val slopes = a.join(b, col("__g") === col("__gb") &&
        col("__ib") > col("__ia"))
      .select(col("__g"),
        ((col("__yb") - col("__ya")) / (col("__ib") - col("__ia")))
          .as("__s"))
    val w = Window.partitionBy("__g").orderBy("__s")
    val counts = d.groupBy("__g").agg(count(lit(1)).as("n_days"))
    val ranked = slopes.withColumn("__r", row_number().over(w))
    val m = ranked.groupBy("__g").agg(max("__r").as("__m"))
    ranked.join(m, Seq("__g"))
      .filter(col("__r") * 2 === col("__m") ||
        col("__r") * 2 === col("__m") + 1) // lower median rank ceil(m/2)
      .groupBy(col("__g"))
      .agg(min("__s").as("__med"), first("__m").as("n_pairs"))
      .join(counts, Seq("__g"))
      .select(col("__g").as("group"), col("n_days"), col("n_pairs"),
        round(col("__med"), 6).as("sen_slope"))
      .orderBy("group")
  }

  /** Prediction-interval calibration of the naive Normal bands: fit
    * μ̂, σ̂ on the train half of the daily series, then the share of
    * TEST days inside μ̂ ± k·σ̂ for k = 1, 2, 3 — next to the nominal
    * Normal coverage (68.3 / 95.4 / 99.7%), the "are ±2σ alert bands
    * honest on this series" check that pairs with [[pinballEval]].
    * Exact decimal train moments; the coverage counts are integer
    * aggregates over the test day frame. Returns
    * (k, n_test, n_within, coverage 6dp, nominal 6dp). */
  def intervalCoverage(events: DataFrame, tsCol: String,
                       valueCol: String,
                       split: java.sql.Date): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d = daily(events, tsCol, valueCol)
      .select(col("day"), col("total").cast(DecimalType(18, 2))
        .as("__yd"))
    val train = d.filter(col("day") < lit(split))
    val test = d.filter(col("day") >= lit(split))
    val mo = train.agg(count(lit(1)).as("__n"),
      sum("__yd").cast("double").as("__s1"),
      sum(col("__yd") * col("__yd")).cast("double").as("__s2"))
    val nd = col("__n").cast("double")
    val mu = col("__s1") / nd
    val sig = sqrt(try_divide(col("__s2") - nd * mu * mu, nd - 1))
    val nominal = Map(1 -> 0.682689, 2 -> 0.954500, 3 -> 0.997300)
    Seq(1, 2, 3).map { k =>
      test.crossJoin(broadcast(mo))
        .agg(count(lit(1)).as("n_test"),
          sum((col("__yd").cast("double") >= mu - lit(k) * sig &&
            col("__yd").cast("double") <= mu + lit(k) * sig)
            .cast("long"))
            .as("n_within"))
        .select(lit(k).as("k"), col("n_test"), col("n_within"),
          round(try_divide(col("n_within").cast("double"),
            col("n_test").cast("double")), 6).as("coverage"),
          lit(nominal(k)).as("nominal"))
    }.reduce(_ unionByName _).orderBy("k")
  }

  /** Kendall turning-points randomness test on the daily total: count
    * interior days that are strict local maxima or minima (equal
    * neighbors are NOT turning points — documented tie rule), against
    * the i.i.d. moments E = 2(n−2)/3, Var = (16n−29)/90 — too FEW
    * turning points means trend/cycles, too MANY means alternation.
    * One lag/lead window over the day frame; all-integer counting.
    * Returns one row: (n_days, n_turning, expected 6dp, z_stat 6dp).
    */
  def turningPoints(events: DataFrame, tsCol: String,
                    valueCol: String): DataFrame = {
    val d = daily(events, tsCol, valueCol)
      .select(col("day"),
        (col("total").cast("decimal(18,2)") * 100).cast("long")
          .as("__yc"))
    val w = Window.orderBy("day")
    val flagged = d
      .withColumn("__pv", lag("__yc", 1).over(w))
      .withColumn("__nx", lead("__yc", 1).over(w))
      .filter(col("__pv").isNotNull && col("__nx").isNotNull)
      .withColumn("__tp",
        ((col("__yc") > col("__pv") && col("__yc") > col("__nx")) ||
          (col("__yc") < col("__pv") && col("__yc") < col("__nx")))
          .cast("long"))
    val nTot = d.agg(count(lit(1)).as("n_days"))
    val nd = col("n_days").cast("double")
    val e = lit(2.0) * (nd - 2) / 3
    val v = (lit(16.0) * nd - 29) / 90
    flagged.agg(sum("__tp").as("n_turning"))
      .crossJoin(broadcast(nTot))
      .select(col("n_days"), col("n_turning"),
        round(e, 6).as("expected"),
        round(when(v > 0,
          (col("n_turning").cast("double") - e) / sqrt(v)), 6)
          .as("z_stat"))
  }

  /** Von Neumann ratio on the daily total: mean-square successive
    * difference over the variance, η = Σd²·n / (n·Σy² − (Σy)²) · (n−1)
    * /(n−1) — 2 under i.i.d., < 2 positive autocorrelation, > 2
    * alternation; the series-level cousin of q297's residual DW. All
    * sufficient statistics are exact integer/decimal cent sums cast to
    * double once. Returns one row: (n_days, vn_ratio 6dp, z_stat 6dp).
    */
  def vonNeumann(events: DataFrame, tsCol: String,
                 valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d = daily(events, tsCol, valueCol)
      .select(col("day"),
        (col("total").cast("decimal(18,2)") * 100).cast("long")
          .as("__yc"))
    val w = Window.orderBy("day")
    val withD = d.withColumn("__d", col("__yc") - lag("__yc", 1).over(w))
    val g = withD.agg(count(lit(1)).as("n_days"),
      sum(col("__yc").cast(DecimalType(14, 0))).cast("double")
        .as("__sy"),
      sum(col("__yc").cast(DecimalType(14, 0)) *
        col("__yc").cast(DecimalType(14, 0))).cast("double").as("__syy"),
      sum(col("__d").cast(DecimalType(14, 0)) *
        col("__d").cast(DecimalType(14, 0))).cast("double").as("__sdd"))
    val nd = col("n_days").cast("double")
    val eta = (col("__sdd") / (nd - 1)) /
      ((col("__syy") - col("__sy") * col("__sy") / nd) / (nd - 1))
    val z = (eta - 2) / sqrt(lit(4.0) * (nd - 2) / (nd * nd - 1))
    g.select(col("n_days"), round(eta, 6).as("vn_ratio"),
      round(when(nd > 2, z), 6).as("z_stat"))
  }

  /** Seasonal Mann–Kendall trend test (Hirsch–Slack): q379's S and
    * tie-corrected variance computed WITHIN each day-of-week stratum
    * and summed — the monotone-trend test that a weekly cycle cannot
    * fool (plain MK reads Mondays-vs-Sundays as trend). Pair joins are
    * per-season day frames (calendar-bounded); S and the tie terms
    * are exact integers until the final scalar. Returns one row:
    * (n_days, n_seasons, s_stat, z_stat 6dp). */
  def seasonalMannKendall(events: DataFrame, tsCol: String,
                          valueCol: String): DataFrame = Checkpoints.scoped {
    val d = Checkpoints.local(daily(events, tsCol, valueCol)
      .select(col("day"), dayofweek(col("day")).as("__szn"),
        (col("total").cast("decimal(18,2)") * 100).cast("long")
          .as("__yc")))
    val a = d.select(col("__szn"), col("day").as("__da"),
      col("__yc").as("__xa"))
    val b = d.select(col("__szn").as("__sb"), col("day").as("__db"),
      col("__yc").as("__xb"))
    val s = a.join(b, col("__szn") === col("__sb") &&
        col("__da") < col("__db"))
      .agg(coalesce(sum(signum((col("__xb") - col("__xa"))
        .cast("double")).cast("long")), lit(0L)).as("__s"))
    val perSeason = d.groupBy("__szn", "__yc")
      .agg(count(lit(1)).as("__t"))
      .groupBy("__szn")
      .agg(sum("__t").as("__ns"),
        sum(col("__t") * (col("__t") - 1) *
          (lit(2L) * col("__t") + 5)).as("__tt"))
    val varTot = perSeason.agg(sum("__ns").as("n_days"),
      count(lit(1)).as("n_seasons"),
      sum(col("__ns") * (col("__ns") - 1) *
        (lit(2L) * col("__ns") + 5) - col("__tt")).as("__v18"))
    val vs = col("__v18").cast("double") / 18.0
    varTot.crossJoin(broadcast(s))
      .select(col("n_days"), col("n_seasons"),
        col("__s").as("s_stat"),
        round(when(col("__s") > 0 && vs > 0,
            (col("__s") - 1).cast("double") / sqrt(vs))
          .when(col("__s") < 0 && vs > 0,
            (col("__s") + 1).cast("double") / sqrt(vs))
          .otherwise(lit(0.0)), 6).as("z_stat"))
  }

  /** Correlogram PER GROUP: lag-1..maxLag autocorrelation of each
    * group's daily total (classic form — centered on the group mean,
    * normalized by the group sum of squares) — q200's ACF, swept
    * across segments ("which event types carry momentum"). Lag
    * windows partition by group; the centered products quantize to
    * DECIMAL(38,6) before the per-(group, lag) sums. Returns
    * (group, lag, n_days, acf 6dp) ordered. */
  def acfByGroup(events: DataFrame, groupCol: String, tsCol: String,
                 valueCol: String, maxLag: Int = 3): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(maxLag >= 1 && maxLag <= 14)
    val d = Tables.ltzTs(events, tsCol)
      .filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), to_date(col(tsCol)).as("__day"))
      .agg(Lattice.centsSum(col(valueCol))
        .cast("double").as("__y"))
    val wt = Window.partitionBy("__g")
    val wo = Window.partitionBy("__g").orderBy("__day")
    val base = d
      .withColumn("__n", count(lit(1)).over(wt))
      .withColumn("__m", sum(col("__y").cast(DecimalType(28, 2)))
        .over(wt).cast("double") / col("__n"))
      .withColumn("__c", col("__y") - col("__m"))
    val denom = base.groupBy("__g")
      .agg(first("__n").as("n_days"),
        sum(round(col("__c") * col("__c"), 6).cast(DecimalType(38, 6)))
          .cast("double").as("__ss"))
    val lags = (1 to maxLag).map { k =>
      base.withColumn("__ck", lag("__c", k).over(wo))
        .filter(col("__ck").isNotNull)
        .groupBy("__g")
        .agg(sum(round(col("__c") * col("__ck"), 6)
          .cast(DecimalType(38, 6))).cast("double").as("__num"))
        .select(col("__g"), lit(k).as("lag"), col("__num"))
    }.reduce(_ unionByName _)
    lags.join(denom, Seq("__g"))
      .select(col("__g").as("group"), col("lag"), col("n_days"),
        round(try_divide(col("__num"), col("__ss")), 6).as("acf"))
      .orderBy("group", "lag")
  }

  /** Day-over-day streak report on the daily total: up/down day
    * counts, the LONGEST up and down streaks, and the streak running
    * at the series end (signed: +k up, −k down) — the momentum
    * read-out an ops dashboard wants next to q203's slope. Flat days
    * (exact cent tie) break every streak. Gaps-and-islands over the
    * day frame, all-integer. Returns one row: (n_days, n_up, n_down,
    * longest_up, longest_down, current_streak). */
  def streaks(events: DataFrame, tsCol: String,
              valueCol: String): DataFrame = {
    val d = daily(events, tsCol, valueCol)
      .select(col("day"),
        (col("total").cast("decimal(18,2)") * 100).cast("long")
          .as("__yc"))
    val w = Window.orderBy("day")
    val signed = d
      .withColumn("__dir",
        when(col("__yc") > lag("__yc", 1).over(w), 1)
          .when(col("__yc") < lag("__yc", 1).over(w), -1)
          .otherwise(0))
      .filter(col("__dir").isNotNull)
    val wRun = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runs = signed
      .withColumn("__rn", count(lit(1)).over(wRun))
      .withColumn("__chg", when(lag("__dir", 1).over(w).isNull ||
        lag("__dir", 1).over(w) =!= col("__dir"), 1L).otherwise(0L))
      .withColumn("__grp", sum("__chg").over(wRun))
    val runLens = runs.filter(col("__dir") =!= 0)
      .groupBy("__grp")
      .agg(first("__dir").as("__dir"), count(lit(1)).as("__len"),
        max("__rn").as("__lastRn"))
    val nTot = d.agg(count(lit(1)).as("n_days"))
    val lastRn = runs.agg(max("__rn").as("__mx"))
    runLens.crossJoin(broadcast(lastRn))
      .agg(coalesce(sum(when(col("__dir") === 1, col("__len"))),
          lit(0L)).as("n_up"),
        coalesce(sum(when(col("__dir") === -1, col("__len"))),
          lit(0L)).as("n_down"),
        coalesce(max(when(col("__dir") === 1, col("__len"))), lit(0L))
          .as("longest_up"),
        coalesce(max(when(col("__dir") === -1, col("__len"))),
          lit(0L)).as("longest_down"),
        coalesce(max(when(col("__lastRn") === col("__mx"),
          col("__dir") * col("__len"))), lit(0L)).as("current_streak"))
      .crossJoin(broadcast(nTot))
      .select(col("n_days"), col("n_up"), col("n_down"),
        col("longest_up"), col("longest_down"), col("current_streak"))
  }
}
