package graft.operators

import graft.core.{Checkpoints, Lattice}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Period-over-period BI reporting and behavioral transition analysis —
  * the weekly-report queries every analytics deployment runs.
  *
  * Scale shape: the heavy step is ONE period groupBy that collapses the
  * corpus to period-cardinality rows; the lag/moving-average windows
  * run over THAT table (52 rows a year), so the "global" window is
  * metadata-sized by construction. Transitions are a per-entity lag —
  * one shuffle on the entity key.
  */
object Reporting {

  /** Weekly metric report: (week, n, total 6dp, pct_change 6dp,
    * ma4 6dp) — percentage change vs the previous week and the
    * trailing 4-week moving average (current included). Sums
    * accumulate in DECIMAL(18,2) (order-independent addition), through
    * `Lattice.centsSum`: exact cents in a 128-bit sum, no per-row
    * BigDecimal.
    */
  def weeklyReport(events: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val ev = graft.core.Tables.ltzTs(events, tsCol)
    val weekly = ev.groupBy(date_trunc("week", col(tsCol)).as("week"))
      .agg(count(lit(1)).as("n"),
        Lattice.centsSum(col(valueCol)).cast("double").as("__t"))
    val w = Window.orderBy("week")
    val ma = Window.orderBy("week").rowsBetween(-3, 0)
    weekly.select(col("week"), col("n"),
        round(col("__t"), 6).as("total"),
        round((col("__t") - lag("__t", 1).over(w)) / lag("__t", 1).over(w), 6)
          .as("pct_change"),
        round(avg("__t").over(ma), 6).as("ma4"))
  }

  /** Pareto / ABC contribution analysis: rank entities by a metric,
    * accumulate their share, and classify A (first `aCut` of the
    * total), B (to `bCut`), C (rest) — the 80/20 inventory query.
    * The corpus collapses to entity cardinality in one groupBy; the
    * ordered cumulative window runs over THAT table (catalog-sized).
    * Deterministic: ties ordered by entity id; shares at 6dp.
    * Returns (entity, total 6dp, share 6dp, cum_share 6dp, abc_class).
    */
  def abcAnalysis(df: DataFrame, entityCol: String, valueCol: String,
                  aCut: Double = 0.8, bCut: Double = 0.95): DataFrame = {
    require(aCut > 0 && aCut < bCut && bCut < 1)
    val totals = df.groupBy(col(entityCol).as("entity"))
      .agg(Lattice.centsSum(col(valueCol)).cast("double").as("__t"))
    val g = totals.agg(sum("__t")).head()
    if (g.isNullAt(0))
      return df.sparkSession.range(0).select(lit("").as("entity"),
        lit(0.0).as("total"), lit(0.0).as("share"),
        lit(0.0).as("cum_share"), lit("").as("abc_class"))
    val grand = g.getDouble(0)
    val w = Window.orderBy(desc("__t"), asc("entity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    totals
      .withColumn("__cum", sum("__t").over(w))
      .select(col("entity"), round(col("__t"), 6).as("total"),
        round(col("__t") / grand, 6).as("share"),
        round(col("__cum") / grand, 6).as("cum_share"),
        when(round(col("__cum") / grand, 6) <= aCut, "A")
          .when(round(col("__cum") / grand, 6) <= bCut, "B")
          .otherwise("C").as("abc_class"))
  }

  /** Last-touch attribution: each conversion event is credited to the
    * entity's most recent PRIOR touch event (strictly earlier ts; ties
    * at the same ts are not touches for that conversion). One
    * entity-keyed union-tag window — the as-of kernel, no join operator
    * in the plan. Returns (touch_type, n_conversions, value_sum 6dp);
    * conversions with no prior touch attribute to '(none)'.
    */
  def lastTouchAttribution(events: DataFrame, userCol: String, tsCol: String,
                           typeCol: String, conversionType: String,
                           touchTypes: Seq[String]): DataFrame = {
    require(!touchTypes.contains(conversionType),
      "a conversion type cannot also be a touch type")
    val ev = graft.core.Tables.ltzTs(events, tsCol)
    val w = Window.partitionBy(userCol)
      .orderBy(unix_micros(col(tsCol)))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tagged = ev.withColumn("__touch",
      when(col(typeCol).isin(touchTypes: _*), col(typeCol)))
    // last_value over a running frame ignoring nulls = most recent touch
    // AT OR BEFORE this row; shift by excluding the current row via a
    // -1 upper bound so a conversion can't touch itself
    val wPrior = Window.partitionBy(userCol)
      .orderBy(unix_micros(col(tsCol)), col(typeCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    tagged
      .withColumn("__attr", last(col("__touch"), ignoreNulls = true).over(wPrior))
      .filter(col(typeCol) === conversionType)
      .groupBy(coalesce(col("__attr"), lit("(none)")).as("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
        round(Lattice.centsSum(col("value")).cast("double"), 6)
          .as("value_sum"))
  }

  /** Multi-touch attribution with exponential time decay: every touch
    * in the `lookbackDays` window before a conversion earns weight
    * 1/2^floor(Δdays / halfLifeDays), normalized per conversion so each
    * conversion distributes exactly one unit of credit; conversions
    * with no in-window touch credit '(none)'. Returns one row per
    * touch type: (touch_type, credits 6dp, n_conversions).
    *
    * Numerics: the decay weights are a CASE ladder of exact dyadic
    * literals (1, 0.5, 0.25, …) — never `pow`, whose libm results
    * differ in the last ulp across engines — so weight sums and the
    * per-conversion normalization are bit-identical anywhere and the
    * operator is oracle-checkable.
    *
    * Scale shape: conversions equi-join touches on the USER key with a
    * time-range predicate (the per-entity journey shape — pair volume
    * is Σ_user conv_u · touch_u, bounded by journey length, never a
    * corpus self-join), then one conversion-keyed aggregate for the
    * normalizer and one touch-type groupBy. */
  def timeDecayAttribution(events: DataFrame, userCol: String, tsCol: String,
                           typeCol: String, idCol: String,
                           conversionType: String, touchTypes: Seq[String],
                           lookbackDays: Int = 30,
                           halfLifeDays: Int = 7): DataFrame = {
    require(!touchTypes.contains(conversionType),
      "a conversion type cannot also be a touch type")
    require(lookbackDays >= 1 && halfLifeDays >= 1)
    val ev = graft.core.Tables.ltzTs(events, tsCol)
    val conv = ev.filter(col(typeCol) === conversionType)
      .select(col(userCol).as("__u"), col(idCol).as("__cid"),
        unix_micros(col(tsCol)).as("__cts"))
    val touch = ev.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("__u"), col(typeCol).as("__t"),
        unix_micros(col(tsCol)).as("__tts"))
    val lookbackUs = lookbackDays * 86400000000L
    val paired = conv.join(touch, Seq("__u"))
      .filter(col("__tts") < col("__cts") &&
        col("__tts") >= col("__cts") - lookbackUs)
    val kMax = lookbackDays / halfLifeDays
    val k = floor((col("__cts") - col("__tts")).cast("double") /
      86400000000.0 / halfLifeDays)
    // scalb, not 1L << i: the JVM masks shift counts to 6 bits, so
    // lookback/halfLife > 62 would silently wrap the weight back toward
    // 1.0; scalb stays an exact dyadic down to 2^-1074 then underflows
    val weight = (0 to kMax).foldLeft(when(lit(false), 0.0)) { (acc, i) =>
      acc.when(k === i, lit(math.scalb(1.0, -i)))
    }.otherwise(lit(math.scalb(1.0, -kMax)))
    val weighted = paired.withColumn("__w", weight)
    val norm = weighted.groupBy("__cid").agg(sum("__w").as("__wsum"))
    // credits quantize to DECIMAL(28,18) before summing: decimal
    // addition is order-independent, so the per-type totals are exact
    // whatever partition order each engine sums in
    val credited = weighted.join(norm, "__cid")
      .select(col("__t"),
        (col("__w") / col("__wsum")).cast(DecimalType(28, 18)).as("__credit"),
        col("__cid"))
    // untouched conversions: full unit of credit to '(none)'
    val untouched = conv.join(weighted.select("__cid").distinct(),
        Seq("__cid"), "left_anti")
      .select(lit("(none)").as("__t"),
        lit(1.0).cast(DecimalType(28, 18)).as("__credit"), col("__cid"))
    credited.unionByName(untouched)
      .groupBy(col("__t").as("touch_type"))
      .agg(round(sum("__credit").cast("double"), 6).as("credits"),
        countDistinct("__cid").as("n_conversions"))
  }

  /** RFM segmentation: per user — recency (days since last event at
    * `asOf`), frequency (event count), monetary (decimal-summed value)
    * — each scored 1..bins by exact quantile thresholds over the USER
    * table (6dp-quantized edges, the engine-stable binning convention).
    * High score = good: recent, frequent, high-value. One corpus
    * groupBy + one percentile aggregate; scoring is a projection.
    * Returns (user, recency_days 6dp, frequency, monetary 6dp,
    * r_score, f_score, m_score, segment "RFM").
    */
  def rfmSegments(events: DataFrame, userCol: String, tsCol: String,
                  valueCol: String, asOf: java.sql.Timestamp,
                  bins: Int = 4): DataFrame = Checkpoints.scoped {
    require(bins >= 2)
    val ev = graft.core.Tables.ltzTs(events, tsCol)
      .filter(col(tsCol) <= lit(asOf))
    // feeds the percentile action AND the output
    val perUser = Checkpoints.local(ev.groupBy(col(userCol).as("user"))
      .agg(
        ((lit(asOf.getTime * 1000L) - max(unix_micros(col(tsCol)))) /
          lit(86400.0 * 1e6)).as("recency_days"),
        count(lit(1)).as("frequency"),
        Lattice.centsSum(col(valueCol)).cast("double").as("monetary")))
    val ps = (1 until bins).map(_.toDouble / bins)
    // ONE percentile aggregate for all three edge sets (three separate
    // driver actions here were the round-10 ladder's only unexplained
    // super-linear entry: each was its own full sort job)
    val edgeRow = perUser.agg(
      graft.functions.ExactPercentiles
        .exactPercentiles(col("recency_days").cast("double"), ps),
      graft.functions.ExactPercentiles
        .exactPercentiles(col("frequency").cast("double"), ps),
      graft.functions.ExactPercentiles
        .exactPercentiles(col("monetary").cast("double"), ps)).head()
    def edges(i: Int): Seq[Double] =
      if (edgeRow.isNullAt(i)) Seq.empty
      else edgeRow.getSeq[Double](i).map(e =>
        BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    def bin(c: String, es: Seq[Double]) =
      es.foldLeft(lit(0))((acc, e) => acc + when(col(c) > e, 1).otherwise(0))
    val (re, fe, me) = (edges(0), edges(1), edges(2))
    if (re.isEmpty) return perUser.limit(0)
      .select(col("user"), col("recency_days"), col("frequency"), col("monetary"),
        lit(0).as("r_score"), lit(0).as("f_score"), lit(0).as("m_score"),
        lit("").as("segment"))
    perUser.select(col("user"),
        round(col("recency_days"), 6).as("recency_days"),
        col("frequency"), round(col("monetary"), 6).as("monetary"),
        (lit(bins) - bin("recency_days", re)).as("r_score"), // recent = high
        (bin("frequency", fe) + 1).as("f_score"),
        (bin("monetary", me) + 1).as("m_score"))
      .withColumn("segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
  }

  /** Per-user event-type transition matrix: (from_type, to_type, n,
    * p 6dp) where p is row-normalized (Markov transition probability).
    * One entity-keyed lag window + one pair groupBy; ties at the same
    * (ts) are ordered by an id column for determinism.
    */
  def transitions(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, idCol: String): DataFrame = {
    val ev = graft.core.Tables.ltzTs(events, tsCol)
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val pairs = ev
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum("n").as("__tot"))
    pairs.join(totals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n") / col("__tot"), 6).as("p"))
  }

  /** Sequential-pattern support: every length-`n` run of consecutive
    * event types inside a user journey, with its occurrence count —
    * the frequent-subsequence miner behind funnel discovery (which
    * ordered paths actually happen, before you hard-code a funnel).
    *
    * Scale shape: chained `lead`s over ONE entity-keyed window build
    * each n-gram in place (no collect_list materialization of whole
    * journeys, no explode), then one n-gram groupBy — two keyed
    * shuffles regardless of journey length. Deterministic: the window
    * orders by (ts, id). */
  def journeyNgrams(events: DataFrame, userCol: String, tsCol: String,
                    typeCol: String, idCol: String, n: Int = 3,
                    minSupport: Long = 2L): DataFrame = {
    require(n >= 2 && n <= 8, s"n $n out of range [2,8]")
    val ev = graft.core.Tables.ltzTs(events, tsCol)
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val steps = (1 until n).foldLeft(
        ev.withColumn("step_1", col(typeCol))) { (d, i) =>
      d.withColumn(s"step_${i + 1}", lead(col(typeCol), i).over(w))
    }
    steps.filter(col(s"step_$n").isNotNull)
      .groupBy((1 to n).map(i => col(s"step_$i")): _*)
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minSupport)
  }

  /** Conversion latency: for every entity with a `fromType` event, the
    * days from its FIRST `fromType` to its first `toType` strictly
    * after it — summarized as one row (n_started, n_converted,
    * conversion_rate, mean_days, p25/p50/p75 exact percentiles).
    *
    * Scale shape: one entity-keyed conditional aggregate collapses the
    * stream to a per-entity (start, convert) pair — the funnel-step
    * pattern — then ONE summary aggregate over entity-cardinality
    * rows. The "first toType AFTER the start" needs a per-entity
    * two-phase min (min start, then min toType > start) which folds
    * into the SAME groupBy via a conditional on the windowless
    * min-start … computed by a self-aggregated join: start frame
    * (entity, t0) joins back to the toType events once, keyed on
    * entity. Two shuffles total, both on the entity key. */
  def conversionLatency(events: DataFrame, userCol: String, tsCol: String,
                        typeCol: String, fromType: String,
                        toType: String): DataFrame = {
    val ev = graft.core.Tables.ltzTs(events, tsCol)
    val starts = ev.filter(col(typeCol) === fromType)
      .groupBy(col(userCol))
      .agg(min(unix_micros(col(tsCol))).as("__t0"))
    val converts = ev.filter(col(typeCol) === toType)
      .select(col(userCol), unix_micros(col(tsCol)).as("__tc"))
    starts.join(converts, Seq(userCol), "left")
      .groupBy(col(userCol), col("__t0"))
      .agg(min(when(col("__tc") > col("__t0"), col("__tc"))).as("__conv"))
      .select(((col("__conv") - col("__t0")) / lit(86400.0 * 1e6))
        .as("__days"))
      .agg(count(lit(1)).as("n_started"),
        count(col("__days")).as("n_converted"),
        round(count(col("__days")) / count(lit(1)).cast("double"), 6)
          .as("conversion_rate"),
        round(avg(col("__days")), 6).as("mean_days"),
        round(percentile(col("__days"), lit(0.25)), 6).as("p25_days"),
        round(percentile(col("__days"), lit(0.5)), 6).as("p50_days"),
        round(percentile(col("__days"), lit(0.75)), 6).as("p75_days"))
  }

  /** Revenue-decile migration matrix: bucket users by period-1 spend
    * decile and period-2 spend decile (periods = first/second half of
    * the observed time range), and report where each decile's users
    * moved — the "are my whales churning" matrix behind every
    * retention review. Deciles use exact percentile EDGES as
    * 6dp-quantized plan constants (per period, users present in both).
    *
    * Scale shape: one user×period groupBy (decimal sums) collapses the
    * corpus; edges are two bounded percentile aggregates; the matrix
    * is a ≤100-cell groupBy. Returns (d1, d2, n_users,
    * share_of_d1 6dp) ordered by (d1, d2). */
  def decileMigration(events: DataFrame, userCol: String, tsCol: String,
                      valueCol: String, buckets: Int = 10): DataFrame = Checkpoints.scoped {
    require(buckets >= 2 && buckets <= 20)
    val ev = graft.core.Tables.ltzTs(events, tsCol)
      .filter(col(valueCol).isNotNull)
    // sum < 2^53 (micros epochs), so the double /2 is exact and the
    // truncating cast equals the oracle's integer //
    val mid = ev.agg(((unix_micros(min(col(tsCol))) +
        unix_micros(max(col(tsCol)))) / 2).cast("long").as("__mid"))
      .head().getLong(0)
    val spend = ev
      .groupBy(col(userCol).as("__u"),
        (unix_micros(col(tsCol)) <= mid).as("__p1"))
      .agg(Lattice.centsSum(col(valueCol)).cast("double")
        .as("__s"))
    val both = Checkpoints.local(spend.groupBy("__u").agg(count(lit(1)).as("__np"),
        sum(when(col("__p1"), col("__s"))).as("s1"),
        sum(when(!col("__p1"), col("__s"))).as("s2"))
      .filter(col("__np") === 2))
    def edges(c: String): Seq[Double] = {
      val ps = (1 until buckets).map(_.toDouble / buckets)
      both.agg(graft.functions.ExactPercentiles
        .exactPercentiles(col(c), ps)).head().getSeq[Double](0)
        .map(e => BigDecimal(e)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    def bucketOf(c: String, es: Seq[Double]): Column =
      es.foldLeft(lit(0))((acc, e) =>
        acc + when(col(c) > e, 1).otherwise(0))
    val (e1, e2) = (edges("s1"), edges("s2"))
    val cells = both
      .select(bucketOf("s1", e1).cast("long").as("d1"),
        bucketOf("s2", e2).cast("long").as("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_users"))
    val rowTot = cells.groupBy("d1").agg(sum("n_users").as("__r"))
    Checkpoints.local(cells.join(rowTot, Seq("d1"))
      .select(col("d1"), col("d2"), col("n_users"),
        round(col("n_users").cast("double") / col("__r"), 6)
          .as("share_of_d1"))
      .orderBy("d1", "d2"))
  }

  /** Matched-basket price indices per month — Laspeyres (base-weighted),
    * Paasche (current-weighted) and Fisher (their geometric mean): "how
    * much of the revenue move is PRICE vs volume," the deflator every
    * period-over-period revenue report needs. Unit prices are
    * Σrevenue/Σqty per (month, item); each month's basket is matched
    * inner-join against the BASE month (first month observed), the
    * standard matched-model rule.
    *
    * Scale shape: ONE (month, item) groupBy with decimal sums collapses
    * the corpus; the base basket is a broadcast join; each index is one
    * aggregate over the matched frame. Returns per month:
    * (month, n_matched, laspeyres 6dp, paasche 6dp, fisher 6dp). */
  def priceIndex(df: DataFrame, dateCol: String, itemCol: String,
                 revenueCol: String, qtyCol: String): DataFrame = Checkpoints.scoped {
    val pm = Checkpoints.local(df.filter(col(revenueCol).isNotNull && col(qtyCol).isNotNull)
      .groupBy(trunc(col(dateCol), "month").as("month"),
        col(itemCol).as("__it"))
      .agg(Lattice.centsSum(col(revenueCol)).as("__rev"),
        Lattice.centsSum(col(qtyCol)).as("__qty"))
      .filter(col("__qty") > 0)
      .select(col("month"), col("__it"),
        (col("__rev").cast("double") / col("__qty").cast("double"))
          .as("__p"),
        col("__qty").cast("double").as("__q")))
    val base = pm.crossJoin(broadcast(pm.agg(min("month").as("__m0"))))
      .filter(col("month") === col("__m0"))
      .select(col("__it"), col("__p").as("__p0"), col("__q").as("__q0"))
    Checkpoints.local(pm.join(broadcast(base), Seq("__it"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_matched"),
        round(sum(col("__p") * col("__q0")) /
          sum(col("__p0") * col("__q0")), 6).as("laspeyres"),
        round(sum(col("__p") * col("__q")) /
          sum(col("__p0") * col("__q")), 6).as("paasche"),
        round(sqrt((sum(col("__p") * col("__q0")) /
            sum(col("__p0") * col("__q0"))) *
          (sum(col("__p") * col("__q")) /
            sum(col("__p0") * col("__q")))), 6).as("fisher"))
      .select(col("month").cast("timestamp").as("month"),
        col("n_matched"), col("laspeyres"), col("paasche"), col("fisher"))
      .orderBy("month"))
  }

  /** Exact Shapley-value channel attribution (coalition value = number
    * of conversions among journeys whose touched-channel SET is
    * contained in the coalition — the standard simplified game of
    * Zhao et al. 2018). The game-theoretic member of the attribution
    * family next to last-touch (q192), time-decay (q242) and Markov
    * removal (q249): order-free, axiom-fair, and exact because channel
    * cardinality is small.
    *
    * Scale shape: the corpus collapses in ONE pass to a per-journey
    * channel BITMASK + converted flag (distinct pre-conversion touch
    * types, bit_or-aggregated), then to a ≤2^c-row mask-count frame —
    * METADATA. v(S) for all 2^c coalitions is one containment join of
    * that frame with the coalition range ((m & S) = m); the Shapley
    * sum is a (2^c × c) join with exact factorial-literal weights
    * s!(c−1−s)!/c!. Requires c ≤ 12 (4096 coalitions), loud beyond.
    * Returns (channel, shapley 6dp, share 6dp), one row per channel,
    * ordered by channel. */
  def shapleyAttribution(events: DataFrame, userCol: String, tsCol: String,
                         typeCol: String, convType: String): DataFrame = Checkpoints.scoped {
    val spark = events.sparkSession
    val ev = graft.core.Tables.ltzTs(events, tsCol)
    // channel index: distinct non-conversion types, alphabetic
    val channels = ev.filter(col(typeCol) =!= convType)
      .select(col(typeCol).as("ch")).distinct()
      .orderBy("ch").limit(13).collect().map(_.getString(0))
    val c = channels.length
    require(c >= 1 && c <= 12,
      s"shapleyAttribution needs 1..12 channels, got $c")
    val chIdx = channels.zipWithIndex
    // journey mask: distinct channels touched STRICTLY BEFORE the
    // first conversion (never-converters contribute their whole set)
    val firstConv = ev.filter(col(typeCol) === convType)
      .groupBy(col(userCol).as("__u")).agg(min(col(tsCol)).as("__tc"))
    val bit = chIdx.foldLeft(lit(0L)) { case (acc, (name, i)) =>
      when(col(typeCol) === name, lit(1L << i)).otherwise(acc) }
    val journeys = ev.filter(col(typeCol) =!= convType)
      .join(firstConv, col(userCol) === col("__u"), "left")
      .filter(col("__tc").isNull || col(tsCol) < col("__tc"))
      .groupBy(col(userCol))
      .agg(bit_or(bit).as("mask"),
        max(when(col("__tc").isNotNull, 1L).otherwise(0L)).as("conv"))
    val maskConv = Checkpoints.local(journeys.groupBy("mask")
      .agg(sum("conv").as("__nc")))
    // v(S) = Σ_{m ⊆ S} conv(m) over all 2^c coalitions
    val coalitions = spark.range(0L, 1L << c).select(col("id").as("S"))
    val v = Checkpoints.local(coalitions.join(maskConv,
        (col("mask").bitwiseAND(col("S"))) === col("mask"), "left")
      .groupBy("S").agg(coalesce(sum("__nc"), lit(0L)).as("v")))
    // exact factorial literals (0!..12! are exact doubles)
    val fact = (1 to 12).scanLeft(1.0)((a, k) => a * k) // fact(k) at k
    def ft(k: Column): Column = (0 to 12).foldLeft(lit(Double.NaN)) {
      (acc, i) => when(k === i, lit(fact(i))).otherwise(acc) }
    val chDf = spark.createDataFrame(chIdx.map { case (n, i) =>
      (n, 1L << i) }).toDF("channel", "__bit")
    val popcnt = (0 until c).map(b =>
      shiftright(col("S"), b).bitwiseAND(lit(1L))).reduce(_ + _)
    val terms = v.join(chDf, col("S").bitwiseAND(col("__bit")) === 0L)
      .withColumn("__s2", col("S").bitwiseOR(col("__bit")))
      .join(v.select(col("S").as("__s2"), col("v").as("__v2")), Seq("__s2"))
      .withColumn("__w",
        ft(popcnt) * ft(lit(c - 1) - popcnt) / lit(fact(c)))
      .groupBy("channel")
      .agg(sum(col("__w") * (col("__v2") - col("v"))).as("__sh"))
    val tot = terms.agg(sum("__sh").as("__tot"))
    Checkpoints.local(terms.crossJoin(broadcast(tot))
      .select(col("channel"), round(col("__sh"), 6).as("shapley"),
        round(when(col("__tot") > 0, col("__sh") / col("__tot")), 6)
          .as("share"))
      .orderBy("channel"))
  }

  /** Position-based (U-shaped 40/20/40) multi-touch attribution:
    * within the lookback window before each conversion, the first and
    * last touches earn 0.4 each and the middles split the remaining
    * 0.2 (single touch = 1.0, two touches = 0.5/0.5) — the
    * position-weighted member of the attribution family (last-touch
    * q192, time-decay q242, Markov q249, Shapley q303). Credits
    * quantize to DECIMAL(28,18) before the per-type sums (order-free);
    * untouched conversions credit '(none)'. Returns
    * (touch_type, credits 6dp, n_conversions). */
  def positionAttribution(events: DataFrame, userCol: String,
                          tsCol: String, typeCol: String,
                          idCol: String, conversionType: String,
                          touchTypes: Seq[String],
                          lookbackDays: Int = 30): DataFrame = {
    require(!touchTypes.contains(conversionType),
      "a conversion type cannot also be a touch type")
    val ev = graft.core.Tables.ltzTs(events, tsCol)
    val conv = ev.filter(col(typeCol) === conversionType)
      .select(col(userCol).as("__u"), col(idCol).as("__cid"),
        unix_micros(col(tsCol)).as("__cts"))
    val touch = ev.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("__u"), col(typeCol).as("__t"),
        unix_micros(col(tsCol)).as("__tts"))
    val lookbackUs = lookbackDays * 86400000000L
    val paired = conv.join(touch, Seq("__u"))
      .filter(col("__tts") < col("__cts") &&
        col("__tts") >= col("__cts") - lookbackUs)
    val w = Window.partitionBy("__cid")
      .orderBy(col("__tts"), col("__t"))
    val ranked = paired
      .withColumn("__rn", row_number().over(w))
      .withColumn("__k", count(lit(1))
        .over(Window.partitionBy("__cid")))
    val credit = when(col("__k") === 1, lit(1.0))
      .when(col("__rn") === 1 || col("__rn") === col("__k"),
        when(col("__k") === 2, lit(0.5)).otherwise(lit(0.4)))
      .otherwise(lit(0.2) / (col("__k") - 2).cast("double"))
    val credited = ranked.select(col("__t"),
      credit.cast(DecimalType(28, 18)).as("__credit"), col("__cid"))
    val untouched = conv.join(paired.select("__cid").distinct(),
        Seq("__cid"), "left_anti")
      .select(lit("(none)").as("__t"),
        lit(1.0).cast(DecimalType(28, 18)).as("__credit"),
        col("__cid"))
    credited.unionByName(untouched)
      .groupBy(col("__t").as("touch_type"))
      .agg(round(sum("__credit").cast("double"), 6).as("credits"),
        countDistinct("__cid").as("n_conversions"))
      .orderBy("touch_type")
  }

  /** Hour-of-week activity heatmap: (dow, hour) event counts with the
    * share of total — the capacity-planning profile behind batch
    * windows and alert baselines (Spark's dayofweek convention,
    * 1 = Sunday). One integer groupBy; the share divides once.
    * Returns (dow, hour, n, share 6dp) ordered. */
  def hourlyProfile(events: DataFrame, tsCol: String): DataFrame = {
    val ev = graft.core.Tables.ltzTs(events, tsCol)
    val cells = ev.groupBy(dayofweek(col(tsCol)).as("dow"),
        hour(col(tsCol)).as("hour"))
      .agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum("n").as("__t"))
    cells.crossJoin(broadcast(tot))
      .select(col("dow"), col("hour"), col("n"),
        round(col("n").cast("double") / col("__t"), 6).as("share"))
      .orderBy("dow", "hour")
  }

  /** Weekend lift: Welch comparison of weekend vs weekday DAILY
    * totals — mean ratio and t statistic, the seasonality effect size
    * q189's day-of-week profile only hints at. Exact decimal daily
    * totals and moments; one day-frame aggregate. Returns one row:
    * (n_weekend, n_weekday, mean_weekend 6dp, mean_weekday 6dp,
    * lift 6dp, t_stat 6dp). */
  def weekendLift(events: DataFrame, tsCol: String,
                  valueCol: String): DataFrame = {
    val ev = graft.core.Tables.ltzTs(events, tsCol)
    val daily = ev.filter(col(valueCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("__day"))
      .agg(Lattice.centsSum(col(valueCol)).as("__t"))
      .withColumn("__we", dayofweek(col("__day")).isin(1, 7))
    val g = daily.agg(
      sum(col("__we").cast("long")).as("n_weekend"),
      sum((!col("__we")).cast("long")).as("n_weekday"),
      sum(when(col("__we"), col("__t"))).cast("double").as("__sw"),
      sum(when(!col("__we"), col("__t"))).cast("double").as("__sd"),
      sum(when(col("__we"), col("__t") * col("__t"))).cast("double")
        .as("__qw"),
      sum(when(!col("__we"), col("__t") * col("__t"))).cast("double")
        .as("__qd"))
    val (nw, nd) = (col("n_weekend").cast("double"),
      col("n_weekday").cast("double"))
    // try_divide throughout: a window with zero (or exactly one)
    // weekend/weekday day makes a divisor DOUBLE 0.0 — DIVIDE_BY_ZERO
    // under ANSI; null means "not estimable", matching DuckDB's
    // null-on-zero-divide in the oracle twin.
    val mw = try_divide(col("__sw"), nw)
    val md = try_divide(col("__sd"), nd)
    val vw = try_divide(col("__qw") - nw * mw * mw, nw - 1)
    val vd = try_divide(col("__qd") - nd * md * md, nd - 1)
    g.select(col("n_weekend"), col("n_weekday"),
      round(mw, 6).as("mean_weekend"), round(md, 6).as("mean_weekday"),
      round(try_divide(mw, md), 6).as("lift"),
      round(try_divide(mw - md, sqrt(vw / nw + vd / nd)), 6)
        .as("t_stat"))
  }

  /** Order-to-last-ship LEAD-TIME profile per priority class: whole
    * days from header date to the max detail ship date, summarized as
    * mean and type-1 p50/p90/p99 — the fulfillment-SLA table (q212
    * gives one conversion mean; q476 covers event-stream gaps; this is
    * the header/detail lead-time tail by service class).
    *
    * Scale shape: one map-combinable groupBy of the detail to per-key
    * max-ship, one key equi-join to the header, then the lead times
    * collapse to (priority, days) CELLS — the percentile prefix
    * windows sort cells (≤ #priorities x max-days rows), never orders;
    * integer-lattice thresholds (cum*k >= n*q), exact integer sums for
    * the mean. Headers with no detail rows drop. */
  def leadTimeProfile(headers: DataFrame, detail: DataFrame,
                      headerKey: String, detailKey: String,
                      startCol: String, endCol: String,
                      classCol: String): DataFrame = {
    val last = detail.groupBy(detailKey)
      .agg(max(to_date(col(endCol))).as("__last"))
    val cells = headers.join(last, col(headerKey) === col(detailKey))
      .select(col(classCol).as("priority"),
        datediff(col("__last"), to_date(col(startCol))).cast("long")
          .as("__lead"))
      .groupBy("priority", "__lead")
      .agg(count(lit(1)).as("__c"))
    val wc = Window.partitionBy("priority").orderBy("__lead")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy("priority")
    cells
      .withColumn("__cum", sum("__c").over(wc))
      .withColumn("__n", sum("__c").over(wt))
      .withColumn("__days", sum(col("__lead") * col("__c")).over(wt))
      .groupBy("priority")
      .agg(first("__n").as("n_orders"),
        round(first("__days").cast("double") / first("__n"), 4)
          .as("mean_days"),
        min(when(col("__cum") * 2 >= col("__n"), col("__lead")))
          .as("p50_days"),
        min(when(col("__cum") * 10 >= col("__n") * 9, col("__lead")))
          .as("p90_days"),
        min(when(col("__cum") * 100 >= col("__n") * 99, col("__lead")))
          .as("p99_days"))
      .orderBy("priority")
  }

  /** NEW vs REPEAT revenue ledger by month: each customer's first-ever
    * order month splits every later month's revenue into acquisition
    * (first-month customers) and retention (returning customers) — the
    * growth-quality read behind every "is revenue growth new logos or
    * expansion?" board slide. Money stays on the DECIMAL lattice until
    * the final cast (the [[weeklyReport]] discipline); customer counts
    * are distinct within the month.
    *
    * Scale shape: one customer-keyed aggregate for the first month,
    * one key equi-join back (AQE picks broadcast when the customer
    * frame is small), one month-grain groupBy. Returns (month ISO
    * string, revenue_new, revenue_repeat, n_new_customers,
    * n_repeat_customers, new_revenue_share 6dp) ordered. */
  def newRepeatRevenue(orders: DataFrame, custCol: String,
                       tsCol: String, valCol: String): DataFrame = {
    val base = orders.select(col(custCol).as("__cust"),
      trunc(to_date(col(tsCol)), "month").as("__m"),
      col(valCol).cast(DecimalType(18, 2)).as("__v"))
    val first = base.groupBy("__cust").agg(min("__m").as("__fm"))
    val rNew = sum(when(col("__m") === col("__fm"), col("__v"))
      .otherwise(lit(null))).cast("double")
    val rRep = sum(when(col("__m") > col("__fm"), col("__v"))
      .otherwise(lit(null))).cast("double")
    base.join(first, Seq("__cust"))
      .groupBy(col("__m"))
      .agg(round(coalesce(rNew, lit(0.0)), 2).as("revenue_new"),
        round(coalesce(rRep, lit(0.0)), 2).as("revenue_repeat"),
        countDistinct(when(col("__m") === col("__fm"), col("__cust")))
          .as("n_new_customers"),
        countDistinct(when(col("__m") > col("__fm"), col("__cust")))
          .as("n_repeat_customers"))
      .select(date_format(col("__m"), "yyyy-MM-dd").as("month"),
        col("revenue_new"), col("revenue_repeat"),
        col("n_new_customers"), col("n_repeat_customers"),
        round(try_divide(col("revenue_new"),
          col("revenue_new") + col("revenue_repeat")), 6)
          .as("new_revenue_share"))
      .orderBy("month")
  }

  /** Disjoint-dimension marginals in ONE scan via GROUPING SETS —
    * the grouping-set shape ROLLUP (q147, hierarchical) and CUBE
    * (q148, full lattice) cannot express: per-dim1 totals, per-dim2
    * totals, and the grand total, with NO (dim1, dim2) cross cells.
    * `lvl` is the explicit grouping level (grouping(d1)·2 +
    * grouping(d2)); rolled-up dimensions surface as 'ALL' instead of
    * NULL so the compare never depends on engine null-sort order.
    *
    * Scale shape at 100 TB: Spark expands each input row once per
    * grouping set (3×) before ONE aggregate exchange — still a single
    * scan of the fact table where three separate GROUP BYs would scan
    * three times. Returns (lvl, d1, d2, n, total 6dp-exact decimal
    * sum as double). */
  def marginals(df: DataFrame, dim1: String, dim2: String,
                valCol: String): DataFrame = {
    val v = Lattice.centsSum(col(valCol)).cast("double")
    df.groupingSets(
        Seq(Seq(col(dim1)), Seq(col(dim2)), Seq.empty[Column]),
        col(dim1), col(dim2))
      // grouping() is only legal inside the grouping-sets aggregate
      .agg((grouping(col(dim1)) * 2 + grouping(col(dim2))).as("lvl"),
        count(lit(1)).as("n"), v.as("total"))
      .select(col("lvl"),
        coalesce(col(dim1), lit("ALL")).as(dim1),
        coalesce(col(dim2), lit("ALL")).as(dim2),
        col("n"), col("total"))
      .orderBy("lvl", dim1, dim2)
  }
}
