package graft.eda

import graft.core.{Checkpoints, Lattice}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inequality / concentration diagnostics per group: Gini coefficient,
  * Herfindahl-Hirschman index and the top-q share — the "is this
  * segment dominated by a few whales" read-out that pairs with the
  * ABC analysis (q191) and skew report (q169) when sizing salting and
  * partition strategies: a group with HHI near 1 is exactly the one
  * whose join key needs salting at 100 TB.
  *
  * Scale shape: one per-group sort window assigns Lorenz ranks, one
  * groupBy collapses to a #groups-sized frame. The window partitions
  * by the group key, so skew in the MEASURED data surfaces as window
  * skew here — for a pathological group, pre-aggregate values per
  * entity first (the q261 construction does: customer totals, not raw
  * orders, enter the sort).
  */
object Concentration {

  /** Per-group concentration over a non-negative measure. Gini uses
    * the sorted-index form G = (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n with xᵢ
    * ascending (ties are index-permutation-invariant: equal x make the
    * i·xᵢ sum identical under any tie order). HHI = Σ (xᵢ/Σx)², in
    * [1/n, 1]. `top_share` is the share held by the top
    * ceil(n·topFrac) values. Zero-total groups emit nulls (shares are
    * undefined). Negative values are accepted arithmetically but make
    * Gini exceed [0,1] — clamp upstream when the measure can go
    * negative. Returns (group, n, total, gini, hhi, top_share),
    * floats 6dp. */
  def concentration(df: DataFrame, groupCol: String, valueCol: String,
                    topFrac: Double = 0.1): DataFrame = {
    require(topFrac > 0 && topFrac <= 1, s"topFrac in (0,1], got $topFrac")
    val asc = Window.partitionBy(col("__g")).orderBy(col("__x").asc)
    val desc = Window.partitionBy(col("__g")).orderBy(col("__x").desc)
    import org.apache.spark.sql.types.DecimalType
    val ranked = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__x"),
        // reported total rides the exact cents lattice — a double sum
        // is summation-order noise beyond ~1e9 (the 100× sweep flipped
        // its 2dp), an exact integer converted through core/Lattice
        // is bit-identical at any scale
        (col(valueCol).cast(DecimalType(18, 2)) * lit(100))
          .cast(DecimalType(38, 0)).as("__xc"))
      .filter(col("__x").isNotNull)
      .withColumn("__i", row_number().over(asc))
      .withColumn("__ri", row_number().over(desc))
      .withColumn("__ng",
        count(lit(1)).over(Window.partitionBy("__g")))
    ranked.groupBy(col("__g").as("group"))
      .agg(count(lit(1)).as("n"),
        sum("__x").as("__t"),
        sum("__xc").as("__tc"),
        sum(col("__i") * col("__x")).as("__iw"),
        sum(col("__x") * col("__x")).as("__xx"),
        sum(when(col("__ri") <= ceil(col("__ng") * topFrac), col("__x"))
          .otherwise(lit(0.0))).as("__top"))
      // exact-lattice total; the O(1) ratios stay 6dp on the double
      // sums (relative float noise ~1e-16 is far inside 6dp)
      .withColumn("__td", expr(
        graft.core.Lattice.sparkPortableDouble("__tc")) / 100.0)
      .select(col("group"), col("n"),
        round(col("__td"), 2).as("total"),
        when(col("__t") =!= 0.0, round(
          lit(2.0) * col("__iw") / (col("n") * col("__t")) -
            (col("n") + lit(1.0)) / col("n"), 6)).as("gini"),
        when(col("__t") =!= 0.0,
          round(col("__xx") / (col("__t") * col("__t")), 6)).as("hhi"),
        when(col("__t") =!= 0.0,
          round(col("__top") / col("__t"), 6)).as("top_share"))
  }

  /** Theil-T inequality with its EXACT between/within decomposition —
    * the question [[concentration]]'s Gini can't answer: how much of
    * total inequality lives BETWEEN groups (sources, segments,
    * suppliers) vs WITHIN them? T = Σ_g s_g·T_g + Σ_g s_g·ln(μ_g/μ)
    * with s_g the group's share of total mass — an additive identity,
    * so the output's within + between terms sum to the repeated total.
    *
    * Scale shape: the whole statistic reduces to three additive
    * sufficient statistics per group — n, Σy (decimal-exact), Σ y·ln y
    * — in ONE map-combinable groupBy; globals are a second aggregate
    * over the #groups frame, broadcast back via crossJoin. Only
    * strictly positive values enter (ln). Per group:
    * T_g = (Σ y·ln y)/Σy − ln μ_g. Returns one row per group:
    * (grp, n, mean, mass_share, within_term, between_term,
    * theil_group, theil_total, theil_within, theil_between) 6dp,
    * the last three repeated. */
  def theilDecomposition(df: DataFrame, groupCol: String,
                         valueCol: String): DataFrame = {
    val y = col(valueCol).cast("double")
    val g = df.filter(y.isNotNull && y > 0)
      .groupBy(col(groupCol).as("grp")).agg(
        count(lit(1)).as("n"),
        Lattice.centsSum(col(valueCol)).as("__s"),
        sum(y * log(y)).as("__l"))
    val tot = g.agg(sum("n").as("__nTot"), sum("__s").as("__sTot"),
      sum("__l").as("__lTot"))
    val sD = col("__s").cast("double")
    val SD = col("__sTot").cast("double")
    val muG = sD / col("n")
    val mu = SD / col("__nTot")
    val tG = col("__l") / sD - log(muG)
    val share = sD / SD
    val scored = g.crossJoin(tot)
      .withColumn("__share", share)
      .withColumn("__tg", tG)
      .withColumn("__within", col("__share") * col("__tg"))
      .withColumn("__between", col("__share") * log(muG / mu))
      .withColumn("__ttot", col("__lTot") / SD - log(mu))
    val parts = scored.agg(sum("__within").as("__w"),
      sum("__between").as("__b"))
    scored.crossJoin(parts)
      .select(col("grp"), col("n"), round(muG, 6).as("mean"),
        round(col("__share"), 6).as("mass_share"),
        round(col("__within"), 6).as("within_term"),
        round(col("__between"), 6).as("between_term"),
        round(col("__tg"), 6).as("theil_group"),
        round(col("__ttot"), 6).as("theil_total"),
        round(col("__w"), 6).as("theil_within"),
        round(col("__b"), 6).as("theil_between"))
  }

  /** Hill estimator of the Pareto tail index over the top-k order
    * statistics: α̂ = k / Σᵢ₌₁..k ln(xᵢ/x₍k₊₁₎) — "how heavy is this
    * tail" in one number (α < 2 = infinite variance: means and
    * z-scores on this column lie; α < 1 = infinite mean). The
    * heavy-tail gate before trusting any moment-based read-out on
    * revenue/length columns.
    *
    * Scale shape: the top-(k+1) frame comes from a distributed
    * TakeOrderedAndProject (value desc, never a global sort); the sum
    * is an aggregate of that ≤k+1-row frame. Boundary ties are
    * value-identical so the estimator is tie-stable. Positive values
    * only (a log-scale statistic). Returns one row:
    * (n, k, x_k1 6dp, hill_alpha 6dp). */
  def hillTailIndex(df: DataFrame, valueCol: String,
                    k: Int = 100): DataFrame = Checkpoints.scoped {
    require(k >= 10 && k <= 100000)
    val v = col(valueCol).cast("double")
    val pos = df.filter(v.isNotNull && !isnan(v) && v > 0)
      .select(v.as("__v"))
    val n = pos.count()
    require(n >= 2L * k,
      s"hillTailIndex needs n >= 2k (n = $n, k = $k)")
    val top = Checkpoints.local(pos.orderBy(col("__v").desc).limit(k + 1))
    val xk1 = top.agg(min("__v")).head().getDouble(0)
    Checkpoints.local(top.filter(col("__v") > xk1)
      // the k rows above the threshold; with boundary ties the frame
      // may hold fewer — sum over what the cut kept, normalize by k
      .agg(sum(log(col("__v") / xk1)).as("__s"))
      .select(lit(n).as("n"), lit(k.toLong).as("k"),
        round(lit(xk1), 6).as("x_k1"),
        round(when(col("__s") > 0, lit(k.toDouble) / col("__s")), 6)
          .as("hill_alpha")))
  }

  /** Atkinson inequality index at ε = 1: A = 1 − geomean/mean over
    * positive values, per group — the welfare-weighted cousin of
    * [[theilDecomposition]] (A answers "what share of total value
    * could be given up if it were spread evenly, at log utility").
    * Log terms quantize at 6dp and sum as DECIMAL; the arithmetic
    * mean is an exact decimal sum. One map-combinable groupBy.
    * Returns (group, n, mean 6dp, atkinson 6dp). */
  def atkinson(df: DataFrame, groupCol: String,
               valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val v = col(valueCol).cast("double")
    val base = df.filter(v.isNotNull && v > 0)
      .select(col(groupCol).as("group"),
        v.cast(DecimalType(18, 2)).as("__v"),
        round(log(v), 6).cast(DecimalType(28, 6)).as("__lg"))
    base.groupBy("group")
      .agg(count(lit(1)).as("n"),
        (sum("__v").cast("double") / count(lit(1))).as("__m"),
        (sum("__lg").cast("double") / count(lit(1))).as("__ml"))
      .select(col("group"), col("n"), round(col("__m"), 6).as("mean"),
        round(lit(1.0) - exp(col("__ml")) / col("__m"), 6)
          .as("atkinson"))
      .orderBy("group")
  }

  /** Lorenz-curve deciles per group WITHOUT a per-group sort window:
    * the nine exact decile edges come from ONE percentile aggregate
    * (metadata-sized, broadcast back), bucket assignment is a per-row
    * comparison fold, and the cumulative share rides the ≤10-row
    * per-group bucket frame. The distributed-safe way to draw "the
    * top decile holds X% of the value" at any row count.
    * Returns (group, decile 1..10, n, cum_share 6dp). */
  def lorenzDeciles(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val v = col(valueCol).cast("double")
    val base = df.filter(v.isNotNull && v >= 0)
      .select(col(groupCol).as("group"), v.as("__v"))
    val edges = base.groupBy("group")
      .agg(graft.functions.ExactPercentiles.exactPercentiles(
        col("__v"), (1 to 9).map(_ / 10.0)).as("__edges"))
    val bucketed = base.join(broadcast(edges), Seq("group"))
      .select(col("group"),
        (size(filter(col("__edges"), e => col("__v") > e)) + 1)
          .as("decile"),
        col("__v").cast(DecimalType(18, 2)).as("__d"))
    val cells = bucketed.groupBy("group", "decile")
      .agg(count(lit(1)).as("n"), sum("__d").as("__s"))
    val w = Window.partitionBy("group").orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("group")
    cells
      .withColumn("cum_share",
        round(sum("__s").over(w).cast("double") /
          sum("__s").over(tot).cast("double"), 6))
      .select(col("group"), col("decile"), col("n"), col("cum_share"))
      .orderBy("group", "decile")
  }

  /** Gini mean difference per group: GMD = E|X−X′| over all pairs,
    * plus the derived Gini coefficient GMD/(2·mean) — the
    * distribution-level inequality of the raw VALUES (q261's Gini
    * works on per-entity TOTALS; this one needs no entity key and
    * doubles as a robust spread estimate ~1.128·σ under normality).
    *
    * Scale shape: one in-group distinct-value collapse, one prefix-sum
    * window over the (group, value) frame (bounded by value
    * cardinality per group, never row count), one grouped aggregate.
    * Values quantize to cents so Σ_{i<j} cnt_i·cnt_j·(v_j−v_i) is an
    * exact DECIMAL(38,0) — order-free on any engine. Returns
    * (group, n, mean 6dp, gmd 6dp, gini 6dp). */
  def giniMeanDifference(df: DataFrame, groupCol: String,
                         valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cells = df
      .select(col(groupCol).as("group"),
        col(valueCol).cast(DecimalType(18, 2)).as("__v"))
      .filter(col("__v").isNotNull)
      .select(col("group"), (col("__v") * 100).cast("long").as("__vc"))
      .groupBy("group", "__vc").agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy("group").orderBy("__vc")
      .rowsBetween(Window.unboundedPreceding, -1)
    // decimal widths kept tight: DuckDB refuses a multiply whose
    // result width exceeds 38, so operands stay at (12,0)/(26,0)
    val cvProd = col("__c").cast(DecimalType(12, 0)) *
      col("__vc").cast(DecimalType(12, 0))
    val withPrev = cells
      .withColumn("__cumn", coalesce(sum("__c").over(w), lit(0L)))
      .withColumn("__cums", coalesce(sum(cvProd).over(w),
        lit(0L).cast(DecimalType(25, 0))))
    val g = withPrev.groupBy("group")
      .agg(sum("__c").as("n"),
        sum(cvProd).cast("double").as("__tot"),
        sum(col("__c").cast(DecimalType(12, 0)) *
          (col("__vc").cast(DecimalType(12, 0)) *
            col("__cumn").cast(DecimalType(12, 0)) -
            col("__cums").cast(DecimalType(25, 0))))
          .cast("double").as("__ps"))
    val nd = col("n").cast("double")
    val mean = col("__tot") / nd / 100.0
    val gmd = lit(2.0) * col("__ps") / (nd * (nd - 1)) / 100.0
    g.filter(col("n") > 1)
      .select(col("group"), col("n"), round(mean, 6).as("mean"),
        round(gmd, 6).as("gmd"),
        round(when(mean =!= 0.0, gmd / (lit(2.0) * mean)), 6)
          .as("gini"))
      .orderBy("group")
  }
}
