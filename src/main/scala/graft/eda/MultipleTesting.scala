package graft.eda

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multiple-comparison machinery: all pairwise two-sample z-tests
  * across a group column with Benjamini-Hochberg FDR control — the
  * "which segments actually differ" read-out that follows an ANOVA/
  * Kruskal-Wallis omnibus rejection ([[StatTests]]).
  *
  * The normal CDF uses the Abramowitz & Stegun 26.2.17 polynomial
  * (|ε| < 7.5e-8) written with the SAME literals on the Spark and
  * oracle sides — both engines run the identical arithmetic, so
  * p-values agree at 6dp without either needing a native erf.
  *
  * Scale shape: ONE conditional aggregate collapses the corpus to
  * per-group moments (group-cardinality rows); the pair join, CDF
  * evaluation, and the BH rank/threshold windows all run on the
  * k(k−1)/2-row pair frame — metadata. */
object MultipleTesting {

  /** Φ(x) for x ≥ 0 via A&S 26.2.17; callers pass |z|. */
  private def phiUpper(x: Column): Column = {
    val k = lit(1.0) / (lit(1.0) + lit(0.2316419) * x)
    val poly = k * (lit(0.319381530) + k * (lit(-0.356563782) +
      k * (lit(1.781477937) + k * (lit(-1.821255978) +
        k * lit(1.330274429)))))
    // upper tail 1 − Φ(x) = φ(x)·poly
    lit(0.3989422804014327) * exp(lit(-0.5) * x * x) * poly
  }

  /** All-pairs Welch z-tests + BH at level `alpha`. Returns one row
    * per unordered group pair: (group_a, group_b, z_stat, p_value,
    * bh_rank, bh_threshold, significant). */
  def pairwiseTestsBH(df: DataFrame, groupCol: String, valueCol: String,
                      alpha: Double = 0.05): DataFrame = Checkpoints.scoped {
    val base = df
      .filter(col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
    val stats = Checkpoints.local(base.groupBy("__g")
      .agg(count(lit(1)).as("__n"), avg("__v").as("__m"),
        var_samp("__v").as("__var")))
    val pairs = stats.as("a").join(stats.as("b"),
        col("a.__g") < col("b.__g"))
      .select(col("a.__g").as("group_a"), col("b.__g").as("group_b"),
        // try_divide: two constant arms make the divisor DOUBLE 0.0,
        // which throws DIVIDE_BY_ZERO under ANSI; a null z (also the
        // n=1 case, where var_samp is null) marks the pair untestable.
        try_divide(col("a.__m") - col("b.__m"),
          sqrt(col("a.__var") / col("a.__n") +
               col("b.__var") / col("b.__n"))).as("__z"))
    val withP = pairs.select(col("group_a"), col("group_b"),
      round(col("__z"), 6).as("z_stat"),
      round(lit(2.0) * phiUpper(abs(col("__z"))), 6).as("p_value"))
    // BH on the ROUNDED p (cross-engine identical ordering); rank ties
    // broken by the pair key for determinism. m from the checkpointed
    // group frame (k rows) — not a recompute of the pair pipeline.
    // Null-p pairs (untestable) drop before ranking — same
    // cross-engine NULL-sort hazard as the Holm battery.
    val k = stats.count()
    Checkpoints.local(applyBh(withP.filter(col("p_value").isNotNull),
        Seq("group_a", "group_b"), alpha, k * (k - 1) / 2))
  }

  /** BH step shared by the test batteries: rank the (metadata-sized)
    * p-value frame, attach thresholds, and mark everything at or below
    * the largest crossing rank significant. `keyCols` break p ties
    * deterministically; all input columns pass through. */
  private def applyBh(withP: DataFrame, keyCols: Seq[String],
                      alpha: Double, m: Long): DataFrame = {
    val w = Window.orderBy(col("p_value") +: keyCols.map(col): _*)
    val ranked = withP
      .withColumn("bh_rank", row_number().over(w))
      .withColumn("bh_threshold",
        round(lit(alpha) * col("bh_rank") / lit(m.toDouble), 6))
    val crossing = ranked.agg(
      max(when(col("p_value") <= col("bh_threshold"), col("bh_rank")))
        .as("__c"))
    ranked.crossJoin(crossing)
      .withColumn("significant",
        coalesce(col("bh_rank") <= col("__c"), lit(false)))
      .drop("__c")
  }

  /** Pairwise Pearson-correlation significance over `cols` with BH:
    * for every column pair, r, the t statistic
    * r·√((n−2)/(1−r²)) (normal-approximated to a p via the shared A&S
    * CDF), and the BH verdict. ONE wide aggregate computes every
    * pair's r and both-non-null n in a single scan (the
    * descriptive-stats shape); everything after is the
    * pair-cardinality frame. Returns (col_a, col_b, n, r, p_value,
    * bh_rank, bh_threshold, significant). */
  def corrSignificance(df: DataFrame, cols: Seq[String],
                       alpha: Double = 0.05): DataFrame = {
    require(cols.size >= 2)
    val pairs = cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val aggs = pairs.flatMap { case (a, b) =>
      val (ca, cb) = (col(a).cast("double"), col(b).cast("double"))
      Seq(corr(ca, cb).as(s"__r_${a}__$b"),
        sum(when(ca.isNotNull && !isnan(ca) && cb.isNotNull && !isnan(cb),
          1L).otherwise(0L)).as(s"__n_${a}__$b"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val long = wide.select(explode(array(pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        col(s"__r_${a}__$b").as("r"), col(s"__n_${a}__$b").as("n"))
    }: _*)).as("p")).select(col("p.col_a"), col("p.col_b"),
      col("p.n").as("n"), col("p.r").as("__r"))
    val tStat = col("__r") *
      sqrt((col("n") - 2) / (lit(1.0) - col("__r") * col("__r")))
    val withP = long.select(col("col_a"), col("col_b"), col("n"),
      round(col("__r"), 6).as("r"),
      round(lit(2.0) * phiUpper(abs(tStat)), 6).as("p_value"))
    applyBh(withP, Seq("col_a", "col_b"), alpha,
      pairs.size.toLong)
  }

  /** Neyman optimal sample allocation: given a total budget, stratum h
    * gets n_h ∝ N_h·σ_h (minimizing the variance of the stratified
    * mean estimator). One moments aggregate to stratum cardinality;
    * the allocation arithmetic is metadata. Zero-variance strata get
    * weight 0 (a constant stratum needs 1 probe, not a share).
    * Returns (stratum, n_rows, sigma, weight, n_alloc). */
  def neymanAllocation(df: DataFrame, stratumCol: String, valueCol: String,
                       budget: Long): DataFrame = {
    val stats = df
      .filter(col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
      .groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(stddev_samp(col(valueCol).cast("double")), lit(0.0))
          .as("__s"))
    val total = stats.agg(sum(col("n_rows") * col("__s")).as("__t"))
    stats.crossJoin(broadcast(total))
      .select(col("stratum"), col("n_rows"), round(col("__s"), 6).as("sigma"),
        round(try_divide(col("n_rows") * col("__s"), col("__t")), 6)
          .as("weight"),
        round(lit(budget.toDouble) *
          try_divide(col("n_rows") * col("__s"), col("__t")), 0)
          .cast("long").as("n_alloc"))
  }

  /** Holm step-down adjusted pairwise Welch tests — the
    * family-wise-error companion to [[pairwiseTestsBH]] (Holm controls
    * FWER with no independence assumption; BH controls FDR). Same
    * pairwise z machinery; the adjustment is the running max of
    * (m−rank+1)·p over the p-ascending order, capped at 1 — an
    * ordered cumulative window, deterministic on any engine.
    * Returns (group_a, group_b, z_stat 6dp, p_value 6dp, holm_rank,
    * p_holm 6dp, significant). */
  def pairwiseTestsHolm(df: DataFrame, groupCol: String,
                        valueCol: String,
                        alpha: Double = 0.05): DataFrame = Checkpoints.scoped {
    val base = df
      .filter(col(valueCol).isNotNull &&
        !isnan(col(valueCol).cast("double")))
      .select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
    val stats = Checkpoints.local(base.groupBy("__g")
      .agg(count(lit(1)).as("__n"), avg("__v").as("__m"),
        var_samp("__v").as("__var")))
    val pairs = stats.as("a").join(stats.as("b"),
        col("a.__g") < col("b.__g"))
      .select(col("a.__g").as("group_a"), col("b.__g").as("group_b"),
        // try_divide: two constant arms make the divisor DOUBLE 0.0,
        // which throws DIVIDE_BY_ZERO under ANSI; a null z (also the
        // n=1 case, where var_samp is null) marks the pair untestable.
        try_divide(col("a.__m") - col("b.__m"),
          sqrt(col("a.__var") / col("a.__n") +
               col("b.__var") / col("b.__n"))).as("__z"))
    val withP = pairs.select(col("group_a"), col("group_b"),
      round(col("__z"), 6).as("z_stat"),
      round(lit(2.0) * phiUpper(abs(col("__z"))), 6).as("p_value"))
      // untestable pairs (null p: constant-vs-constant or n=1 arms)
      // drop BEFORE ranking — Spark windows sort NULLs first, DuckDB's
      // ROW_NUMBER sorts them last, so a kept null would shift
      // holm_rank and every downstream p_holm differently on the two
      // engines. m (the Holm family size) still counts every pair.
      .filter(col("p_value").isNotNull)
    val k = stats.count()
    val m = k * (k - 1) / 2
    val w = Window.orderBy(col("p_value"), col("group_a"),
      col("group_b"))
    val wCum = w.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    Checkpoints.local(withP
      .withColumn("holm_rank", row_number().over(w))
      .withColumn("p_holm", round(least(lit(1.0),
        max((lit(m) - col("holm_rank") + 1).cast("double") *
          col("p_value")).over(wCum)), 6))
      .withColumn("significant", col("p_holm") <= alpha)
      .orderBy("holm_rank"))
  }
}
