package graft.eda

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Checkpoints
import graft.ml.Metrics

/** Classical hypothesis tests over DataFrame columns — the statistical
  * read-out layer a reference user reaches for after an A/B split or a
  * drift check (the reference leans on scipy.stats for these in its
  * EDA/plugin layer, e.g. the KS usage in
  * src/workbench/web_interface/components plugins; here each test is a
  * distributed aggregate pipeline, never a driver-side series pull).
  *
  * Scale notes (all tests):
  *   - Rank-based tests (Mann-Whitney, Kruskal-Wallis) ride the SAME
  *     bucket-partitioned prefix-sum rank kernel as rocAuc/KS
  *     ([[graft.ml.Metrics.avgRanks]]) — no single-partition sort at
  *     any value cardinality; the rank lookup is a value-equality join
  *     against the distinct-value frame.
  *   - Tie corrections are one aggregate over the distinct-value frame
  *     (Σ t³−t), metadata-sized relative to the data.
  *   - ANOVA is two chained aggregates (per-group moments → scalars).
  *   - Kendall τ-b works on the CONTINGENCY CELLS (one groupBy), then a
  *     cells×cells self-join — quadratic only in distinct-value pairs,
  *     intended for bounded-cardinality columns (the contingency
  *     framing used by q155/q156 MI/χ²).
  */
object StatTests {

  /** Two-sample Mann-Whitney U (tie-aware, normal approximation).
    * Returns one row: (n_a, n_b, u_stat, z_stat, rank_biserial).
    * U is group A's statistic; z has no continuity correction (exactly
    * the large-sample form, so the oracle reproduces it bit-for-bit).
    */
  def mannWhitneyU(df: DataFrame, groupCol: String, valueCol: String,
                   groupA: String, groupB: String): DataFrame = {
    val base = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
      .select(col(groupCol).as("__grp"),
        col(valueCol).cast("double").as("__v"))
    val ranks = Metrics.avgRanks(base, "__v")
      .select(col("value").as("__v"), col("n").as("__tn"),
        col("avg_rank").as("__r"))
    // rank sum for A + counts + the tie term in ONE aggregate over the
    // rank-joined rows (the tie term divides by the tie-group size so
    // summing it per ROW reproduces the per-distinct-value Σ t³−t)
    base.join(ranks, "__v")
      .agg(
        sum(when(col("__grp") === groupA, 1L)).as("__na"),
        sum(when(col("__grp") === groupB, 1L)).as("__nb"),
        sum(when(col("__grp") === groupA, col("__r"))).as("__rs"),
        sum((col("__tn") * col("__tn") - 1.0) ).as("__ties"))
      .select(
        col("__na").as("n_a"), col("__nb").as("n_b"),
        round(uStat, 6).as("u_stat"),
        round(try_divide(uStat - col("__na") * col("__nb") / 2.0, sigmaU), 6)
          .as("z_stat"),
        round(lit(1.0) - try_divide(lit(2.0) * uStat,
          col("__na") * col("__nb")), 6).as("rank_biserial"))
  }

  private def uStat: Column =
    col("__rs") - col("__na") * (col("__na") + 1) / 2.0

  private def sigmaU: Column = {
    val n = col("__na") + col("__nb")
    sqrt(col("__na") * col("__nb") / 12.0 *
      ((n + 1) - try_divide(col("__ties"), n * (n - 1))))
  }

  /** Kruskal-Wallis H across ALL groups (tie-corrected). Returns one
    * row: (k, n, h_stat, h_corrected). */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val base = df
      .filter(col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
      .select(col(groupCol).as("__grp"),
        col(valueCol).cast("double").as("__v"))
    val ranks = Metrics.avgRanks(base, "__v")
      .select(col("value").as("__v"), col("n").as("__tn"),
        col("avg_rank").as("__r"))
    val perGroup = base.join(ranks, "__v")
      .groupBy("__grp")
      .agg(count(lit(1)).as("__ng"), sum("__r").as("__rg"),
        sum(col("__tn") * col("__tn") - 1.0).as("__tg"))
    perGroup.agg(
        count(lit(1)).as("__k"), sum("__ng").as("__n"),
        sum(try_divide(col("__rg") * col("__rg"), col("__ng"))).as("__s"),
        sum("__tg").as("__ties"))
      .select(
        col("__k").as("k"), col("__n").as("n"),
        round(hStat, 6).as("h_stat"),
        round(try_divide(hStat,
          lit(1.0) - try_divide(col("__ties"),
            col("__n") * col("__n") * col("__n") - col("__n"))), 6)
          .as("h_corrected"))
  }

  private def hStat: Column =
    lit(12.0) / (col("__n") * (col("__n") + 1)) * col("__s") -
      lit(3.0) * (col("__n") + 1)

  /** One-way ANOVA F test. Returns one row:
    * (k, n, ss_between, ss_within, f_stat).
    *
    * Exact-lattice construction (round-13 100× sweep: the earlier
    * centered-double form drifted 1 ulp at 6dp once SS reached ~1e10 —
    * unavoidable for ANY float summation there, since ulp(5e10) ≈ 8e-6
    * exceeds the 6dp grid). Values ride the integer cents lattice
    * (2dp-quantized; the tables' money-like columns are exactly 2dp):
    * per group the sufficient statistics n_g, S_g = Σx_c,
    * Q_g = Σx_c² are exact integers, and
    *   SSW·10¹⁰ = Σ Q_g·10⁶ − Σ B_g,  SSB·10¹⁰ = Σ B_g − C,
    * with B_g = (S_g²·10⁶) div n_g and C = (S²·10⁶) div N — exact
    * integer division via remainder subtraction (the plain `div`
    * operator returns LONG and would overflow beyond ~9e18). The one
    * double conversion goes through [[graft.core.Lattice]]; the 10⁶
    * sub-cents scale bounds the truncation bias below the 6dp grid.
    * Identical op sequence in the DuckDB twin → bit-identical output
    * at any scale. */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val base = df
      .filter(col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
      .select(col(groupCol).as("__grp"),
        (col(valueCol).cast(DecimalType(18, 2)) * lit(100))
          .cast(d38).as("__xc"))
    val perGroup = base.groupBy("__grp")
      .agg(count(lit(1)).cast(d38).as("__ng"),
        sum("__xc").as("__sg"),
        sum(col("__xc") * col("__xc")).as("__qg"))
    val s2g = (col("__sg") * col("__sg") * lit(1000000L).cast(d38))
      .cast(d38)
    // exact integer division: subtract the remainder first, then the
    // decimal divide is exact (and wide enough — `div` returns LONG)
    val bg = ((s2g - (s2g % col("__ng"))) / col("__ng")).cast(d38)
    val g2 = perGroup.agg(
      count(lit(1)).as("__k"), sum(col("__ng")).as("__nD"),
      sum("__sg").as("__s"), sum("__qg").as("__q"),
      sum(bg).cast(d38).as("__bsum"))
    val s2t = (col("__s") * col("__s") * lit(1000000L).cast(d38))
      .cast(d38)
    val cAll = ((s2t - (s2t % col("__nD"))) / col("__nD")).cast(d38)
    val scaled = g2.select(col("__k"), col("__nD"),
      greatest(col("__bsum") - cAll, lit(0).cast(d38)).as("__ssbS"),
      greatest((col("__q") * lit(1000000L).cast(d38)).cast(d38)
        - col("__bsum"), lit(0).cast(d38)).as("__sswS"))
    val pd = graft.core.Lattice.sparkPortableDouble _
    scaled
      .select(col("__k"), col("__nD"),
        (expr(pd("__ssbS")) / 1.0e10).as("__ssb"),
        (expr(pd("__sswS")) / 1.0e10).as("__ssw"))
      .select(
        col("__k").as("k"), col("__nD").cast("long").as("n"),
        round(col("__ssb"), 6).as("ss_between"),
        round(col("__ssw"), 6).as("ss_within"),
        round(try_divide(col("__ssb") / (col("__k") - 1),
          try_divide(col("__ssw"), (col("__nD") - col("__k"))
            .cast("double"))), 6)
          .as("f_stat"))
  }

  /** Minimum detectable effect for a two-sample mean test at the
    * observed group sizes and variances — the experiment-design
    * read-out next to [[mannWhitneyU]]/[[graft.ml.Stats.welchT]]:
    * "how small a lift could this split even see?"
    * MDE = (z_{α/2} + z_{power})·√(s²_a/n_a + s²_b/n_b) with the
    * standard α = 0.05 two-sided / 80 % power constants
    * (1.959964, 0.841621) baked in as plan literals. One aggregate.
    * Returns (n_a, n_b, mean_a, se_diff, mde_abs, mde_rel). */
  def powerMde(df: DataFrame, groupCol: String, valueCol: String,
               groupA: String, groupB: String): DataFrame = {
    // the summed constant is written out (not zAlpha + zPower at
    // runtime) so the plan literal is bit-identical to the oracle's
    val zSum = 2.801585 // 1.959964 + 0.841621
    val base = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
      .select(col(groupCol).as("__grp"),
        col(valueCol).cast("double").as("__v"))
    val se = sqrt(col("__va") / col("__na") + col("__vb") / col("__nb"))
    base.agg(
        sum(when(col("__grp") === groupA, 1L)).as("__na"),
        sum(when(col("__grp") === groupB, 1L)).as("__nb"),
        avg(when(col("__grp") === groupA, col("__v"))).as("__ma"),
        var_samp(when(col("__grp") === groupA, col("__v"))).as("__va"),
        var_samp(when(col("__grp") === groupB, col("__v"))).as("__vb"))
      .select(col("__na").as("n_a"), col("__nb").as("n_b"),
        round(col("__ma"), 6).as("mean_a"),
        round(se, 6).as("se_diff"),
        round(lit(zSum) * se, 6).as("mde_abs"),
        round(try_divide(lit(zSum) * se, col("__ma")), 6)
          .as("mde_rel"))
  }

  /** Kendall τ-b from the contingency cells of two bounded-cardinality
    * columns. Concordant/discordant pair counts come from a strict
    * x1<x2 self-join of the cell table (each unordered pair counted
    * once; equal-x pairs are x-ties by definition). Returns one row:
    * (n, n_cells, concordant, discordant, tau_b). */
  def kendallTauB(df: DataFrame, aCol: String, bCol: String): DataFrame = Checkpoints.scoped {
    val cells = Checkpoints.local(df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("double").as("__x"),
        col(bCol).cast("double").as("__y"))
      .agg(count(lit(1)).as("__c")))
    val pairs = cells.as("c1")
      .join(cells.as("c2"), col("c1.__x") < col("c2.__x"))
      .agg(
        sum(when(col("c1.__y") < col("c2.__y"),
          col("c1.__c") * col("c2.__c")).otherwise(0L)).as("__conc"),
        sum(when(col("c1.__y") > col("c2.__y"),
          col("c1.__c") * col("c2.__c")).otherwise(0L)).as("__disc"))
    // τ-b's denominator uses only the per-margin tie terms __tx/__ty;
    // the joint-tie term never appears in it
    val margins = cells.agg(
      sum("__c").as("__n"), count(lit(1)).as("__ncells"))
    val tx = cells.groupBy("__x").agg(sum("__c").as("__nx"))
      .agg(sum(col("__nx") * (col("__nx") - 1) / 2).as("__tx"))
    val ty = cells.groupBy("__y").agg(sum("__c").as("__ny"))
      .agg(sum(col("__ny") * (col("__ny") - 1) / 2).as("__ty"))
    Checkpoints.local(pairs.crossJoin(margins).crossJoin(tx).crossJoin(ty)
      .select(
        col("__n").as("n"), col("__ncells").as("n_cells"),
        col("__conc").as("concordant"), col("__disc").as("discordant"),
        round(try_divide(
          (col("__conc") - col("__disc")).cast("double"),
          sqrt((col("__n") * (col("__n") - 1) / 2.0 - col("__tx")) *
               (col("__n") * (col("__n") - 1) / 2.0 - col("__ty")))), 6)
          .as("tau_b")))
  }

  /** Brown–Forsythe variance-homogeneity test (Levene's test with the
    * MEDIAN center, the robust default): one-way [[anovaF]] applied to
    * the absolute deviations |x − med_g| — the prerequisite check
    * before trusting q196's plain ANOVA or a pooled-variance t.
    *
    * Two corpus passes: one groupBy for the exact per-group medians
    * (the q158 `quantile_cont` kernel), then the deviations join the
    * #groups median frame (broadcast) and reuse the centered ANOVA
    * aggregate. The read-out is the O(1) F RATIO only — raw SSEs at
    * corpus magnitude are summation-order noise at the 6dp contract
    * (the q295 Chow-test lesson). Returns one row: (k, n, f_bf 6dp). */
  def brownForsythe(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val base = df.filter(v.isNotNull && !isnan(v))
      .select(col(groupCol).as("__g"), v.as("__v"))
    val med = base.groupBy("__g").agg(
      graft.functions.ExactPercentiles.exactPercentiles(
        col("__v"), Seq(0.5)).getItem(0).as("__med"))
    val dev = base.join(broadcast(med), Seq("__g"))
      .select(col("__g"), abs(col("__v") - col("__med")).as("__d"))
    // centered-double ANOVA on the deviations (NOT [[anovaF]]'s cents
    // lattice — |x − med| carries sub-cent precision the lattice would
    // quantize away). Only the O(1) F RATIO is emitted, which is 6dp-
    // stable under float summation; raw SSEs would not be.
    val perGroup = dev.groupBy("__g")
      .agg(count(lit(1)).as("__ng"), avg("__d").as("__mg"),
        coalesce(var_samp("__d"), lit(0.0)).as("__vg"))
    val grand = perGroup.agg(
      (sum(col("__ng") * col("__mg")) / sum("__ng")).as("__m"))
    perGroup.crossJoin(grand).agg(
        count(lit(1)).as("__k"), sum("__ng").as("__n"),
        sum(col("__ng") * (col("__mg") - col("__m")) *
          (col("__mg") - col("__m"))).as("__ssb"),
        sum((col("__ng") - 1) * col("__vg")).as("__ssw"))
      .select(col("__k").as("k"), col("__n").as("n"),
        round(try_divide(col("__ssb") / (col("__k") - 1),
          try_divide(col("__ssw"), col("__n") - col("__k"))), 6)
          .as("f_bf"))
  }

  /** Two-sample Cramér–von Mises statistic
    * T = (n·m/N²)·Σ_z c(z)·(F_n(z) − G_m(z))² summed over the pooled
    * distinct values (each weighted by its pooled tie count) — the
    * WHOLE-distribution companion to q92's KS: KS sees only the worst
    * single gap, CvM integrates every gap, so it catches broad mild
    * drift KS misses.
    *
    * Scale shape: the pooled ECDFs ride the same bucketed rank kernel
    * as KS/rocAuc ([[graft.ml.Metrics]] rankedScores — no global
    * sort); the statistic is one aggregate over the distinct-value
    * frame. Returns one row: (n_a, n_b, cvm 6dp). */
  def cramerVonMises(a: DataFrame, b: DataFrame,
                     valueCol: String): DataFrame = {
    val stacked = a.select(col(valueCol).cast("double").as("__v"),
        lit(1).as("__isa"))
      .unionByName(b.select(col(valueCol).cast("double").as("__v"),
        lit(0).as("__isa")))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
      .withColumn("__g", lit("all"))
    val ranked = graft.ml.Metrics.rankedScores(
      stacked, "__g", "__isa", "__v", 256)
    val totals = ranked.agg(sum("n_pos").as("__na"),
      sum(col("n") - col("n_pos")).as("__nb"))
    val f = (col("before_pos") + col("n_pos")).cast("double") / col("__na")
    val g = (col("before") + col("n") - col("before_pos") - col("n_pos"))
      .cast("double") / col("__nb")
    ranked.crossJoin(broadcast(totals))
      .agg(first("__na").as("n_a"), first("__nb").as("n_b"),
        sum(col("n") * (f - g) * (f - g)).as("__s"))
      .select(col("n_a"), col("n_b"),
        round(col("n_a").cast("double") * col("n_b") /
          ((col("n_a") + col("n_b")) * (col("n_a") + col("n_b"))) *
          col("__s"), 6).as("cvm"))
  }

  /** Welch's heteroscedastic one-way ANOVA — the k-group mean test
    * that does NOT assume equal variances, i.e. the test to run when
    * [[brownForsythe]] rejects. Weights wⱼ = nⱼ/s²ⱼ;
    * F_w = [Σwⱼ(mⱼ−m̄_w)²/(k−1)] / [1 + 2(k−2)/(k²−1)·S] with
    * S = Σ(1−wⱼ/W)²/(nⱼ−1), and the Welch–Satterthwaite denominator
    * df₂ = (k²−1)/(3S).
    *
    * Scale shape: identical to [[anovaF]] — one map-combinable
    * groupBy for (nⱼ, mⱼ, s²ⱼ), then every Welch term rides the
    * #groups metadata frame. Groups with n < 2 or zero variance are
    * dropped (infinite weight; documented complete-variance rule).
    * Returns one row: (k, n, f_welch 6dp, df2 6dp). */
  def welchAnova(df: DataFrame, groupCol: String,
                 valueCol: String): DataFrame = {
    val base = df
      .filter(col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
    val pg = base.groupBy("__g")
      .agg(count(lit(1)).as("__ng"), avg("__v").as("__mg"),
        var_samp("__v").as("__vg"))
      .filter(col("__ng") >= 2 && col("__vg") > 0)
      .withColumn("__w", col("__ng") / col("__vg"))
    val grand = pg.agg(sum("__w").as("__wsum"),
      (sum(col("__w") * col("__mg")) / sum("__w")).as("__mw"))
    val g = pg.crossJoin(broadcast(grand)).agg(
      count(lit(1)).as("__k"), sum("__ng").as("__n"),
      sum(col("__w") * (col("__mg") - col("__mw")) *
        (col("__mg") - col("__mw"))).as("__a"),
      sum((lit(1.0) - col("__w") / col("__wsum")) *
        (lit(1.0) - col("__w") / col("__wsum")) / (col("__ng") - 1))
        .as("__s"))
    val k = col("__k").cast("double")
    val fw = (col("__a") / (k - 1)) /
      (lit(1.0) + lit(2.0) * (k - 2) / (k * k - 1) * col("__s"))
    g.select(col("__k").as("k"), col("__n").as("n"),
      round(when(col("__k") >= 2 && col("__s") > 0, fw), 6).as("f_welch"),
      round(when(col("__s") > 0, (k * k - 1) / (lit(3.0) * col("__s"))), 6)
        .as("df2"))
  }

  /** 1-D Wasserstein-1 (earth-mover) distance between two samples:
    * W₁ = Σⱼ |F_A(vⱼ) − F_B(vⱼ)| · (vⱼ₊₁ − vⱼ) over the pooled
    * distinct-value ladder — the METRIC companion to q92 KS / q320
    * CvM: it weighs drift by HOW FAR mass moved, not just by CDF gap,
    * so a small shift of the whole distribution and a fat outlier tail
    * score on the same scale (the distribution-shift number SGD
    * data-mixing papers report).
    *
    * Scale shape: pooled ECDFs ride the bucketed rank kernel
    * ([[graft.ml.Metrics.rankedScores]]); the Δv lead is a window over
    * the DISTINCT-VALUE frame, so this operator is meant for bounded-
    * cardinality or pre-binned columns (the [[kendallTauB]] contingency
    * framing — bin continuous columns first, e.g. the q140 equi-depth
    * histogram edges). Returns one row: (n_a, n_b, w1 6dp). */
  def wasserstein1(a: DataFrame, b: DataFrame,
                   valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stacked = a.select(col(valueCol).cast("double").as("__v"),
        lit(1).as("__isa"))
      .unionByName(b.select(col(valueCol).cast("double").as("__v"),
        lit(0).as("__isa")))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
      .withColumn("__g", lit("all"))
    val ranked = graft.ml.Metrics.rankedScores(
      stacked, "__g", "__isa", "__v", 256)
    val totals = ranked.agg(sum("n_pos").as("__na"),
      sum(col("n") - col("n_pos")).as("__nb"))
    val lead_v = lead("score", 1).over(Window.orderBy("score"))
    val fa = (col("before_pos") + col("n_pos")).cast("double") / col("__na")
    val fb = (col("before") + col("n") - col("before_pos") - col("n_pos"))
      .cast("double") / col("__nb")
    ranked.crossJoin(broadcast(totals))
      .withColumn("__dv", coalesce(lead_v - col("score"), lit(0.0)))
      .agg(first("__na").as("n_a"), first("__nb").as("n_b"),
        round(sum(abs(fa - fb) * col("__dv")), 6).as("w1"))
  }

  /** Two-sample Anderson–Darling A² (Scholz–Stephens 1987 eq. 7, the
    * ties-adjusted A²akN for k = 2): like [[cramerVonMises]] it
    * integrates EVERY ECDF gap, but with 1/(B(N−B)) tail weighting —
    * the most tail-sensitive of the three drift tests (KS < CvM < AD
    * for tail drift power), i.e. the one that catches a contamination
    * spike hiding in the top percentile.
    *
    * Scale shape: identical to [[cramerVonMises]] — bucketed rank
    * kernel, then ONE aggregate over the distinct-value frame; no
    * window at all, safe at any value cardinality. Terms where the
    * variance weight B(N−B) − N·l/4 is zero (all mass at one value)
    * drop out. Returns one row: (n_a, n_b, ad 6dp). */
  def andersonDarling2(a: DataFrame, b: DataFrame,
                       valueCol: String): DataFrame = {
    val stacked = a.select(col(valueCol).cast("double").as("__v"),
        lit(1).as("__isa"))
      .unionByName(b.select(col(valueCol).cast("double").as("__v"),
        lit(0).as("__isa")))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
      .withColumn("__g", lit("all"))
    val ranked = graft.ml.Metrics.rankedScores(
      stacked, "__g", "__isa", "__v", 256)
    val totals = ranked.agg(sum("n_pos").as("__na"),
      sum(col("n") - col("n_pos")).as("__nb"))
    val nn = (col("__na") + col("__nb")).cast("double")
    val l = col("n").cast("double")
    val ba = (col("before") + col("n") / lit(2.0)).cast("double")
    val maA = (col("before_pos") + col("n_pos") / lit(2.0)).cast("double")
    val maB = (col("before") - col("before_pos") +
      (col("n") - col("n_pos")) / lit(2.0)).cast("double")
    val wgt = ba * (nn - ba) - nn * l / lit(4.0)
    val termA = (l / nn) * (nn * maA - col("__na") * ba) *
      (nn * maA - col("__na") * ba) / wgt
    val termB = (l / nn) * (nn * maB - col("__nb") * ba) *
      (nn * maB - col("__nb") * ba) / wgt
    val nOut = (col("n_a") + col("n_b")).cast("double")
    ranked.crossJoin(broadcast(totals))
      .agg(first("__na").as("n_a"), first("__nb").as("n_b"),
        sum(when(wgt > 0, termA)).as("__sa"),
        sum(when(wgt > 0, termB)).as("__sb"))
      .select(col("n_a"), col("n_b"),
        round((nOut - 1) / nOut *
          (col("__sa") / col("n_a") + col("__sb") / col("n_b")), 6)
          .as("ad"))
  }

  /** Tukey HSD studentized statistics for every group pair after a
    * one-way layout: q = |μᵢ−μⱼ| / sqrt(MSW/2 · (1/nᵢ + 1/nⱼ))
    * (Tukey–Kramer form for unequal n). Per-group moments are exact
    * decimal power sums (one map-combinable groupBy); the pair frame
    * is the k×k metadata self-join. The statistic is reported, not a
    * p-value (the studentized-range quantile needs a table — callers
    * compare against their α's critical value).
    * Returns (g1, g2, mean_diff 6dp, q_stat 6dp), g1 < g2. */
  def tukeyHsd(df: DataFrame, groupCol: String,
               valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val x = col(valueCol).cast(DecimalType(18, 2))
    val g = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("s1"),
        sum(x * x).cast("double").as("s2"))
      .filter(col("n") > 1)
    val nd = col("n").cast("double")
    val withMu = g.select(col("g"), col("n"), (col("s1") / nd).as("mu"),
      (col("s2") - nd * (col("s1") / nd) * (col("s1") / nd)).as("ss"))
    val msw = withMu.agg((sum("ss") /
        (sum("n") - count(lit(1))).cast("double")).as("__msw"))
    val a = withMu.select(col("g").as("g1"), col("n").as("n1"),
      col("mu").as("m1"))
    val b = withMu.select(col("g").as("g2"), col("n").as("n2"),
      col("mu").as("m2"))
    a.join(b, col("g1") < col("g2"))
      .crossJoin(broadcast(msw))
      .select(col("g1"), col("g2"),
        round(col("m1") - col("m2"), 6).as("mean_diff"),
        round(abs(col("m1") - col("m2")) /
          sqrt(col("__msw") / 2 * (lit(1.0) / col("n1").cast("double") +
            lit(1.0) / col("n2").cast("double"))), 6).as("q_stat"))
      .orderBy("g1", "g2")
  }

  /** Two-sample Poisson rate test with exposure: X events in T units
    * of exposure per arm; conditional on X = X₁+X₂, X₁ ~
    * Binomial(X, T₁/(T₁+T₂)), so z = (X₁ − X·π)/sqrt(X·π(1−π)) — the
    * exact-conditioning form (more faithful than a Wald z on the
    * rates when either count is small). Everything is an integer
    * count: ONE aggregate, fully deterministic.
    * Returns (x1, t1, x2, t2, rate1 6dp, rate2 6dp, rate_ratio 6dp,
    * z_stat 6dp). */
  def poissonRateTest(df: DataFrame, armCol: String, eventCol: String,
                      exposureCol: String): DataFrame = {
    val g = df.agg(
      sum(when(col(armCol), col(eventCol).cast("long"))).as("x1"),
      sum(when(col(armCol), col(exposureCol).cast("long"))).as("t1"),
      sum(when(!col(armCol), col(eventCol).cast("long"))).as("x2"),
      sum(when(!col(armCol), col(exposureCol).cast("long"))).as("t2"))
    val pi = col("t1").cast("double") /
      (col("t1") + col("t2")).cast("double")
    val x = (col("x1") + col("x2")).cast("double")
    val r1 = col("x1").cast("double") / col("t1").cast("double")
    val r2 = col("x2").cast("double") / col("t2").cast("double")
    g.select(col("x1"), col("t1"), col("x2"), col("t2"),
      round(r1, 6).as("rate1"), round(r2, 6).as("rate2"),
      round(when(r2 > 0, r1 / r2), 6).as("rate_ratio"),
      round(when(x > 0,
        (col("x1").cast("double") - x * pi) /
          sqrt(x * pi * (lit(1.0) - pi))), 6).as("z_stat"))
  }

  /** Fleiss' kappa for nRaters ratings per item (chance-corrected
    * multi-rater categorical agreement — the k-rater generalization
    * of Cohen's kappa). Items without exactly nRaters ratings are
    * dropped (Fleiss requires a balanced panel). Every sufficient
    * statistic is an INTEGER sum (Σᵢⱼ nᵢⱼ², Σᵢ nᵢⱼ), so
    * P̄ = (Σnᵢⱼ² − Nr)/(Nr(r−1)) and P̄ₑ = Σⱼ pⱼ² are exact
    * rational arithmetic — no float accumulation at all. Two
    * map-combinable groupBys. Returns one row:
    * (n_items, n_raters, p_bar 6dp, p_e 6dp, kappa 6dp). */
  def fleissKappa(df: DataFrame, itemCol: String, categoryCol: String,
                  nRaters: Int): DataFrame = {
    val cells = df.groupBy(col(itemCol).as("__i"),
        col(categoryCol).as("__c"))
      .agg(count(lit(1)).as("__nij"))
    val items = cells.groupBy("__i")
      .agg(sum("__nij").as("__r"), sum(col("__nij") * col("__nij"))
        .as("__sq"))
      .filter(col("__r") === nRaters)
    val keep = items.select(col("__i"))
    val catTotals = cells.join(keep, Seq("__i"))
      .groupBy("__c").agg(sum("__nij").as("__cj"))
    val nFrame = items.agg(count(lit(1)).as("n_items"),
      sum("__sq").as("__sqsum"))
    val pe = catTotals.crossJoin(broadcast(nFrame))
      .agg(first("n_items").as("n_items"), first("__sqsum").as("__sqs"),
        sum((col("__cj").cast("double") /
          (col("n_items") * nRaters).cast("double")) *
          (col("__cj").cast("double") /
            (col("n_items") * nRaters).cast("double"))).as("__pe"))
    val nd = col("n_items").cast("double")
    val pbar = (col("__sqs").cast("double") - nd * nRaters) /
      (nd * nRaters * (nRaters - 1))
    pe.select(col("n_items"), lit(nRaters).as("n_raters"),
      round(pbar, 6).as("p_bar"), round(col("__pe"), 6).as("p_e"),
      round((pbar - col("__pe")) / (lit(1.0) - col("__pe")), 6)
        .as("kappa"))
  }

  /** Cliff's delta + Vargha–Delaney A — the EFFECT SIZE companions to
    * [[mannWhitneyU]]'s p-value: δ = P(a > b) − P(a < b),
    * A = P(a > b) + P(a = b)/2. Computed entirely on the pooled
    * distinct-value frame from the bucketed rank kernel (per value:
    * A-count × B-counts-below/above), ONE aggregate, no pair join at
    * any cardinality. Returns one row:
    * (n_a, n_b, cliffs_delta 6dp, vd_a 6dp). */
  def cliffsDelta(a: DataFrame, b: DataFrame,
                  valueCol: String): DataFrame = {
    val stacked = a.select(col(valueCol).cast("double").as("__v"),
        lit(1).as("__isa"))
      .unionByName(b.select(col(valueCol).cast("double").as("__v"),
        lit(0).as("__isa")))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
      .withColumn("__g", lit("all"))
    val ranked = graft.ml.Metrics.rankedScores(
      stacked, "__g", "__isa", "__v", 256)
    val totals = ranked.agg(sum("n_pos").as("__na"),
      sum(col("n") - col("n_pos")).as("__nb"))
    val bBelow = col("before") - col("before_pos")
    val bAt = col("n") - col("n_pos")
    val bAbove = col("__nb") - bBelow - bAt
    ranked.crossJoin(broadcast(totals))
      .agg(first("__na").as("n_a"), first("__nb").as("n_b"),
        sum(col("n_pos") * (bBelow - bAbove)).as("__d"))
      .select(col("n_a"), col("n_b"),
        round(col("__d").cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6)
          .as("cliffs_delta"),
        // (d + n_a·n_b)/2 = #greater + #equal/2 — A directly
        round((col("__d").cast("double") / 2 +
          (col("n_a") * col("n_b")).cast("double") / 2) /
          (col("n_a") * col("n_b")).cast("double"), 6).as("vd_a"))
  }

  /** Hodges–Lehmann two-sample shift estimate: the weighted median of
    * all pairwise differences a − b, computed on the DISTINCT-VALUE
    * pair grid (cellA × cellB with count weights) — quadratic only in
    * distinct values, the [[kendallTauB]] bounded-cardinality
    * contract; pre-bin continuous columns. Lower-weighted-median
    * convention (first difference whose cumulative weight reaches
    * half — deterministic, no interpolation). Returns one row:
    * (n_pairs, hl_shift 6dp). */
  def hodgesLehmann(a: DataFrame, b: DataFrame,
                    valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def cells(df: DataFrame, nm: String) =
      df.select(col(valueCol).cast("double").as(nm))
        .filter(col(nm).isNotNull && !isnan(col(nm)))
        .groupBy(nm).agg(count(lit(1)).as(s"__c$nm"))
    val grid = cells(a, "__va").crossJoin(cells(b, "__vb"))
      .select((col("__va") - col("__vb")).as("__d"),
        (col("__c__va") * col("__c__vb")).as("__w"))
      .groupBy("__d").agg(sum("__w").as("__w"))
    val w = Window.orderBy("__d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = grid.agg(sum("__w").as("__tw"))
    grid.withColumn("__cum", sum("__w").over(w))
      .crossJoin(broadcast(tot))
      .filter(col("__cum") * 2 >= col("__tw"))
      .agg(first("__tw").as("n_pairs"), round(min("__d"), 6)
        .as("hl_shift"))
  }

  /** Two-way factorial ANOVA (classical cell-mean decomposition):
    * SSA/SSB from marginal means, the interaction SS from cell means,
    * SSE from within-cell variance — F for each effect. Exact decimal
    * power sums per CELL (one map-combinable groupBy); every marginal
    * rides the a×b metadata frame. Unbalanced designs use the
    * weighted (Type-I-style) sums — documented convention.
    * Returns one row: (a_levels, b_levels, n, f_a 6dp, f_b 6dp,
    * f_interaction 6dp). */
  def twoWayAnova(df: DataFrame, aCol: String, bCol: String,
                  valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val y = col(valueCol).cast(DecimalType(18, 2))
    val cells = df.filter(col(valueCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__n"),
        sum(y).cast("double").as("__s1"),
        sum(y * y).cast("double").as("__s2"))
    val nd = col("__n").cast("double")
    val withM = cells.select(col("__a"), col("__b"), col("__n"),
      (col("__s1") / nd).as("__m"),
      (col("__s2") - nd * (col("__s1") / nd) * (col("__s1") / nd))
        .as("__ssw"), col("__s1"))
    val aMarg = withM.groupBy("__a").agg(sum("__n").as("__na"),
      (sum("__s1") / sum("__n").cast("double")).as("__ma"))
    val bMarg = withM.groupBy("__b").agg(sum("__n").as("__nb"),
      (sum("__s1") / sum("__n").cast("double")).as("__mb"))
    val grand = withM.agg(sum("__n").as("__nt"),
      (sum("__s1") / sum("__n").cast("double")).as("__mg"),
      sum("__ssw").as("__sse"), count(lit(1)).as("__ncell"))
    val joined = withM
      .join(broadcast(aMarg), Seq("__a"))
      .join(broadcast(bMarg), Seq("__b"))
      .crossJoin(broadcast(grand))
    val ssab = joined.agg(
      first("__nt").as("__ntv"), first("__mg").as("__mgv"),
      first("__sse").as("__ssev"), first("__ncell").as("__ncv"),
      sum(col("__n").cast("double") *
        (col("__m") - col("__ma") - col("__mb") + col("__mg")) *
        (col("__m") - col("__ma") - col("__mb") + col("__mg")))
        .as("__ssab"))
    val ssa = aMarg.crossJoin(broadcast(grand))
      .agg(count(lit(1)).as("__ka"),
        sum(col("__na").cast("double") * (col("__ma") - col("__mg")) *
          (col("__ma") - col("__mg"))).as("__ssa"))
    val ssb = bMarg.crossJoin(broadcast(grand))
      .agg(count(lit(1)).as("__kb"),
        sum(col("__nb").cast("double") * (col("__mb") - col("__mg")) *
          (col("__mb") - col("__mg"))).as("__ssb"))
    val all = ssab.crossJoin(broadcast(ssa)).crossJoin(broadcast(ssb))
    val dfa = (col("__ka") - 1).cast("double")
    val dfb = (col("__kb") - 1).cast("double")
    val dfab = dfa * dfb
    val dfe = (col("__ntv") - col("__ncv")).cast("double")
    val mse = col("__ssev") / dfe
    all.select(col("__ka").as("a_levels"), col("__kb").as("b_levels"),
      col("__ntv").as("n"),
      round(col("__ssa") / dfa / mse, 6).as("f_a"),
      round(col("__ssb") / dfb / mse, 6).as("f_b"),
      round(col("__ssab") / dfab / mse, 6).as("f_interaction"))
  }

  /** Kendall's W — concordance of k "raters" each ranking the same m
    * items (tie-corrected): W = 12·S / (k²(m³−m) − k·ΣTⱼ), S the
    * spread of per-item rank sums. 1 = every rater agrees, 0 = no
    * agreement. Items missing any rater drop (complete blocks).
    * Per-rater midranks come from one groupBy over (rater, value)
    * cells + a per-rater prefix window on the distinct-value frame
    * (bounded per rater by construction — the caller aggregates to
    * items first). Returns one row: (k, m, w 6dp). */
  def kendallW(df: DataFrame, raterCol: String, itemCol: String,
               valueCol: String): DataFrame = {
    val base = df.select(col(raterCol).as("__r"),
        col(itemCol).as("__i"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
    val kFrame = base.agg(countDistinct("__r").as("__k"))
    val complete = base.groupBy("__i")
      .agg(count(lit(1)).as("__c"))
      .crossJoin(broadcast(kFrame))
      .filter(col("__c") === col("__k"))
      .select("__i")
    val kept = base.join(complete, Seq("__i"))
    val cells = kept.groupBy("__r", "__v")
      .agg(count(lit(1)).as("__n"))
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy("__r").orderBy("__v")
    val ranks = cells.withColumn("__rank",
      (sum("__n").over(wv) - col("__n")).cast("double") +
        (col("__n").cast("double") + 1) / 2)
    val tiePerRater = cells.groupBy("__r")
      .agg(sum(col("__n") * col("__n") * col("__n") - col("__n"))
        .as("__t"))
    val ties = tiePerRater.agg(sum("__t").as("__tt"))
    val perItem = kept
      .join(ranks.select(col("__r"), col("__v"), col("__rank")),
        Seq("__r", "__v"))
      .groupBy("__i").agg(sum("__rank").as("__ri"))
    val g = perItem.agg(count(lit(1)).as("m"),
      sum("__ri").as("__sr"),
      sum(col("__ri") * col("__ri")).as("__srr"))
    val md = col("m").cast("double")
    val kd = col("__k").cast("double")
    val sStat = col("__srr") - col("__sr") * col("__sr") / md
    g.crossJoin(broadcast(kFrame)).crossJoin(broadcast(ties))
      .select(col("__k").as("k"), col("m"),
        round(lit(12.0) * sStat /
          (kd * kd * (md * md * md - md) -
            kd * col("__tt").cast("double")), 6).as("w"))
  }

  /** Win ratio (Pocock 2012): over all treatment×control pairs, wins
    * (t beats c) over losses, with the log-scale SE approximation
    * sqrt(1/W + 1/L) — the composite-endpoint effect measure that
    * needs no distribution at all. Counted on the pooled
    * distinct-value frame from the rank kernel (per value: treat
    * count × control counts below/above) — ONE aggregate, no pair
    * join at any cardinality. Returns one row:
    * (n_t, n_c, wins, losses, ties, win_ratio 6dp, log_se 6dp). */
  def winRatio(treat: DataFrame, control: DataFrame,
               valueCol: String): DataFrame = {
    val stacked = treat.select(col(valueCol).cast("double").as("__v"),
        lit(1).as("__isa"))
      .unionByName(control.select(col(valueCol).cast("double")
        .as("__v"), lit(0).as("__isa")))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
      .withColumn("__g", lit("all"))
    val ranked = graft.ml.Metrics.rankedScores(
      stacked, "__g", "__isa", "__v", 256)
    val totals = ranked.agg(sum("n_pos").as("__nt"),
      sum(col("n") - col("n_pos")).as("__nc"))
    val cBelow = col("before") - col("before_pos")
    val cAt = col("n") - col("n_pos")
    val cAbove = col("__nc") - cBelow - cAt
    ranked.crossJoin(broadcast(totals))
      .agg(first("__nt").as("n_t"), first("__nc").as("n_c"),
        sum(col("n_pos") * cBelow).as("wins"),
        sum(col("n_pos") * cAbove).as("losses"),
        sum(col("n_pos") * cAt).as("ties"))
      .select(col("n_t"), col("n_c"), col("wins"), col("losses"),
        col("ties"),
        round(when(col("losses") > 0,
          col("wins").cast("double") / col("losses")), 6)
          .as("win_ratio"),
        round(when(col("wins") > 0 && col("losses") > 0,
          sqrt(lit(1.0) / col("wins") + lit(1.0) / col("losses"))), 6)
          .as("log_se"))
  }

  /** Theil's uncertainty coefficient U(y|x) = I(x;y)/H(y) — the
    * ASYMMETRIC, [0,1]-normalized "how much of y does knowing x
    * explain", the categorical effect size Cramér's V can't give a
    * direction to. One contingency groupBy; entropies from integer
    * counts over the cell/margin metadata frames.
    * Returns one row: (n, h_x 6dp, h_y 6dp, mi 6dp, u_y_given_x 6dp).
    */
  def uncertaintyCoefficient(df: DataFrame, xCol: String,
                             yCol: String): DataFrame = Checkpoints.scoped {
    val cells = Checkpoints.local(df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).cast("string").as("__x"),
        col(yCol).cast("string").as("__y"))
      .agg(count(lit(1)).as("__n")))
    val tot = cells.agg(sum("__n").as("__t"))
    def entropy(groups: DataFrame, nm: String) = groups
      .crossJoin(broadcast(tot))
      .agg((-sum((col("__n").cast("double") / col("__t")) *
        log(col("__n").cast("double") / col("__t")))).as(nm))
    val hx = entropy(cells.groupBy("__x").agg(sum("__n").as("__n")),
      "__hx")
    val hy = entropy(cells.groupBy("__y").agg(sum("__n").as("__n")),
      "__hy")
    val hxy = entropy(cells.select(col("__n")), "__hxy")
    Checkpoints.local(tot.crossJoin(hx).crossJoin(hy).crossJoin(hxy)
      .select(col("__t").as("n"), round(col("__hx"), 6).as("h_x"),
        round(col("__hy"), 6).as("h_y"),
        round(col("__hx") + col("__hy") - col("__hxy"), 6).as("mi"),
        round(when(col("__hy") > 0,
          (col("__hx") + col("__hy") - col("__hxy")) / col("__hy")), 6)
          .as("u_y_given_x")))
  }

  /** Cochran–Mantel–Haenszel test + MH pooled odds ratio for K
    * stratified 2×2 tables: CMH χ² = (|Σ(aₖ − E aₖ)| − 0.5)²/ΣVar,
    * OR_MH = Σ(aₖdₖ/nₖ)/Σ(bₖcₖ/nₖ) — "is exposure associated with
    * outcome AFTER controlling the stratum", the binary-outcome
    * sibling of the q405 g-formula. One integer cell groupBy, all
    * math on the K-row frame (continuity-corrected, the classic
    * form). Returns one row:
    * (k_strata, n, or_mh 6dp, cmh_chi2 6dp). */
  def cmhTest(df: DataFrame, stratumCol: String, exposureCol: String,
              outcomeCol: String): DataFrame = {
    val e = col(exposureCol).cast("long")
    val o = col(outcomeCol).cast("long")
    val cells = df.groupBy(col(stratumCol).as("__s"))
      .agg(sum(e * o).as("__a"),
        sum(e * (lit(1L) - o)).as("__b"),
        sum((lit(1L) - e) * o).as("__c"),
        sum((lit(1L) - e) * (lit(1L) - o)).as("__d"))
      .withColumn("__n",
        col("__a") + col("__b") + col("__c") + col("__d"))
      .filter(col("__n") > 1)
    val nd = col("__n").cast("double")
    val r1 = (col("__a") + col("__b")).cast("double")
    val c1 = (col("__a") + col("__c")).cast("double")
    val ea = r1 * c1 / nd
    val va = r1 * (nd - r1) * c1 * (nd - c1) / (nd * nd * (nd - 1))
    cells.agg(count(lit(1)).as("k_strata"), sum("__n").as("n"),
        sum(col("__a").cast("double") - ea).as("__dev"),
        sum(va).as("__var"),
        sum(col("__a").cast("double") * col("__d") / nd).as("__num"),
        sum(col("__b").cast("double") * col("__c") / nd).as("__den"))
      .select(col("k_strata"), col("n"),
        round(when(col("__den") > 0, col("__num") / col("__den")), 6)
          .as("or_mh"),
        round(when(col("__var") > 0,
          (abs(col("__dev")) - 0.5) * (abs(col("__dev")) - 0.5) /
            col("__var")), 6).as("cmh_chi2"))
  }

  /** Index of dispersion (variance-to-mean ratio) for COUNT data per
    * group, with the χ² Poissonity statistic (n−1)·VMR — VMR ≈ 1 is
    * Poisson, ≫ 1 overdispersed (clumped), ≪ 1 regular. Counts are
    * integers so every power sum is exact. Returns
    * (group, n, mean 6dp, vmr 6dp, chi2 6dp). */
  def dispersionIndex(df: DataFrame, groupCol: String,
                      countCol: String): DataFrame = {
    val x = col(countCol).cast("long")
    val g = df.filter(col(countCol).isNotNull)
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("__s1"),
        sum(x * x).cast("double").as("__s2"))
      .filter(col("n") > 1)
    val nd = col("n").cast("double")
    val m = col("__s1") / nd
    val v = (col("__s2") - nd * m * m) / (nd - 1)
    g.select(col("group"), col("n"), round(m, 6).as("mean"),
        round(when(m > 0, v / m), 6).as("vmr"),
        round(when(m > 0, (nd - 1) * v / m), 6).as("chi2"))
      .orderBy("group")
  }

  /** Friedman test + Page's L for k treatments over b blocks (ranks
    * within each block): Friedman χ² = 12/(bk(k+1))·ΣRⱼ² − 3b(k+1)
    * is the omnibus "any treatment differs"; Page's L = Σ j·Rⱼ with
    * its normal z adds POWER when the treatments are ordered and the
    * alternative is monotone. Within-block ranks ride a block-
    * partitioned window (k rows per block — bounded by construction).
    * Ties get midranks; the Friedman statistic uses the untied form
    * (documented — heavy ties warrant Kendall's W, q414).
    * Returns one row: (b, k, friedman_chi2 6dp, page_l, page_z 6dp).
    */
  def friedmanPage(df: DataFrame, blockCol: String,
                   treatmentCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(blockCol).as("__b"),
        col(treatmentCol).cast("long").as("__t"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
    val kFrame = base.agg(countDistinct("__t").as("__k"))
    val complete = base.groupBy("__b").agg(count(lit(1)).as("__c"))
      .crossJoin(broadcast(kFrame))
      .filter(col("__c") === col("__k")).select("__b")
    val kept = base.join(complete, Seq("__b"))
    val wb = Window.partitionBy("__b").orderBy("__v")
    val wbT = Window.partitionBy("__b", "__v")
    val ranked = kept.withColumn("__r",
      (rank().over(wb).cast("double") +
        (count(lit(1)).over(wbT).cast("double") - 1) / 2))
    val perT = ranked.groupBy("__t").agg(sum("__r").as("__rt"))
    val g = perT.agg(count(lit(1)).as("k"),
      sum(col("__rt") * col("__rt")).as("__srr"),
      sum((col("__t") + 1).cast("double") * col("__rt")).as("__l"))
    val bFrame = complete.agg(count(lit(1)).as("b"))
    val bd = col("b").cast("double")
    val kd = col("k").cast("double")
    val muL = bd * kd * (kd + 1) * (kd + 1) / 4
    // Var(L) = b·k²(k+1)²(k−1)/144 (permutation variance per block)
    val sdL = sqrt(bd * kd * kd * (kd + 1) * (kd + 1) *
      (kd - 1) / lit(144.0))
    g.crossJoin(broadcast(bFrame))
      .select(col("b"), col("k"),
        round(lit(12.0) / (bd * kd * (kd + 1)) * col("__srr") -
          lit(3.0) * bd * (kd + 1), 6).as("friedman_chi2"),
        round(col("__l"), 6).as("page_l"),
        round((col("__l") - muL) / sdL, 6).as("page_z"))
  }

  /** Coefficient of variation with McKay's approximate CI — the
    * "relative noise" number (CV = σ/μ) a metric owner quotes across
    * groups of different scales, with honest bounds:
    * lo/hi = cv / sqrt((χ²_{df,·}/(n−1))·(1 + cv²) − cv²·χ²/(n−1))
    * evaluated at the normal-approximated χ² quantiles (Wilson–
    * Hilferty, so no quantile table is needed and both engines agree
    * bit-for-bit). Exact decimal moments. Returns
    * (group, n, cv 6dp, lo 6dp, hi 6dp). */
  def cvWithCi(df: DataFrame, groupCol: String,
               valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val y = col(valueCol).cast(DecimalType(18, 2))
    val g = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"),
        sum(y).cast("double").as("__s1"),
        sum(y * y).cast("double").as("__s2"))
      .filter(col("n") > 3)
    val nd = col("n").cast("double")
    val m = col("__s1") / nd
    val v = (col("__s2") - nd * m * m) / (nd - 1)
    val cv = sqrt(v) / m
    // Wilson-Hilferty chi2 quantile: df*(1 - 2/(9df) ± z*sqrt(2/(9df)))^3
    def chi2q(z: Double) = {
      val dfree = nd - 1
      val t = lit(1.0) - lit(2.0) / (lit(9.0) * dfree) +
        lit(z) * sqrt(lit(2.0) / (lit(9.0) * dfree))
      dfree * t * t * t
    }
    def mckay(q: org.apache.spark.sql.Column) =
      cv / sqrt((q / (nd - 1)) * (lit(1.0) + cv * cv) -
        cv * cv * q / (nd - 1))
    g.select(col("group"), col("n"), round(cv, 6).as("cv"),
        round(mckay(chi2q(1.959964)), 6).as("lo"),
        round(mckay(chi2q(-1.959964)), 6).as("hi"))
      .orderBy("group")
  }

  /** One-sample Kolmogorov–Smirnov against a Uniform(lo, hi) null:
    * D = max over distinct values of max(|F̂(v) − F₀(v)|,
    * |F̂(v⁻) − F₀(v)|) (both one-sided gaps — the ECDF jumps, so the
    * sup can land on either side of the step). The "does this look
    * like the design distribution" check for hash buckets, sampling
    * keys and percent-ranks, where the TWO-sample q92 has no second
    * sample to compare against. Values outside [lo, hi] are dropped,
    * so the statistic is CONDITIONAL on the support — a sample with
    * substantial out-of-range mass can still report D ≈ 0; the
    * `n_excluded` column reports that mass so callers can screen for
    * range violations in the same row. Rank-kernel prefix
    * counts, one aggregate, no window. Returns one row:
    * (n, d_stat 6dp, ks_lambda 6dp = √n·D, n_excluded). */
  def ksUniform(df: DataFrame, valueCol: String, lo: Double,
                hi: Double): DataFrame = {
    val vals = df.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
    val excl = vals.agg(coalesce(
      sum((col("__v") < lo || col("__v") > hi).cast("long")),
      lit(0L)).as("__ne"))
    val stacked = vals
      .filter(col("__v") >= lo && col("__v") <= hi)
      .withColumn("__g", lit("all")).withColumn("__l", lit(0))
    val ranked = graft.ml.Metrics.rankedScores(
      stacked, "__g", "__l", "__v", 256)
    val tot = ranked.agg(sum("n").as("__nt"))
    val f0 = (col("score") - lo) / (hi - lo)
    val fHat = (col("before") + col("n")).cast("double") / col("__nt")
    val fPrev = col("before").cast("double") / col("__nt")
    ranked.crossJoin(broadcast(tot))
      .agg(first("__nt").as("n"),
        max(greatest(abs(fHat - f0), abs(fPrev - f0))).as("__d"))
      .crossJoin(broadcast(excl))
      .select(col("n"), round(col("__d"), 6).as("d_stat"),
        round(sqrt(col("n").cast("double")) * col("__d"), 6)
          .as("ks_lambda"),
        col("__ne").as("n_excluded"))
  }

  /** Two-sample energy distance E = 2·E|X−Y| − E|X−X′| − E|Y−Y′| —
    * the rotation/shift-sensitive distribution distance that is zero
    * iff the distributions match (unlike a mean test) and needs no
    * binning choice (unlike a chi-square); the drift number to reach
    * for when [[wasserstein1]]'s transport reading isn't wanted.
    *
    * Scale shape: DISTINCT-VALUE cell grid (cells × cells with count
    * weights) — quadratic only in distinct values, the [[kendallTauB]]
    * bounded-cardinality contract; pre-bin continuous columns. Values
    * quantize to cents (DECIMAL(18,2) lattice) so every pairwise term
    * ca·cb·|vi−vj| is an exact integer — the three pair sums are
    * DECIMAL(38,0) and order-free on any engine. Returns one row:
    * (n_a, n_b, e_between 6dp, energy 6dp). */
  def energyDistance(a: DataFrame, b: DataFrame,
                     valueCol: String): DataFrame = Checkpoints.scoped {
    import org.apache.spark.sql.types.DecimalType
    def cells(df: DataFrame) =
      df.select(col(valueCol).cast(DecimalType(18, 2)).as("__v"))
        .filter(col("__v").isNotNull)
        .select((col("__v") * 100).cast("long").as("__vc"))
        .groupBy("__vc").agg(count(lit(1)).as("__c"))
    val ca = cells(a).select(col("__vc").as("__va"), col("__c").as("__ca"))
    val cb = cells(b).select(col("__vc").as("__vb"), col("__c").as("__cb"))
    val all = Checkpoints.local(ca.join(cb, col("__va") === col("__vb"), "full")
      .select(coalesce(col("__va"), col("__vb")).as("__v"),
        coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb")))
    val l = all.select(col("__v").as("__v1"), col("__ca").as("__ca1"),
      col("__cb").as("__cb1"))
    val r = all.select(col("__v").as("__v2"), col("__ca").as("__ca2"),
      col("__cb").as("__cb2"))
    def pairSum(w1: Column, w2: Column) =
      sum(((w1 * w2).cast(DecimalType(20, 0)) *
        abs(col("__v1") - col("__v2")).cast(DecimalType(18, 0))))
        .cast("double")
    val g = l.crossJoin(r).agg(
      pairSum(col("__ca1"), col("__cb2")).as("__sxy"),
      pairSum(col("__ca1"), col("__ca2")).as("__sxx"),
      pairSum(col("__cb1"), col("__cb2")).as("__syy"),
      sum(col("__ca1") * when(col("__v1") === col("__v2"), 1L)
        .otherwise(0L)).as("__na"),
      sum(col("__cb1") * when(col("__v1") === col("__v2"), 1L)
        .otherwise(0L)).as("__nb"))
    val (na, nb) = (col("__na").cast("double"), col("__nb").cast("double"))
    g.select(col("__na").as("n_a"), col("__nb").as("n_b"),
      round(col("__sxy") / (na * nb) / 100.0, 6).as("e_between"),
      round((lit(2.0) * col("__sxy") / (na * nb) -
        col("__sxx") / (na * na) - col("__syy") / (nb * nb)) / 100.0, 6)
        .as("energy"))
  }

  /** Sample-size / power design for a two-proportion z-test: from the
    * observed baseline conversion rate, the n-per-arm needed to detect
    * an absolute lift `delta` at (alpha, power) — the proportions twin
    * of [[powerMde]] (which designs for means). Closed form
    * n = (z_{α/2}·√(2·p̄·q̄) + z_β·√(p₁q₁+p₂q₂))² / δ²; all inputs are
    * one integer aggregate, the design math is scalar. Returns one
    * row: (n, p_base 6dp, p_target 6dp, n_per_arm, total_n). */
  def powerProportions(df: DataFrame, convCol: String, delta: Double,
                       zAlpha: Double = 1.959964,
                       zBeta: Double = 0.841621): DataFrame = {
    val conv = (col(convCol).cast("int") === 1).cast("long")
    val g = df.filter(col(convCol).isNotNull)
      .agg(count(lit(1)).as("n"), sum(conv).as("__s"))
    val p1 = col("__s").cast("double") / col("n").cast("double")
    val p2 = p1 + delta
    val pbar = (p1 + p2) / 2
    val nArm = ceil(
      pow(lit(zAlpha) * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
        lit(zBeta) * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2)),
        2) / lit(delta * delta)).cast("long")
    g.select(col("n"), round(p1, 6).as("p_base"),
      round(p2, 6).as("p_target"), nArm.as("n_per_arm"),
      (nArm * 2).as("total_n"))
  }

  /** Abramowitz–Stegun 26.2.17 upper normal tail — the same
    * polynomial [[MultipleTesting]] uses, duplicated here so both
    * engines (and both files) share one closed form. */
  private def phiUpperAS(x: Column): Column = {
    val k = lit(1.0) / (lit(1.0) + lit(0.2316419) * x)
    val poly = k * (lit(0.319381530) + k * (lit(-0.356563782) +
      k * (lit(1.781477937) + k * (lit(-1.821255978) +
        k * lit(1.330274429)))))
    lit(0.3989422804014327) * exp(lit(-0.5) * x * x) * poly
  }

  /** Lilliefors normality test: the one-sample KS statistic against
    * Normal(μ̂, σ̂) with BOTH parameters estimated from the data — the
    * correct KS-for-normality (plain KS critical values are wrong
    * once μ, σ are fitted; report D for comparison against Lilliefors
    * tables). Φ via the A&S polynomial on both engines; moments from
    * exact decimal power sums; the ECDF gaps ride the distinct-value
    * frame (both step sides, like [[ksUniform]]). Returns one row:
    * (n, mean 6dp, sigma 6dp, d_stat 6dp). */
  def lilliefors(df: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    // cents lattice + portable double: Σx and Σx² stay exact integers
    // and convert through core/Lattice (a plain cast of a >2^53 exact
    // sum is not cross-engine stable — round-13 sf0.1 certification)
    val xd = (col(valueCol).cast(DecimalType(18, 2)) * lit(100))
      .cast(DecimalType(38, 0))
    val base = df.filter(col(valueCol).isNotNull &&
        !isnan(col(valueCol).cast("double")))
      .select(col(valueCol).cast("double").as("__v"), xd.as("__xd"))
    val pd = graft.core.Lattice.sparkPortableDouble _
    val mo = base.agg(count(lit(1)).as("__n"),
        sum("__xd").as("__s1i"),
        sum(col("__xd") * col("__xd")).as("__s2i"))
      .selectExpr("__n",
        s"${pd("__s1i")} / 100.0 AS __s1",
        s"${pd("__s2i")} / 10000.0 AS __s2")
    val cells = base.groupBy("__v").agg(count(lit(1)).as("__c"))
    val w = Window.orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nd = col("__n").cast("double")
    val mu = col("__s1") / nd
    // try_divide: ANSI double/0 throws (n = 1 or a constant column)
    val sig = sqrt(try_divide(col("__s2") - nd * mu * mu, nd - 1))
    val z = try_divide(col("__v") - mu, sig)
    val f0 = when(z >= 0, lit(1.0) - phiUpperAS(z))
      .otherwise(phiUpperAS(-z))
    cells.withColumn("__cum", sum("__c").over(w))
      .crossJoin(broadcast(mo))
      .agg(first("__n").as("n"), round(first(mu), 6).as("mean"),
        round(first(sig), 6).as("sigma"),
        round(max(greatest(
          abs(col("__cum").cast("double") / nd - f0),
          abs((col("__cum") - col("__c")).cast("double") / nd - f0))),
          6).as("d_stat"))
  }

  /** ROC operating-point finder: for each target sensitivity (whole
    * percents), the HIGHEST score threshold whose recall of positives
    * reaches the target — with its achieved sensitivity, specificity
    * and precision. The "where do I set the cutoff" table a screening
    * pipeline reads off the validation scores; the sensitivity gate
    * compares as 100·tp ≥ s·P on the integer lattice, never a float
    * boundary.
    *
    * Scale shape: one distinct-score collapse + one descending-score
    * cumulative window (suffix counts), then a ≤#targets-row select.
    * Returns (target_sens 2dp, threshold 6dp, sensitivity 6dp,
    * specificity 6dp, precision 6dp) by target ascending. */
  def operatingPoints(df: DataFrame, scoreCol: String, labelCol: String,
                      targetsPct: Seq[Int] = Seq(80, 90, 95)): DataFrame = {
    require(targetsPct.nonEmpty && targetsPct.forall(t => t >= 1 && t <= 100))
    val base = df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).cast("double").as("__s"),
        (col(labelCol).cast("int") === 1).cast("long").as("__y"))
    // adaptive desc-cumulative cells (VERDICT r12 stretch item): routes
    // through the bucketed rank kernel above the statistics gate
    val cum = graft.ml.Metrics.descCumScoreCells(base)
    val targets = targetsPct.map { t =>
      cum.filter(col("__pge") * 100 >= col("__np") * t)
        .orderBy(col("__s").desc).limit(1)
        .select(lit(t / 100.0).as("target_sens"),
          round(col("__s"), 6).as("threshold"),
          round(try_divide(col("__pge").cast("double"), col("__np")), 6)
            .as("sensitivity"),
          round(try_divide((col("__nt") - col("__np") -
            (col("__cge") - col("__pge"))).cast("double"),
            (col("__nt") - col("__np")).cast("double")), 6)
            .as("specificity"),
          round(try_divide(col("__pge").cast("double"), col("__cge")), 6)
            .as("precision"))
    }
    targets.reduce(_ unionByName _).orderBy("target_sens")
  }

  /** Jonckheere–Terpstra ordered-alternative test: with groups in a
    * KNOWN order (dose, discount band, date bucket), JT = Σ over
    * group pairs i<j of the Mann–Whitney count #(x_i < x_j) + ½ ties
    * — strictly more powerful than Kruskal–Wallis when the
    * alternative is monotone. z from the exact no-tie moments
    * E = (N² − Σn_g²)/4, Var = (N²(2N+3) − Σn_g²(2n_g+3))/72.
    * Everything is integer cell-table dominance joins (the
    * [[kendallTauB]] bounded-cardinality contract) until the final
    * scalar math; 2·JT is carried as an exact integer. Returns one
    * row: (n, n_groups, jt 1dp, z_stat 6dp). */
  def jonckheereTerpstra(df: DataFrame, groupCol: String,
                         valueCol: String): DataFrame = Checkpoints.scoped {
    val cells = Checkpoints.local(df.filter(col(groupCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(groupCol).cast("long").as("__g"),
        col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__n")))
    val a = cells.select(col("__g").as("ga"), col("__v").as("va"),
      col("__n").as("na"))
    val b = cells.select(col("__g").as("gb"), col("__v").as("vb"),
      col("__n").as("nb"))
    val joined = a.join(b, col("gb") > col("ga"))
    val jt2 = joined.agg(
      (coalesce(sum(when(col("va") < col("vb"),
        col("na") * col("nb"))), lit(0L)) * 2 +
        coalesce(sum(when(col("va") === col("vb"),
          col("na") * col("nb"))), lit(0L))).as("__jt2"))
    val sizes = cells.groupBy("__g").agg(sum("__n").as("__ng"))
    val mo = sizes.agg(count(lit(1)).as("n_groups"),
      sum("__ng").as("__N"),
      sum(col("__ng") * col("__ng")).as("__sq"),
      sum(col("__ng") * col("__ng") *
        (lit(2) * col("__ng") + 3)).as("__cu"))
    val nT = col("__N").cast("double")
    val e = (nT * nT - col("__sq").cast("double")) / 4
    val v = (nT * nT * (lit(2.0) * nT + 3) -
      col("__cu").cast("double")) / 72
    mo.crossJoin(broadcast(jt2))
      .select(col("__N").as("n"), col("n_groups"),
        (col("__jt2").cast("double") / 2).as("jt"),
        round(when(v > 0,
          (col("__jt2").cast("double") / 2 - e) / sqrt(v)), 6)
          .as("z_stat"))
    }

  /** Two-sample KS drift PER GROUP in one pipeline — q92's single-pair
    * test, swept across segments ("which event types' value
    * distributions moved after the split"). The rank kernel is the
    * same distinct-value prefix-count plan, PARTITIONED by group, so
    * every segment's D comes out of one shuffle; groups missing
    * either side drop (no one-sided D). Returns
    * (group, n_a, n_b, d_stat 6dp) ordered. */
  def ksByGroup(df: DataFrame, groupCol: String, isACol: String,
                valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(valueCol).isNotNull &&
        !isnan(col(valueCol).cast("double")) && col(isACol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"),
        (col(isACol).cast("int") === 1).cast("long").as("__a"))
    val cells = base.groupBy("__g", "__v")
      .agg(sum("__a").as("__ca"), sum(lit(1L) - col("__a")).as("__cb"))
    val wc = Window.partitionBy("__g").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy("__g")
    val cum = cells
      .withColumn("__cuma", sum("__ca").over(wc))
      .withColumn("__cumb", sum("__cb").over(wc))
      .withColumn("__na", sum("__ca").over(wt))
      .withColumn("__nb", sum("__cb").over(wt))
      .filter(col("__na") > 0 && col("__nb") > 0)
    cum.groupBy(col("__g").as("group"))
      .agg(first("__na").as("n_a"), first("__nb").as("n_b"),
        round(max(abs(col("__cuma").cast("double") / col("__na") -
          col("__cumb").cast("double") / col("__nb"))), 6).as("d_stat"))
      .orderBy("group")
  }

  /** Cost-optimal operating threshold: over all distinct score
    * thresholds (predict positive at score ≥ t), the one minimizing
    * FP·costFp + FN·costFn — q451's operating point when the costs,
    * not a target sensitivity, are what's known. All-integer costs
    * from descending suffix counts; ties break to the HIGHEST
    * threshold. Also reports the no-model baseline min(P·costFn,
    * N·costFp) — a model whose min cost beats neither is useless.
    * Returns one row: (n, best_threshold 6dp, n_fp, n_fn, min_cost,
    * baseline_cost). */
  def costCurve(df: DataFrame, scoreCol: String, labelCol: String,
                costFp: Long, costFn: Long): DataFrame = {
    require(costFp > 0 && costFn > 0)
    val base = df.filter(col(scoreCol).isNotNull &&
        col(labelCol).isNotNull)
      .select(col(scoreCol).cast("double").as("__s"),
        (col(labelCol).cast("int") === 1).cast("long").as("__y"))
    // adaptive desc-cumulative cells (VERDICT r12 stretch item): routes
    // through the bucketed rank kernel above the statistics gate
    val cum = graft.ml.Metrics.descCumScoreCells(base)
      .withColumn("__cost",
        lit(costFp) * (col("__cge") - col("__pge")) +
          lit(costFn) * (col("__np") - col("__pge")))
    val mn = cum.agg(min("__cost").as("__mn"))
    cum.crossJoin(broadcast(mn))
      .filter(col("__cost") === col("__mn"))
      .orderBy(col("__s").desc).limit(1)
      .select(col("__nt").as("n"),
        round(col("__s"), 6).as("best_threshold"),
        (col("__cge") - col("__pge")).as("n_fp"),
        (col("__np") - col("__pge")).as("n_fn"),
        col("__cost").as("min_cost"),
        least(col("__np") * costFn,
          (col("__nt") - col("__np")) * costFp).as("baseline_cost"))
  }

  /** 1-Wasserstein (earth-mover) drift PER GROUP in one pipeline —
    * q345's transport distance, swept across segments the way
    * [[ksByGroup]] sweeps D: KS says WHETHER a segment moved, W1 says
    * BY HOW MUCH in value units. Same group-partitioned distinct-value
    * kernel; the ∫|Fa−Fb| terms quantize to DECIMAL(28,9) before the
    * per-group sum (the grouped sum would otherwise be an
    * order-dependent raw-double reduce). Returns
    * (group, n_a, n_b, w1 6dp) ordered; one-sided groups drop. */
  def wassersteinByGroup(df: DataFrame, groupCol: String,
                         isACol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val base = df.filter(col(valueCol).isNotNull &&
        !isnan(col(valueCol).cast("double")) && col(isACol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"),
        (col(isACol).cast("int") === 1).cast("long").as("__a"))
    val cells = base.groupBy("__g", "__v")
      .agg(sum("__a").as("__ca"), sum(lit(1L) - col("__a")).as("__cb"))
    val wc = Window.partitionBy("__g").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy("__g")
    val wl = Window.partitionBy("__g").orderBy("__v")
    val cum = cells
      .withColumn("__cuma", sum("__ca").over(wc))
      .withColumn("__cumb", sum("__cb").over(wc))
      .withColumn("__na", sum("__ca").over(wt))
      .withColumn("__nb", sum("__cb").over(wt))
      .withColumn("__dv",
        coalesce(lead("__v", 1).over(wl) - col("__v"), lit(0.0)))
      .filter(col("__na") > 0 && col("__nb") > 0)
    val term = abs(col("__cuma").cast("double") / col("__na") -
      col("__cumb").cast("double") / col("__nb")) * col("__dv")
    cum.groupBy(col("__g").as("group"))
      .agg(first("__na").as("n_a"), first("__nb").as("n_b"),
        round(sum(round(term, 9).cast(DecimalType(28, 9)))
          .cast("double"), 6).as("w1"))
      .orderBy("group")
  }

  /** Two-sample variance-ratio F test: F = s²_A/s²_B with the larger
    * group structure left to the caller — the classical spread
    * comparison the Brown–Forsythe battery (q296) robustifies; here
    * as the plain normal-theory number with exact decimal moments.
    * Returns one row: (n_a, n_b, var_a 6dp, var_b 6dp, f_stat 6dp).
    */
  def varianceRatio(df: DataFrame, groupCol: String, valueCol: String,
                    armA: String, armB: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val y = col(valueCol).cast(DecimalType(18, 2))
    val isA = col(groupCol) === armA
    val isB = col(groupCol) === armB
    val g = df.filter(col(valueCol).isNotNull && (isA || isB))
      .agg(sum(isA.cast("long")).as("n_a"),
        sum(isB.cast("long")).as("n_b"),
        sum(when(isA, y)).cast("double").as("__sa"),
        sum(when(isB, y)).cast("double").as("__sb"),
        sum(when(isA, y * y)).cast("double").as("__qa"),
        sum(when(isB, y * y)).cast("double").as("__qb"))
    val (na, nb) = (col("n_a").cast("double"), col("n_b").cast("double"))
    // try_divide: a single-row (or empty) arm makes a divisor DOUBLE
    // 0.0 — DIVIDE_BY_ZERO under ANSI; null (not estimable) matches
    // DuckDB's null-on-zero-divide in the oracle twin.
    val ma = try_divide(col("__sa"), na)
    val mb = try_divide(col("__sb"), nb)
    val va = try_divide(col("__qa") - na * ma * ma, na - 1)
    val vb = try_divide(col("__qb") - nb * mb * mb, nb - 1)
    g.select(col("n_a"), col("n_b"), round(va, 6).as("var_a"),
      round(vb, 6).as("var_b"),
      round(try_divide(va, vb), 6).as("f_stat"))
  }
}
