package graft.eda

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distribution-shape and sequence tests the reference's scipy layer
  * would reach for (normality, median homogeneity, paired location,
  * randomness) — each re-derived as a distributed aggregate pipeline
  * with an exact cross-engine contract: every sufficient statistic is
  * either an integer count, an exact decimal sum, or a rank from the
  * bucketed kernel, so no summation-order term can flip the oracle
  * hash (the q253 lesson).
  */
object ShapeTests {

  /** Jarque–Bera normality test per group: JB = n/6·(S² + K²/4) from
    * the four raw power sums. Inputs are pinned to an integer lattice
    * (x · 10^scale, HALF_UP) so Σx..Σx⁴ accumulate EXACTLY as
    * decimals — S and K are invariant under the linear rescale, so the
    * statistic is the textbook one up to lattice granularity, and the
    * double arithmetic after the exact sums is one deterministic
    * expression tree on both engines. Lattice values must satisfy
    * |x·10^scale| ≲ 1e9 (so x⁴ fits decimal(38,0)/HUGEINT).
    * Returns (group, n, skew 6dp, ex_kurtosis 6dp, jb 6dp). */
  def jarqueBera(df: DataFrame, groupCol: String, valueCol: String,
                 scale: Int = 0): DataFrame = {
    val xi = round(col(valueCol).cast("double") * math.pow(10, scale), 0)
      .cast(DecimalType(38, 0))
    val base = df.filter(col(valueCol).isNotNull &&
        !isnan(col(valueCol).cast("double")))
      .select(col(groupCol).as("group"), xi.as("__x"))
    val g = base.groupBy("group").agg(
      count(lit(1)).as("n"),
      sum(col("__x")).cast("double").as("__s1"),
      sum(col("__x") * col("__x")).cast("double").as("__s2"),
      sum(col("__x") * col("__x") * col("__x")).cast("double").as("__s3"),
      sum(col("__x") * col("__x") * col("__x") * col("__x"))
        .cast("double").as("__s4"))
    val nd = col("n").cast("double")
    val m = col("__s1") / nd
    val m2 = col("__s2") / nd - m * m
    val m3 = col("__s3") / nd - lit(3.0) * m * (col("__s2") / nd) +
      lit(2.0) * m * m * m
    val m4 = col("__s4") / nd - lit(4.0) * m * (col("__s3") / nd) +
      lit(6.0) * m * m * (col("__s2") / nd) - lit(3.0) * m * m * m * m
    // sqrt(m2)*m2 instead of pow(m2, 1.5): sqrt is IEEE
    // correctly-rounded on both engines, pow is not guaranteed to be
    val skew = when(m2 > 0, m3 / (sqrt(m2) * m2))
    val kurt = when(m2 > 0, m4 / (m2 * m2) - lit(3.0))
    g.select(col("group"), col("n"),
        round(skew, 6).as("skew"),
        round(kurt, 6).as("ex_kurtosis"),
        round(nd / lit(6.0) *
          (skew * skew + kurt * kurt / lit(4.0)), 6).as("jb"))
      .orderBy("group")
  }

  /** Mood's median test: split every value on the POOLED median and
    * χ²-test the per-group above/at-or-below contingency (the robust
    * k-group location test that needs no variance assumption at all —
    * the screening companion to [[StatTests.kruskalWallis]]).
    * Two-phase: the exact pooled median becomes a plan literal
    * (the q174 madOutliers pattern), then ONE map-combinable groupBy
    * builds the 2×k table and the χ² rides the k-row metadata frame.
    * Returns one row: (k, n, n_above, chi2 6dp). */
  def moodMedian(df: DataFrame, groupCol: String,
                 valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val base = df.filter(v.isNotNull && !isnan(v))
      .select(col(groupCol).as("__grp"), v.as("__v"))
    val medRow = base.agg(element_at(graft.functions.ExactPercentiles
      .exactPercentiles(col("__v"), Seq(0.5)), 1)).head()
    val med = if (medRow.isNullAt(0)) Double.NaN else medRow.getDouble(0)
    val cells = base.groupBy("__grp").agg(
      count(lit(1)).as("__ng"),
      sum(when(col("__v") > med, 1L).otherwise(0L)).as("__ag"))
    val tot = cells.agg(sum("__ng").as("__n"), sum("__ag").as("__a"),
      count(lit(1)).as("k"))
    val ea = col("__ng").cast("double") * col("__a") / col("__n")
    val eb = col("__ng").cast("double") * (col("__n") - col("__a")) /
      col("__n")
    val bg = col("__ng") - col("__ag")
    cells.crossJoin(broadcast(tot))
      .agg(first("k").as("k"), first("__n").as("n"),
        first("__a").as("n_above"),
        round(sum(
          (col("__ag") - ea) * (col("__ag") - ea) / ea +
            (bg - eb) * (bg - eb) / eb), 6).as("chi2"))
  }

  /** Wilcoxon signed-rank test over PRE-PAIRED observations (xCol,
    * yCol per row): d = x − y, zeros dropped, |d| tie-average-ranked
    * through the bucketed kernel ([[graft.ml.Metrics.avgRanks]] — no
    * global sort), W⁺ = Σ ranks of positive d, z from the tie-corrected
    * normal approximation (no continuity correction — the exact
    * large-sample form, reproducible bit-for-bit in SQL).
    * Returns one row: (n_pairs, w_plus, z_stat 6dp). */
  def wilcoxonSignedRank(df: DataFrame, xCol: String,
                         yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val base = df
      .filter(x.isNotNull && !isnan(x) && y.isNotNull && !isnan(y))
      .select((x - y).as("__d"))
      .filter(col("__d") =!= 0.0)
      .select(abs(col("__d")).as("__ad"),
        (col("__d") > 0).cast("int").as("__pos"))
    val ranks = graft.ml.Metrics.avgRanks(base, "__ad")
    val main = base.join(ranks, base("__ad") === ranks("value"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__pos") === 1, col("avg_rank"))).as("__wp"))
    val tie = ranks.agg(sum(col("n") * col("n") * col("n") - col("n"))
      .as("__t3t"))
    val nd = col("n_pairs").cast("double")
    main.crossJoin(broadcast(tie))
      .select(col("n_pairs"),
        round(coalesce(col("__wp"), lit(0.0)), 6).as("w_plus"),
        round((coalesce(col("__wp"), lit(0.0)) -
          nd * (nd + 1) / lit(4.0)) /
          sqrt(nd * (nd + 1) * (lit(2.0) * nd + 1) / lit(24.0) -
            col("__t3t").cast("double") / lit(48.0)), 6).as("z_stat"))
  }

  /** Wald–Wolfowitz runs test on an ORDERED series (one row per order
    * key, e.g. a daily aggregate): signs vs the series median (ties at
    * the median dropped), R = #sign runs, z from the exact run-count
    * moments. The window rides the already-aggregated series frame
    * (days, not events) — metadata-sized by construction; the caller
    * owns the aggregation that got it there.
    * Returns one row: (n, n_above, n_below, runs, z_stat 6dp). */
  def runsTest(df: DataFrame, orderCol: String,
               valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast("double")
    val base = df.filter(v.isNotNull && !isnan(v))
      .select(col(orderCol).as("__o"), v.as("__v"))
    val medRow = base.agg(element_at(graft.functions.ExactPercentiles
      .exactPercentiles(col("__v"), Seq(0.5)), 1)).head()
    val med = if (medRow.isNullAt(0)) Double.NaN else medRow.getDouble(0)
    val signs = base.filter(col("__v") =!= med)
      .select(col("__o"), (col("__v") > med).cast("int").as("__s"))
    val w = Window.orderBy("__o")
    val runs = signs
      .withColumn("__chg",
        when(lag("__s", 1).over(w).isNull ||
          lag("__s", 1).over(w) =!= col("__s"), 1L).otherwise(0L))
    val n1 = col("n_above").cast("double")
    val n2 = col("n_below").cast("double")
    val n = n1 + n2
    val muR = lit(2.0) * n1 * n2 / n + 1
    val varR = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n) /
      (n * n * (n - 1))
    runs.agg(count(lit(1)).as("n_t"),
        sum("__s").as("n_above"),
        sum(lit(1L) - col("__s")).as("n_below"),
        sum("__chg").as("runs"))
      .select(col("n_t").as("n"), col("n_above"), col("n_below"),
        col("runs"),
        round(when(varR > 0,
          (col("runs").cast("double") - muR) / sqrt(varR)), 6)
          .as("z_stat"))
  }

  /** Paired sign test over pre-paired (xCol, yCol) rows: the
    * assumption-free floor under [[wilcoxonSignedRank]] (no symmetry
    * needed — only the sign of each difference). Zeros drop;
    * z = (n⁺ − n⁻)/√n. ONE aggregate, all-integer sufficient stats.
    * Returns one row: (n_pairs, n_pos, n_neg, z_stat 6dp). */
  def signTest(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val g = df
      .filter(x.isNotNull && !isnan(x) && y.isNotNull && !isnan(y) &&
        x =!= y)
      .agg(count(lit(1)).as("n_pairs"),
        sum((x > y).cast("long")).as("n_pos"),
        sum((x < y).cast("long")).as("n_neg"))
    g.select(col("n_pairs"), col("n_pos"), col("n_neg"),
      round((col("n_pos") - col("n_neg")).cast("double") /
        sqrt(col("n_pairs").cast("double")), 6).as("z_stat"))
  }

  /** Bimodality coefficient per group: BC = (g₁² + 1) /
    * (g₂ + 3(n−1)²/((n−2)(n−3))) with population-moment skew g₁ and
    * excess kurtosis g₂ from the EXACT integer-lattice power sums
    * (the [[jarqueBera]] kernel) — BC > 5/9 ≈ 0.555 flags a
    * bimodal/heavy-shoulder distribution (the cheap stand-in for a
    * dip test). Returns (group, n, bc 6dp, is_bimodal). */
  def bimodalityCoefficient(df: DataFrame, groupCol: String,
                            valueCol: String,
                            scale: Int = 0): DataFrame = {
    val xi = round(col(valueCol).cast("double") * math.pow(10, scale), 0)
      .cast(DecimalType(38, 0))
    val base = df.filter(col(valueCol).isNotNull &&
        !isnan(col(valueCol).cast("double")))
      .select(col(groupCol).as("group"), xi.as("__x"))
    val g = base.groupBy("group").agg(
      count(lit(1)).as("n"),
      sum(col("__x")).cast("double").as("__s1"),
      sum(col("__x") * col("__x")).cast("double").as("__s2"),
      sum(col("__x") * col("__x") * col("__x")).cast("double")
        .as("__s3"),
      sum(col("__x") * col("__x") * col("__x") * col("__x"))
        .cast("double").as("__s4"))
    val nd = col("n").cast("double")
    val m = col("__s1") / nd
    val m2 = col("__s2") / nd - m * m
    val m3 = col("__s3") / nd - lit(3.0) * m * (col("__s2") / nd) +
      lit(2.0) * m * m * m
    val m4 = col("__s4") / nd - lit(4.0) * m * (col("__s3") / nd) +
      lit(6.0) * m * m * (col("__s2") / nd) - lit(3.0) * m * m * m * m
    val skew = m3 / (sqrt(m2) * m2)
    val kurt = m4 / (m2 * m2) - lit(3.0)
    val corr3 = lit(3.0) * (nd - 1) * (nd - 1) /
      ((nd - 2) * (nd - 3))
    val bc = (skew * skew + 1) / (kurt + corr3)
    g.filter(col("n") > 3)
      .select(col("group"), col("n"),
        round(when(m2 > 0, bc), 6).as("bc"),
        when(m2 > 0, bc > 5.0 / 9).as("is_bimodal"))
      .orderBy("group")
  }

  /** Paired rank-biserial correlation: the effect size under the
    * Wilcoxon signed-rank test (q349) — r = (W⁺ − W⁻)/(W⁺ + W⁻), the
    * share of signed-rank mass favoring the positive direction.
    * Tie-averaged ranks of |d| carry as EXACT integers (2·avg_rank =
    * 2·cum_before + run + 1 — rank mass is counts, whatever the value
    * type), so W⁺ and W⁻ are integer halves and r is one division;
    * d stays a raw double like q349's kernel (casting a derived
    * quotient to a decimal lattice would hit the .xx5 tie trap).
    * Zero diffs drop (the q380 convention). Returns one row:
    * (n_pairs, w_plus 1dp, w_minus 1dp, rank_biserial 6dp). */
  def rankBiserial(df: DataFrame, xCol: String,
                   yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val d = df.filter(x.isNotNull && !isnan(x) &&
        y.isNotNull && !isnan(y))
      .select((x - y).as("__d"))
      .filter(col("__d") =!= 0.0)
    val cells = d.groupBy(abs(col("__d")).as("__ad"))
      .agg(count(lit(1)).as("__c"),
        sum((col("__d") > 0).cast("long")).as("__cp"))
    val w = Window.orderBy("__ad")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withR = cells
      .withColumn("__cb", coalesce(sum("__c").over(w), lit(0L)))
      // 2 x tie-averaged rank of every obs in this run
      .withColumn("__r2", lit(2) * col("__cb") + col("__c") + 1)
    val g = withR.agg(sum("__c").as("n_pairs"),
      sum(col("__cp") * col("__r2")).as("__w2p"),
      sum((col("__c") - col("__cp")) * col("__r2")).as("__w2m"))
    g.select(col("n_pairs"),
      (col("__w2p").cast("double") / 2).as("w_plus"),
      (col("__w2m").cast("double") / 2).as("w_minus"),
      round(try_divide((col("__w2p") - col("__w2m")).cast("double"),
        (col("__w2p") + col("__w2m")).cast("double")), 6)
        .as("rank_biserial"))
  }
}
