package graft.eda

import graft.functions.ExactPercentiles
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Robust outlier detection and digit-distribution auditing — the EDA
  * companions to the IQR/stddev filters (eda/Eda.scala q09/q61): MAD
  * handles heavy-tailed columns where the stddev itself is corrupted by
  * the outliers; Benford's first-digit test catches fabricated or
  * truncated numeric columns.
  */
object Robust {

  /** Modified z-score outlier flags (Iglewicz–Hoaglin):
    *   M = 0.6745·(x − median) / MAD,   MAD = median(|x − median|)
    * flag |M| > threshold (3.5 is the standard cut). TWO exact-percentile
    * aggregate passes (median, then MAD) — no sort, no window; both
    * medians land as plan constants. Returns rows + (mad_z 6dp,
    * is_outlier); all-equal columns (MAD = 0) flag nothing.
    */
  def madOutliers(df: DataFrame, colName: String,
                  threshold: Double = 3.5): DataFrame = {
    val c = col(colName).cast("double")
    val medRow = df.filter(c.isNotNull)
      .agg(ExactPercentiles.exactPercentiles(c, Seq(0.5))).head()
    if (medRow.isNullAt(0)) // no non-null values: nothing to judge against
      return df.withColumn("mad_z", lit(null).cast("double"))
        .withColumn("is_outlier", lit(false))
    val med = medRow.getSeq[Double](0).head
    val mad = df.filter(c.isNotNull)
      .agg(ExactPercentiles.exactPercentiles(abs(c - med), Seq(0.5))).head()
      .getSeq[Double](0).head
    val mz = if (mad == 0) lit(null).cast("double")
      else round(lit(0.6745) * (c - med) / mad, 6)
    df.withColumn("mad_z", mz)
      .withColumn("is_outlier", coalesce(abs(col("mad_z")) > threshold, lit(false)))
  }

  /** Winsorized summary: clip values to the exact [pLo, pHi]
    * percentiles, then mean/std — the outlier-resistant headline
    * numbers next to the raw ones. One percentile aggregate (bounds
    * become plan constants) + one stats aggregate. One row:
    * (n, lo_bound, hi_bound, n_clipped, mean 6dp, stddev 6dp).
    */
  def winsorizedStats(df: DataFrame, colName: String,
                      pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi)
    val c = col(colName).cast("double")
    val nn = df.filter(c.isNotNull)
    val bRow = nn.agg(ExactPercentiles.exactPercentiles(c, Seq(pLo, pHi))).head()
    if (bRow.isNullAt(0))
      return df.sparkSession.range(0).select(lit(0L).as("n"),
        lit(0.0).as("lo_bound"), lit(0.0).as("hi_bound"),
        lit(0L).as("n_clipped"), lit(0.0).as("mean"), lit(0.0).as("stddev"))
    val Seq(lo, hi) = bRow.getSeq[Double](0).toSeq
    val w = least(greatest(c, lit(lo)), lit(hi))
    nn.agg(count(lit(1)).as("n"),
      round(lit(lo), 6).as("lo_bound"), round(lit(hi), 6).as("hi_bound"),
      sum(when(c < lo || c > hi, 1L).otherwise(0L)).as("n_clipped"),
      round(avg(w), 6).as("mean"),
      round(stddev_samp(w), 6).as("stddev"))
  }

  /** Day-of-week seasonality profile of an event metric: per ISO
    * weekday (1 = Monday) — n, mean 6dp, and the delta vs the global
    * mean 6dp. Two aggregates total (global mean as a plan constant).
    */
  def dowSeasonality(df: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val ev = graft.core.Tables.ltzTs(df, tsCol)
    val v = col(valueCol).cast("double")
    val gRow = ev.agg(avg(v)).head()
    if (gRow.isNullAt(0))
      return df.sparkSession.range(0).select(lit(0).as("dow"),
        lit(0L).as("n"), lit(0.0).as("mean"), lit(0.0).as("delta_vs_global"))
    val g = gRow.getDouble(0)
    ev.groupBy(dayofweek(col(tsCol)).as("dow")) // Spark: 1=Sunday…7=Saturday
      .agg(count(lit(1)).as("n"), round(avg(v), 6).as("mean"),
        round(avg(v) - g, 6).as("delta_vs_global"))
  }

  /** Benford first-significant-digit audit for a positive numeric
    * column: per digit d ∈ 1..9 — observed share, Benford's expected
    * log10(1 + 1/d), and the χ² contribution; plus the digit counts.
    * One groupBy on the extracted digit (9 groups). Non-positive and
    * NULL values are excluded (they have no first significant digit).
    */
  def benford(df: DataFrame, colName: String): DataFrame = {
    val c = col(colName).cast("double")
    // first significant digit via the base-10 mantissa: d = floor(x / 10^floor(log10 x))
    val digit = floor(c / pow(lit(10.0), floor(log10(c)))).cast("int")
    val counts = df.filter(c.isNotNull && c > 0)
      .groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n")).head().getLong(0)
    val expected = log(10.0, lit(1.0) + lit(1.0) / col("digit"))
    counts.select(col("digit"), col("n"),
        round(col("n") / lit(total.toDouble), 6).as("observed_share"),
        round(expected, 6).as("benford_share"),
        round(pow(col("n") / lit(total.toDouble) - expected, 2) / expected * total, 6)
          .as("chi2_term"))
  }

  /** Per-group WEIGHTED quantiles (lower/"type-1" form): the smallest
    * value v whose cumulative weight reaches q·W — what q158's plain
    * group quantiles become when each row carries a mass (quantity,
    * token count, sampling weight). Exactness: weights ride
    * DECIMAL(18,2), ties collapse in the (grp, value) pre-groupBy, and
    * the q·W threshold compares as 4·cum ≥ W / 2·cum ≥ W / 4·cum ≥ 3·W
    * — integer-scaled decimal comparisons, no float boundary anywhere.
    *
    * Scale shape: one map-combinable (grp, value) groupBy collapses the
    * corpus to distinct values, then two windows + one final groupBy
    * ride that collapsed frame. Non-positive weights are excluded
    * (mass must be positive for the CDF to be monotone). Returns
    * (grp, total_w, w_p25, w_median, w_p75).
    */
  def weightedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                        weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast("double")
    val w = col(weightCol).cast("decimal(18,2)")
    val byV = df.filter(v.isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .groupBy(col(groupCol).as("grp"), v.as("v"))
      .agg(sum(w).as("__w"))
    val wCum = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("grp")
    val c = byV
      .withColumn("__cw", sum("__w").over(wCum))
      .withColumn("__tw", sum("__w").over(wAll))
    c.groupBy("grp").agg(
      max(col("__tw")).cast("double").as("total_w"),
      min(when(col("__cw") * 4 >= col("__tw"), col("v"))).as("w_p25"),
      min(when(col("__cw") * 2 >= col("__tw"), col("v"))).as("w_median"),
      min(when(col("__cw") * 4 >= col("__tw") * 3, col("v"))).as("w_p75"))
  }

  /** Distribution-free 95% CI for the MEDIAN from order statistics
    * (the binomial/sign construction with the normal approximation to
    * the ranks, j = ⌊(n − z√n)/2⌋, k = ⌈1 + (n + z√n)/2⌉): no
    * bootstrap resampling (q269's RNG cost and non-portability), no
    * normality assumption. Order statistics come EXACTLY from the
    * distinct-value cumulative-count frame (x₍ᵣ₎ = min v with
    * count(≤v) ≥ r — the q274 weighted-quantile kernel at weight 1;
    * no interpolation, no float-p quantile); the median is the
    * classic avg of the two middle order stats. Returns one row:
    * (n, median 6dp, ci_lo 6dp, ci_hi 6dp). */
  def medianCi(df: DataFrame, colName: String): DataFrame = {
    val c = col(colName).cast("double")
    val nn = df.filter(c.isNotNull && !isnan(c))
    val n = nn.count()
    require(n >= 10, s"medianCi needs n >= 10, got $n")
    val z = 1.959964
    val j = math.max(1L,
      math.floor((n - z * math.sqrt(n.toDouble)) / 2.0).toLong)
    val k = math.min(n,
      math.ceil(1.0 + (n + z * math.sqrt(n.toDouble)) / 2.0).toLong)
    val (m1, m2) = ((n + 1) / 2, (n + 2) / 2)
    val byv = nn.groupBy(c.as("__v")).agg(count(lit(1)).as("__c"))
    val cum = byv.withColumn("__cn",
      sum("__c").over(org.apache.spark.sql.expressions.Window
        .orderBy("__v")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
    cum.agg(
        min(when(col("__cn") >= m1, col("__v"))).as("__xm1"),
        min(when(col("__cn") >= m2, col("__v"))).as("__xm2"),
        min(when(col("__cn") >= j, col("__v"))).as("__xj"),
        min(when(col("__cn") >= k, col("__v"))).as("__xk"))
      .select(lit(n).as("n"),
        round((col("__xm1") + col("__xm2")) / 2.0, 6).as("median"),
        round(col("__xj"), 6).as("ci_lo"),
        round(col("__xk"), 6).as("ci_hi"))
  }

  /** Quantile alignment map between two samples: for each probe
    * quantile q the exact percentile of A, of B, and the shift
    * B − A — the lookup table quantile normalization / batch-effect
    * correction applies (map A's value at q onto B's). Two exact
    * percentile aggregates, output rides the #quantiles frame.
    * Returns (q, a_quantile 6dp, b_quantile 6dp, shift 6dp). */
  def quantileMap(a: DataFrame, b: DataFrame, valueCol: String,
                  qs: Seq[Double] =
                    (1 to 9).map(_ / 10.0)): DataFrame = {
    import org.apache.spark.sql.functions._
    def edges(df: DataFrame, nm: String) = df
      .filter(col(valueCol).isNotNull)
      .agg(graft.functions.ExactPercentiles.exactPercentiles(
        col(valueCol).cast("double"), qs).as(nm))
    val qFrame = a.sparkSession.createDataFrame(
      qs.zipWithIndex.map { case (q, i) => (q, i + 1) })
      .toDF("q", "__i")
    qFrame.crossJoin(broadcast(edges(a, "__ea")))
      .crossJoin(broadcast(edges(b, "__eb")))
      .select(col("q"),
        round(element_at(col("__ea"), col("__i")), 6)
          .as("a_quantile"),
        round(element_at(col("__eb"), col("__i")), 6)
          .as("b_quantile"),
        round(element_at(col("__eb"), col("__i")) -
          element_at(col("__ea"), col("__i")), 6).as("shift"))
      .orderBy("q")
  }

  /** Per-group robust location/spread profile: exact median, the RAW
    * MAD (median absolute deviation, unscaled — only robust_cv applies
    * the 1.4826 normal-consistency factor), and
    * the robust CV (MAD·1.4826/|median|) — the outlier-proof row the
    * q03 mean/stddev profile can't give on heavy tails. Two grouped
    * exact-percentile aggregates (medians become a broadcast k-row
    * frame, never a collect of data rows) + one join.
    * Returns (group, n, median 6dp, mad 6dp, robust_cv 6dp). */
  def robustSpread(df: DataFrame, groupCol: String,
                   valueCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val v = col(valueCol).cast("double")
    val base = df.filter(v.isNotNull && !isnan(v))
      .select(col(groupCol).as("group"), v.as("__v"))
    val med = base.groupBy("group")
      .agg(count(lit(1)).as("n"),
        element_at(graft.functions.ExactPercentiles
          .exactPercentiles(col("__v"), Seq(0.5)), 1).as("__med"))
    val mad = base.join(broadcast(med), Seq("group"))
      .select(col("group"), abs(col("__v") - col("__med")).as("__d"))
      .groupBy("group")
      .agg(element_at(graft.functions.ExactPercentiles
        .exactPercentiles(col("__d"), Seq(0.5)), 1).as("__mad"))
    med.join(mad, Seq("group"))
      .select(col("group"), col("n"),
        round(col("__med"), 6).as("median"),
        round(col("__mad"), 6).as("mad"),
        round(when(abs(col("__med")) > 0,
          col("__mad") * 1.4826 / abs(col("__med"))), 6)
          .as("robust_cv"))
      .orderBy("group")
  }

  /** Winsorized Pearson correlation: both columns clamp at their own
    * rank-based percentile bounds (DISCRETE order statistics at pLo /
    * pHi — data values, no interpolation arithmetic), then Pearson
    * runs on exact decimal power sums of the clamped pairs next to
    * the raw-value correlation for contrast — how much of r was a
    * handful of tail points. All four bounds come from ONE
    * distinct-value prefix-count rank kernel on the cents lattice
    * (melt x/y to (axis, v), count per cell, cumulate per axis —
    * the k-th smallest is the least v whose prefix count reaches
    * k = ceil(p·n)); the kernel sorts distinct lattice values, never
    * the row frame, so no global single-partition sort at any scale.
    * The bounds stay a broadcast 1-row frame (no driver collect) and
    * the moment pass is ONE map-combinable aggregate on the cents
    * lattice. Degenerate input (n ≤ 1) yields null correlations
    * rather than throwing. Returns one row:
    * (n, r_raw 6dp, r_winsorized 6dp). */
  def winsorizedCorr(df: DataFrame, xCol: String, yCol: String,
                     pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val base = df
      .select(col(xCol).cast(DecimalType(18, 2)).as("__xd"),
        col(yCol).cast(DecimalType(18, 2)).as("__yd"))
      .filter(col("__xd").isNotNull && col("__yd").isNotNull)
      .select((col("__xd") * 100).cast("long").as("__x"),
        (col("__yd") * 100).cast("long").as("__y"))
    val cells = base
      .select(explode(array(
        struct(lit("x").as("__axis"), col("__x").as("__v")),
        struct(lit("y").as("__axis"), col("__y").as("__v")))).as("__p"))
      .select(col("__p.__axis").as("__axis"), col("__p.__v").as("__v"))
      .groupBy("__axis", "__v").agg(count(lit(1)).as("__c"))
    val wc = Window.partitionBy("__axis").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy("__axis")
    val ranked = cells
      .withColumn("__cum", sum("__c").over(wc))
      .withColumn("__n", sum("__c").over(wt))
      .withColumn("__klo",
        greatest(lit(1L), ceil(lit(pLo) * col("__n")).cast("long")))
      .withColumn("__khi",
        greatest(lit(1L), ceil(lit(pHi) * col("__n")).cast("long")))
    val bounds = ranked.groupBy(lit(1).as("__one")).agg(
      min(when(col("__axis") === "x" && col("__cum") >= col("__klo"),
        col("__v"))).as("__xl"),
      min(when(col("__axis") === "x" && col("__cum") >= col("__khi"),
        col("__v"))).as("__xh"),
      min(when(col("__axis") === "y" && col("__cum") >= col("__klo"),
        col("__v"))).as("__yl"),
      min(when(col("__axis") === "y" && col("__cum") >= col("__khi"),
        col("__v"))).as("__yh")).drop("__one")
    val xw = least(greatest(col("__x"), col("__xl")), col("__xh"))
    val yw = least(greatest(col("__y"), col("__yl")), col("__yh"))
    def moments(x: org.apache.spark.sql.Column,
                y: org.apache.spark.sql.Column, tag: String) = Seq(
      sum(x.cast(DecimalType(12, 0)) * x.cast(DecimalType(12, 0)))
        .cast("double").as(s"__sxx$tag"),
      sum(y.cast(DecimalType(12, 0)) * y.cast(DecimalType(12, 0)))
        .cast("double").as(s"__syy$tag"),
      sum(x.cast(DecimalType(12, 0)) * y.cast(DecimalType(12, 0)))
        .cast("double").as(s"__sxy$tag"),
      sum(x).cast("double").as(s"__sx$tag"),
      sum(y).cast("double").as(s"__sy$tag"))
    val aggs = moments(col("__x"), col("__y"), "r") ++
      moments(xw, yw, "w") :+ count(lit(1)).as("n")
    val g = base.crossJoin(broadcast(bounds)).agg(aggs.head, aggs.tail: _*)
    def r(tag: String) = {
      val nd = col("n").cast("double")
      val cxy = col(s"__sxy$tag") - col(s"__sx$tag") * col(s"__sy$tag") / nd
      val cxx = col(s"__sxx$tag") - col(s"__sx$tag") * col(s"__sx$tag") / nd
      val cyy = col(s"__syy$tag") - col(s"__sy$tag") * col(s"__sy$tag") / nd
      when(cxx > 0 && cyy > 0, cxy / sqrt(cxx * cyy))
    }
    g.select(col("n"), round(r("r"), 6).as("r_raw"),
      round(r("w"), 6).as("r_winsorized"))
  }
}
