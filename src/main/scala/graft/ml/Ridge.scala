package graft.ml

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-feature ridge regression per group, solved in closed form: the
  * multivariate step past q176's simple OLS. Slopes come from the
  * centered 2×2 normal equations with an L2 penalty,
  *   (S + λI)·β = c,  β = [(s22+λ)c1 − s12·c2, (s11+λ)c2 − s12·c1]/det,
  *   det = (s11+λ)(s22+λ) − s12²,
  * intercept unpenalized (b0 = ȳ − β·x̄, the standard convention).
  * λ > 0 also conditions the collinear case the unpenalized formula
  * would blow up on.
  *
  * Scale shape: ONE map-side-combined groupBy computes the nine raw
  * moments; every closed-form expression then rides the #groups-sized
  * frame. No second pass, no matrix library, no driver math — the
  * whole fit is a single aggregation, which is what makes it viable
  * per-key on a 100 TB table (it is the textbook "sufficient
  * statistics" trick: moments are additive-mergeable).
  */
object Ridge {

  /** Fit y ~ b0 + b1·x1 + b2·x2 (+ λ on the slopes) per group.
    * `explained` is the centered explained-variance share
    * (β·c / Syy — exact R² at λ = 0, a shrunk proxy under penalty).
    * Groups with a singular penalized system (det = 0, only possible
    * at λ = 0) or fewer than 3 rows emit null coefficients. Inputs
    * are quantized to 2dp (the cents lattice — money-like domain);
    * moments then accumulate as exact integers so the solved betas
    * are bit-identical across engines at any scale. Returns
    * (group, n, b0, b1, b2, explained) floats 6dp. */
  def ridge2(df: DataFrame, groupCol: String, x1Col: String, x2Col: String,
             yCol: String, lambda: Double = 1.0): DataFrame = {
    require(lambda >= 0, s"lambda must be >= 0, got $lambda")
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    // moments on the exact cents lattice (values 2dp-quantized), then
    // ONE portable double conversion per moment (core/Lattice) — raw
    // double sums differ across engines in summation order, which the
    // round-13 100× sweep surfaced as 6dp drift in the solved betas
    def c100(c: Column): Column =
      (c.cast(DecimalType(18, 2)) * lit(100)).cast(d38)
    val (x1, x2, y) = (col(x1Col).cast("double"), col(x2Col).cast("double"),
      col(yCol).cast("double"))
    val (x1c, x2c, yc) = (c100(col(x1Col)), c100(col(x2Col)),
      c100(col(yCol)))
    val pds = graft.core.Lattice.sparkPortableDoubleSigned _
    val m = df.filter(x1.isNotNull && x2.isNotNull && y.isNotNull)
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"),
        sum(x1c).as("sx1_i"), sum(x2c).as("sx2_i"), sum(yc).as("sy_i"),
        sum(x1c * x1c).as("sx1x1_i"), sum(x2c * x2c).as("sx2x2_i"),
        sum(x1c * x2c).as("sx1x2_i"),
        sum(x1c * yc).as("sx1y_i"), sum(x2c * yc).as("sx2y_i"),
        sum(yc * yc).as("syy_i"))
      .selectExpr("group", "n",
        s"${pds("sx1_i")} / 100.0 AS sx1",
        s"${pds("sx2_i")} / 100.0 AS sx2",
        s"${pds("sy_i")} / 100.0 AS sy",
        s"${pds("sx1x1_i")} / 10000.0 AS sx1x1",
        s"${pds("sx2x2_i")} / 10000.0 AS sx2x2",
        s"${pds("sx1x2_i")} / 10000.0 AS sx1x2",
        s"${pds("sx1y_i")} / 10000.0 AS sx1y",
        s"${pds("sx2y_i")} / 10000.0 AS sx2y",
        s"${pds("syy_i")} / 10000.0 AS syy")
    val n = col("n").cast("double")
    val (m1, m2, my) = (col("sx1") / n, col("sx2") / n, col("sy") / n)
    val s11 = col("sx1x1") - n * m1 * m1 + lit(lambda)
    val s22 = col("sx2x2") - n * m2 * m2 + lit(lambda)
    val s12 = col("sx1x2") - n * m1 * m2
    val c1 = col("sx1y") - n * m1 * my
    val c2 = col("sx2y") - n * m2 * my
    val syyC = col("syy") - n * my * my
    val det = s11 * s22 - s12 * s12
    val b1 = (s22 * c1 - s12 * c2) / det
    val b2 = (s11 * c2 - s12 * c1) / det
    def fit(c: Column): Column =
      when(col("n") >= 3 && det =!= 0.0, round(c, 6))
    m.select(col("group"), col("n"),
      fit(my - b1 * m1 - b2 * m2).as("b0"),
      fit(b1).as("b1"), fit(b2).as("b2"),
      when(col("n") >= 3 && det =!= 0.0 && syyC =!= 0.0,
        round((b1 * c1 + b2 * c2) / syyC, 6)).as("explained"))
  }

  /** Chow structural-break test for the simple regression y ~ x: did
    * the (intercept, slope) change between the two regimes a boolean
    * split column defines? F = ((SSE_pooled − SSE₁ − SSE₂)/2) /
    * ((SSE₁+SSE₂)/(n₁+n₂−4)) — the "did the pricing curve move after
    * the policy date" follow-up to [[ridge2]]'s per-group fits.
    *
    * One conditional-moment aggregate over the corpus (both regimes +
    * pooled from the same sums); every SSE is the closed OLS form
    * Syy − Sxy²/Sxx on centered-via-raw moments. Regimes with Sxx = 0
    * or n < 3 emit null F. The read-outs are all O(1) RATIOS (R² of
    * the pooled and split fits against the pooled centered variation,
    * and the F statistic) — raw SSEs at corpus magnitude would be
    * summation-order noise at the 6dp contract. Returns one row:
    * (n_a, n_b, r2_pooled, r2_split, f_chow) 6dp. */
  def chowTest(df: DataFrame, xCol: String, yCol: String,
               splitCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val inA = col(splitCol) === true
    def moments(cond: Column, tag: String) = Seq(
      sum(when(cond, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(cond, x)).as(s"__sx_$tag"),
      sum(when(cond, y)).as(s"__sy_$tag"),
      sum(when(cond, x * x)).as(s"__sxx_$tag"),
      sum(when(cond, y * y)).as(s"__syy_$tag"),
      sum(when(cond, x * y)).as(s"__sxy_$tag"))
    val aggs = moments(inA, "a") ++ moments(!inA, "b")
    val g = df.filter(x.isNotNull && y.isNotNull && col(splitCol).isNotNull)
      .agg(aggs.head, aggs.tail: _*)
    def sse(tag: String): Column = {
      val n = col(s"n_$tag").cast("double")
      val sxx = col(s"__sxx_$tag") - col(s"__sx_$tag") * col(s"__sx_$tag") / n
      val syy = col(s"__syy_$tag") - col(s"__sy_$tag") * col(s"__sy_$tag") / n
      val sxy = col(s"__sxy_$tag") - col(s"__sx_$tag") * col(s"__sy_$tag") / n
      when(col(s"n_$tag") >= 3 && sxx > 0, syy - sxy * sxy / sxx)
    }
    val withP = g
      .withColumn("n_p", col("n_a") + col("n_b"))
      .withColumn("__sx_p", col("__sx_a") + col("__sx_b"))
      .withColumn("__sy_p", col("__sy_a") + col("__sy_b"))
      .withColumn("__sxx_p", col("__sxx_a") + col("__sxx_b"))
      .withColumn("__syy_p", col("__syy_a") + col("__syy_b"))
      .withColumn("__sxy_p", col("__sxy_a") + col("__sxy_b"))
      .withColumn("__sseA", sse("a"))
      .withColumn("__sseB", sse("b"))
      .withColumn("__sseP", sse("p"))
    val sseSplit = col("__sseA") + col("__sseB")
    val dfDen = (col("n_a") + col("n_b") - 4).cast("double")
    val f = when(sseSplit > 0,
      ((col("__sseP") - sseSplit) / 2.0) / (sseSplit / dfDen))
    val nP = col("n_p").cast("double")
    val syyC = col("__syy_p") - col("__sy_p") * col("__sy_p") / nP
    withP.select(col("n_a"), col("n_b"),
      round(when(syyC > 0, lit(1.0) - col("__sseP") / syyC), 6)
        .as("r2_pooled"),
      round(when(syyC > 0, lit(1.0) - sseSplit / syyC), 6)
        .as("r2_split"),
      round(f, 6).as("f_chow"))
  }

  /** Variance inflation factors for a 3-feature design — the
    * multicollinearity gate before trusting [[ridge2]]-style
    * coefficients (VIF > 10 = the slope is noise). Closed form from
    * the 3×3 correlation matrix: regressing feature 1 on {2, 3} gives
    * R²₁ = (r₁₂² + r₁₃² − 2·r₁₂r₁₃r₂₃)/(1 − r₂₃²) (symmetric for the
    * others), VIF = 1/(1 − R²).
    *
    * Scale shape: ONE corr-moment aggregate (complete-case rows, the
    * same Pearson kernel as q07's matrix), then the closed forms ride
    * the single broadcast row and explode to 3 output rows. Degenerate
    * inputs (either pairwise |r| = 1, making the 2-regressor system
    * singular, or R² → 1) emit null VIF. Returns
    * (feature, r2_others 6dp, vif 6dp), one row per feature. */
  def vif3(df: DataFrame, c1: String, c2: String, c3: String): DataFrame = {
    val (x1, x2, x3) = (col(c1).cast("double"), col(c2).cast("double"),
      col(c3).cast("double"))
    val m = df
      .filter(x1.isNotNull && x2.isNotNull && x3.isNotNull &&
        !isnan(x1) && !isnan(x2) && !isnan(x3))
      .agg(corr(x1, x2).as("__r12"), corr(x1, x3).as("__r13"),
        corr(x2, x3).as("__r23"))
    def r2Of(rab: Column, rac: Column, rbc: Column): Column =
      when(lit(1.0) - rbc * rbc > 1e-12,
        (rab * rab + rac * rac - lit(2.0) * rab * rac * rbc) /
          (lit(1.0) - rbc * rbc))
    val (r12, r13, r23) = (col("__r12"), col("__r13"), col("__r23"))
    val rows = array(
      struct(lit(c1).as("feature"),
        r2Of(r12, r13, r23).as("r2"),
        when(lit(1.0) - r2Of(r12, r13, r23) > 1e-12,
          lit(1.0) / (lit(1.0) - r2Of(r12, r13, r23))).as("v")),
      struct(lit(c2).as("feature"),
        r2Of(r12, r23, r13).as("r2"),
        when(lit(1.0) - r2Of(r12, r23, r13) > 1e-12,
          lit(1.0) / (lit(1.0) - r2Of(r12, r23, r13))).as("v")),
      struct(lit(c3).as("feature"),
        r2Of(r13, r23, r12).as("r2"),
        when(lit(1.0) - r2Of(r13, r23, r12) > 1e-12,
          lit(1.0) / (lit(1.0) - r2Of(r13, r23, r12))).as("v")))
    m.select(explode(rows).as("p"))
      .select(col("p.feature").as("feature"),
        round(col("p.r2"), 6).as("r2_others"),
        round(col("p.v"), 6).as("vif"))
  }

  /** k-fold cross-validated ridge-λ selection WITHOUT a second data
    * pass: because the 2-feature ridge is solved from additive
    * sufficient statistics, the train-fold moments are just
    * (total − held-out fold) moments, and the held-out SSE expands as
    * a quadratic form in the SAME fold moments — so the entire
    * (folds × λ grid) search costs ONE moments-by-fold groupBy over
    * the corpus plus metadata algebra. This is the sufficient-
    * statistics trick stated as an operator: the 100 TB version of
    * sklearn's RidgeCV grid.
    *
    * Folds come from the portable md5 first-hex-char map (engine-
    * reproducible, the stratifiedSplit scheme). Per λ the read-out is
    * pooled CV R² = 1 − Σ_f SSE_f / Σ_f SST_f (held-out fold, fold-
    * mean-centered SST) — a ratio, so corpus-magnitude float noise
    * cancels. Returns (lambda, cv_r2 6dp), ordered by λ. */
  def ridgeCv(df: DataFrame, idCol: String, x1Col: String, x2Col: String,
              yCol: String, lambdas: Seq[Double] = Seq(0, 0.5, 1, 2, 4, 8),
              folds: Int = 5, seed: Long = 42L): DataFrame = Checkpoints.scoped {
    require(folds >= 2 && folds <= 16 && lambdas.nonEmpty)
    val (x1, x2, y) = (col(x1Col).cast("double"), col(x2Col).cast("double"),
      col(yCol).cast("double"))
    val hexChars = "0123456789abcdef"
    // materialize the hex char ONCE per row — a when-chain over the
    // raw md5 expression would re-evaluate the hash per branch
    val fold = hexChars.zipWithIndex.foldLeft(lit(0)) { case (acc, (c, i)) =>
      when(col("__h") === c.toString, lit(i % folds)).otherwise(acc) }
    val fm = Checkpoints.local(df.filter(x1.isNotNull && x2.isNotNull && y.isNotNull)
      .select(x1.as("__x1"), x2.as("__x2"), y.as("__y"),
        substring(md5(concat_ws(":",
          col(idCol).cast("string"), lit(seed.toString))), 1, 1).as("__h"))
      .groupBy(fold.as("__f"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("__x1")).as("sx1"), sum(col("__x2")).as("sx2"),
        sum(col("__y")).as("sy"),
        sum(col("__x1") * col("__x1")).as("sx1x1"),
        sum(col("__x2") * col("__x2")).as("sx2x2"),
        sum(col("__x1") * col("__x2")).as("sx1x2"),
        sum(col("__x1") * col("__y")).as("sx1y"),
        sum(col("__x2") * col("__y")).as("sx2y"),
        sum(col("__y") * col("__y")).as("syy")))
    val mom = Seq("n", "sx1", "sx2", "sy", "sx1x1", "sx2x2", "sx1x2",
      "sx1y", "sx2y", "syy")
    val tot = fm.agg(mom.map(c => sum(c).as(s"t_$c")).head,
      mom.map(c => sum(c).as(s"t_$c")).tail: _*)
    val withTrain = fm.crossJoin(broadcast(tot))
      .select(col("__f") +: mom.map(c => col(c)) ++:
        mom.map(c => (col(s"t_$c") - col(c)).as(s"r_$c")): _*)
      .select(col("*"), explode(array(lambdas.map(l =>
        lit(l)): _*)).as("lambda"))
    // train-side centered solve (ridge2 expression shapes, r_ moments)
    val n = col("r_n")
    val (m1, m2, my) =
      (col("r_sx1") / n, col("r_sx2") / n, col("r_sy") / n)
    val s11 = col("r_sx1x1") - n * m1 * m1 + col("lambda")
    val s22 = col("r_sx2x2") - n * m2 * m2 + col("lambda")
    val s12 = col("r_sx1x2") - n * m1 * m2
    val c1 = col("r_sx1y") - n * m1 * my
    val c2 = col("r_sx2y") - n * m2 * my
    val det = s11 * s22 - s12 * s12
    val b1 = (s22 * c1 - s12 * c2) / det
    val b2 = (s11 * c2 - s12 * c1) / det
    val b0 = my - b1 * m1 - b2 * m2
    // held-out SSE as a quadratic form in the fold moments
    val sse = col("syy") + col("n") * b0 * b0 +
      b1 * b1 * col("sx1x1") + b2 * b2 * col("sx2x2") -
      lit(2.0) * b0 * col("sy") - lit(2.0) * b1 * col("sx1y") -
      lit(2.0) * b2 * col("sx2y") +
      lit(2.0) * b0 * b1 * col("sx1") + lit(2.0) * b0 * b2 * col("sx2") +
      lit(2.0) * b1 * b2 * col("sx1x2")
    val sst = col("syy") - col("sy") * col("sy") / col("n")
    withTrain
      .select(col("lambda"), sse.as("__sse"), sst.as("__sst"))
      .groupBy("lambda")
      .agg(round(lit(1.0) - sum("__sse") / sum("__sst"), 6).as("cv_r2"))
      .orderBy("lambda")
  }
}
