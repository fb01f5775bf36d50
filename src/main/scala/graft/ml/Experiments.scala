package graft.ml

import graft.core.{Checkpoints, Lattice, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Experimentation read-outs beyond the plain two-sample test the
  * reference's metric utilities cover (Welch t is q185): CUPED
  * variance reduction (Deng et al., WSDM'13) and the two-period
  * difference-in-differences estimator — the two workhorse analyses a
  * platform runs over an events stream once an A/B assignment exists
  * (reference scope: src/workbench/utils/metrics_utils.py computes
  * point metrics only; these generalize them to adjusted estimates).
  *
  * Scale design: both are pure aggregation pyramids — one entity-level
  * groupBy (map-side combinable) followed by constant-size variant
  * aggregates. Sums ride DECIMAL(18,2) (`Lattice.centsSum`: exact
  * cents in a 128-bit sum) so every engine and every partition order
  * produces the identical total; the few double divisions happen on
  * those exact decimals in a fixed expression shape, making the
  * 6dp-rounded output engine-stable.
  */
object Experiments {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** CUPED-adjusted variant read-out. Each entity contributes a
    * pre-period covariate X (decimal sum of `valueCol` strictly before
    * `splitTs`) and a post-period outcome Y (decimal sum at/after it);
    * entities active in only one period count 0 in the other — the
    * standard "X is a pre-exposure covariate, never missing" framing.
    * θ = cov(X,Y)/var(X) is estimated POOLED across variants (the
    * unbiased choice under randomization), and each variant reports
    * its raw and adjusted mean plus the realized variance reduction
    * 1 − var(Y − θX)/var(Y).
    *
    * Returns one row per variant: (variant, n_units, mean_y,
    * mean_y_cuped, var_y, var_y_cuped, theta, var_reduction), 6dp.
    */
  def cuped(events: DataFrame, entityCol: String, tsCol: String,
            valueCol: String, variantOf: Column => Column,
            splitTs: String): DataFrame = {
    val e = Tables.ltzTs(events, tsCol)
      .filter(col(valueCol).isNotNull && !isnan(col(valueCol)))
    val pre = col(tsCol) < to_timestamp(lit(splitTs))
    // entity rollup: exact decimal X/Y per unit (one shuffle, combiner)
    val units = e.groupBy(col(entityCol).as("__u"))
      .agg(
        coalesce(Lattice.centsSum(when(pre, col(valueCol))), lit(0).cast("decimal(18,2)")).as("__x"),
        coalesce(Lattice.centsSum(when(!pre, col(valueCol))), lit(0).cast("decimal(18,2)")).as("__y"))
      .withColumn("__v", variantOf(col("__u")))
    // pooled θ and global mean-x from one constant-size aggregate
    val g = units.agg(
      count(lit(1)).as("n"),
      sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
      sum(col("__x") * col("__x")).as("sxx"),
      sum(col("__x") * col("__y")).as("sxy")).head()
    val n = g.getLong(0).toDouble
    def d(i: Int): Double = if (g.isNullAt(i)) 0.0 else g.getDecimal(i).doubleValue()
    val sx = d(1); val sy = d(2); val sxx = d(3); val sxy = d(4)
    // empty/degenerate pre-period → θ = 0 (CUPED degrades to the raw mean)
    val thetaDen = n * sxx - sx * sx
    val theta = if (n == 0 || thetaDen == 0) 0.0 else (n * sxy - sx * sy) / thetaDen
    val meanX = if (n == 0) 0.0 else sx / n
    // per-variant moments (decimal-exact), then the CUPED identities:
    // var(Y−θX) = var(Y) − 2θ·cov(X,Y) + θ²·var(X)
    units.groupBy(col("__v").as("variant"))
      .agg(
        count(lit(1)).as("n_units"),
        sum(col("__x")).as("vsx"), sum(col("__y")).as("vsy"),
        sum(col("__x") * col("__x")).as("vsxx"),
        sum(col("__y") * col("__y")).as("vsyy"),
        sum(col("__x") * col("__y")).as("vsxy"))
      .select((Seq(col("variant"), col("n_units")) ++ {
        val nn = col("n_units").cast("double")
        val vsx = col("vsx").cast("double"); val vsy = col("vsy").cast("double")
        val vsxx = col("vsxx").cast("double"); val vsyy = col("vsyy").cast("double")
        val vsxy = col("vsxy").cast("double")
        val meanY = vsy / nn
        val varY = (vsyy - vsy * vsy / nn) / (nn - 1)
        val varX = (vsxx - vsx * vsx / nn) / (nn - 1)
        val covXY = (vsxy - vsx * vsy / nn) / (nn - 1)
        val varC = varY - lit(2 * theta) * covXY + lit(theta * theta) * varX
        Seq(
          round(meanY, 6).as("mean_y"),
          round(meanY - lit(theta) * (vsx / nn - lit(meanX)), 6).as("mean_y_cuped"),
          round(varY, 6).as("var_y"),
          round(varC, 6).as("var_y_cuped"),
          round(lit(theta), 6).as("theta"),
          round(lit(1.0) - varC / varY, 6).as("var_reduction"))
      }): _*)
      .orderBy("variant")
  }

  /** Two-period × two-group difference-in-differences over raw event
    * values: did = (m̄_treat,post − m̄_treat,pre) − (m̄_ctrl,post −
    * m̄_ctrl,pre), with the classic large-sample SE from the four cell
    * variances (Σ s²_g/n_g under independence). One aggregation, one
    * row out: (m_ctrl_pre, m_ctrl_post, m_treat_pre, m_treat_post,
    * did, se, t_stat), 6dp.
    */
  def diffInDiff(events: DataFrame, tsCol: String, valueCol: String,
                 treatOf: Column, splitTs: String): DataFrame = {
    val e = Tables.ltzTs(events, tsCol)
      .filter(col(valueCol).isNotNull && !isnan(col(valueCol)))
      .select(treatOf.cast("int").as("__t"),
        (col(tsCol) >= to_timestamp(lit(splitTs))).cast("int").as("__p"),
        dec(col(valueCol)).as("__y"))
    def cell(t: Int, p: Int, agg: Column): Column =
      sum(when(col("__t") === t && col("__p") === p, agg))
    val aggs = (for (t <- 0 to 1; p <- 0 to 1) yield Seq(
      cell(t, p, lit(1L)).as(s"n$t$p"),
      cell(t, p, col("__y")).as(s"s$t$p"),
      cell(t, p, col("__y") * col("__y")).as(s"q$t$p"))).flatten
    val m = e.agg(aggs.head, aggs.tail: _*)
    def nn(t: Int, p: Int) = col(s"n$t$p").cast("double")
    def mean(t: Int, p: Int) = col(s"s$t$p").cast("double") / nn(t, p)
    def v(t: Int, p: Int) =
      (col(s"q$t$p").cast("double") -
        col(s"s$t$p").cast("double") * col(s"s$t$p").cast("double") / nn(t, p)) /
        (nn(t, p) - 1)
    val did = (mean(1, 1) - mean(1, 0)) - (mean(0, 1) - mean(0, 0))
    val se = sqrt(v(0, 0) / nn(0, 0) + v(0, 1) / nn(0, 1) +
      v(1, 0) / nn(1, 0) + v(1, 1) / nn(1, 1))
    m.select(
      round(mean(0, 0), 6).as("m_ctrl_pre"),
      round(mean(0, 1), 6).as("m_ctrl_post"),
      round(mean(1, 0), 6).as("m_treat_pre"),
      round(mean(1, 1), 6).as("m_treat_post"),
      round(did, 6).as("did"),
      round(se, 6).as("se"),
      round(did / se, 6).as("t_stat"))
  }

  /** Propensity-style STRATIFIED treatment-effect estimate — the
    * observational companion to [[cuped]]/[[diffInDiff]] when
    * assignment wasn't randomized: bin units into `nStrata` roughly
    * equal strata of a confounding covariate, difference the arm means
    * within each stratum, and reweight — ATE weights by stratum size,
    * ATT by the stratum's treated count (Rosenbaum & Rubin '84
    * subclassification). Strata lacking an arm (no overlap) are
    * excluded and the weights renormalize over the rest.
    *
    * Stratum assignment rides the DISTINCT-covariate frame: one
    * groupBy collapses the units, a cumulative-count window over that
    * collapsed frame maps each value to floor(before·S/N)+1 (ties land
    * together — deterministic with no per-unit tiebreak and no
    * data-sized sort; a continuous covariate should be pre-quantized
    * so the distinct frame stays metadata-sized). Outcomes ride
    * DECIMAL(18,2). Returns one row per stratum: (stratum, n,
    * n_treated, mean_treated, mean_control, diff, ate, att) 6dp, with
    * ate/att repeated on every row.
    */
  def stratifiedAte(units0: DataFrame, treatedCol: String,
                    outcomeCol: String, covariateCol: String,
                    nStrata: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nStrata >= 2, "need at least 2 strata")
    val units = units0
      .filter(col(outcomeCol).isNotNull && col(covariateCol).isNotNull)
      .select(col(treatedCol).cast("int").as("__t"),
        dec(col(outcomeCol)).as("__y"),
        col(covariateCol).cast("double").as("__x"))
    val byV = units.groupBy("__x").agg(count(lit(1)).as("__c"))
    val wCum = Window.orderBy("__x")
      .rowsBetween(Window.unboundedPreceding, -1)
    val nTot = byV.agg(sum("__c").as("__nTot"))
    val smap = byV
      .withColumn("__before", coalesce(sum("__c").over(wCum), lit(0L)))
      .crossJoin(nTot)
      .select(col("__x"),
        (floor(col("__before") * nStrata / col("__nTot")) + 1)
          .cast("int").as("stratum"))
    val g = units.join(smap, Seq("__x"))
      .groupBy("stratum").agg(
        count(lit(1)).as("n"),
        sum("__t").cast("long").as("n_treated"),
        sum(when(col("__t") === 1, col("__y"))).as("__st"),
        sum(when(col("__t") === 0, col("__y"))).as("__sc"))
    val nT = col("n_treated").cast("double")
    val nC = (col("n") - col("n_treated")).cast("double")
    val scored = g
      .withColumn("__mt", col("__st").cast("double") / nT)
      .withColumn("__mc", col("__sc").cast("double") / nC)
      .withColumn("__diff",
        when(col("n_treated") > 0 && col("n_treated") < col("n"),
          col("__mt") - col("__mc")))
    val overall = scored.filter(col("__diff").isNotNull).agg(
      (sum(col("__diff") * col("n")) / sum(col("n"))).as("__ate"),
      (sum(col("__diff") * col("n_treated")) / sum(col("n_treated")))
        .as("__att"))
    scored.crossJoin(overall)
      .select(col("stratum"), col("n"), col("n_treated"),
        round(col("__mt"), 6).as("mean_treated"),
        round(col("__mc"), 6).as("mean_control"),
        round(col("__diff"), 6).as("diff"),
        round(col("__ate"), 6).as("ate"),
        round(col("__att"), 6).as("att"))
  }

  /** Delta-method confidence interval for a RATIO metric per arm —
    * revenue per session, clicks per impression: any metric whose
    * denominator varies per unit, where the naive mean-of-ratios and
    * its t-interval are both wrong (Deng et al., KDD'18 practice
    * note). R = ΣY/ΣX over units; Var(R) ≈ (S_yy − 2R·S_yx + R²·S_xx)
    * / (n·x̄²) with sample (n−1) moments of the unit-level (Y, X).
    *
    * ONE aggregate per arm over the unit frame (the caller's unit
    * groupBy is the only corpus pass): decimal ΣY/ΣX for the exact
    * point estimate, double cross-moments in the fixed closed form.
    * Arms with n < 2 or x̄ = 0 emit null se/bounds. Returns one row
    * per arm: (arm, n, num_total, den_total, ratio, se, ci_lo, ci_hi)
    * 6dp, z = 1.96. */
  def ratioMetricCi(units: DataFrame, armCol: String, numCol: String,
                    denCol: String): DataFrame = {
    val y = col(numCol).cast("double")
    val x = col(denCol).cast("double")
    val g = units.groupBy(col(armCol).as("arm")).agg(
      count(lit(1)).as("n"),
      Lattice.centsSum(col(numCol)).as("__sy"),
      Lattice.centsSum(col(denCol)).as("__sx"),
      sum(y * y).as("__syy"), sum(x * x).as("__sxx"),
      sum(y * x).as("__syx"))
    val n = col("n").cast("double")
    val my = col("__sy").cast("double") / n
    val mx = col("__sx").cast("double") / n
    val r = col("__sy").cast("double") / col("__sx").cast("double")
    val syy = (col("__syy") - n * my * my) / (n - 1)
    val sxx = (col("__sxx") - n * mx * mx) / (n - 1)
    val syx = (col("__syx") - n * my * mx) / (n - 1)
    val varR = (syy - lit(2.0) * r * syx + r * r * sxx) / (n * mx * mx)
    val se = when(col("n") >= 2 && col("__sx") =!= 0,
      sqrt(greatest(varR, lit(0.0))))
    g.select(col("arm"), col("n"),
      col("__sy").cast("double").as("num_total"),
      col("__sx").cast("double").as("den_total"),
      round(r, 6).as("ratio"), round(se, 6).as("se"),
      round(r - lit(1.96) * se, 6).as("ci_lo"),
      round(r + lit(1.96) * se, 6).as("ci_hi"))
  }

  /** Nearest-neighbor CALIPER MATCHING on a scalar covariate — the
    * third leg of the observational stool after [[stratifiedAte]]
    * (coarse strata) and regression adjustment ([[cuped]]'s machinery):
    * each treated unit matches the control whose covariate is closest
    * (with replacement), discarded if the gap exceeds `caliper`
    * (Rosenbaum & Rubin '85); ATT = mean matched outcome difference.
    *
    * Scale shape: in sorted covariate order the nearest control is
    * always the last control AT-OR-BEFORE or the first control AFTER
    * the treated value, so the corpus collapses to the DISTINCT-
    * covariate frame first (treated outcome sums + one deterministic
    * control representative per value — the max-outcome control, a
    * fixed tie rule) and two ignore-nulls window lookups over that
    * collapsed frame replace the all-pairs distance join — the
    * [[stratifiedAte]] argument: pre-quantize a continuous covariate
    * and the window frame stays metadata-sized. Equal back/forward
    * gaps take the at-or-before control (so an exact-x control always
    * wins at distance 0). Returns ONE row: (n_treated, n_matched,
    * att, mean_treated, mean_matched_control) 6dp, means over the
    * matched set. */
  def caliperMatch(units0: DataFrame, treatedCol: String,
                   outcomeCol: String, covariateCol: String,
                   caliper: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(caliper > 0, "caliper must be positive")
    val units = units0
      .filter(col(outcomeCol).isNotNull && col(covariateCol).isNotNull)
      .select(col(treatedCol).cast("int").as("__t"),
        col(outcomeCol).as("__y"),
        col(covariateCol).cast("double").as("__x"))
    val byX = units.groupBy("__x").agg(
      sum(when(col("__t") === 1, 1L).otherwise(0L)).as("__nt"),
      Lattice.centsSum(when(col("__t") === 1, col("__y"))).as("__syt"),
      max(when(col("__t") === 0, col("__y").cast("double"))).as("__cyRep"))
    val wB = Window.orderBy("__x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.orderBy("__x")
      .rowsBetween(1, Window.unboundedFollowing)
    val cx = when(col("__cyRep").isNotNull, col("__x"))
    val m = byX
      .withColumn("__bx", last(cx, ignoreNulls = true).over(wB))
      .withColumn("__by", last(col("__cyRep"), ignoreNulls = true).over(wB))
      .withColumn("__fx", first(cx, ignoreNulls = true).over(wF))
      .withColumn("__fy", first(col("__cyRep"), ignoreNulls = true).over(wF))
      .filter(col("__nt") > 0)
    val db = col("__x") - col("__bx")
    val df_ = col("__fx") - col("__x")
    val pickBack = col("__bx").isNotNull &&
      (col("__fx").isNull || db <= df_)
    val scored = m
      .withColumn("__cy", when(pickBack, col("__by")).otherwise(col("__fy")))
      .withColumn("__d", when(pickBack, db).otherwise(df_))
      .withColumn("__ok", col("__cy").isNotNull && col("__d") <= caliper)
    val okNt = when(col("__ok"), col("__nt")).otherwise(lit(0L))
    scored.agg(
      sum("__nt").cast("long").as("n_treated"),
      sum(okNt).cast("long").as("n_matched"),
      round(
        (sum(when(col("__ok"), col("__syt").cast("double"))) -
          sum(okNt.cast("double") * col("__cy"))) / sum(okNt), 6).as("att"),
      round(sum(when(col("__ok"), col("__syt").cast("double"))) / sum(okNt),
        6).as("mean_treated"),
      round(sum(okNt.cast("double") * col("__cy")) / sum(okNt), 6)
        .as("mean_matched_control"))
  }

  /** Raking / iterative proportional fitting (Deming & Stephan 1940):
    * calibrate per-cell sample weights so the weighted sample margins
    * match the POPULATION margins on two categorical dimensions — the
    * survey-reweighting step before any "is my responding subset
    * representative" read-out. `iters` full row+column cycles are
    * unrolled (IPF converges geometrically; 3 cycles is the practical
    * default, and a FIXED count is what makes the oracle exact).
    *
    * Scale shape: two corpus passes (population margins, sample cell
    * counts) collapse everything to the (#rows × #cols) cell frame —
    * metadata — and the IPF cycles are joins on that frame only.
    * Returns one row per sample cell: (r, c, n_sample, weight 6dp,
    * weighted_n 6dp) — weight is the per-unit multiplier, weighted_n
    * = n_sample · weight. Empty sample cells get no row (their mass
    * is redistributed by construction). */
  def rakeWeights(sample: DataFrame, population: DataFrame,
                  rowCol: String, colCol: String,
                  iters: Int = 3): DataFrame = Checkpoints.scoped {
    require(iters >= 1 && iters <= 10, s"iters $iters out of range")
    val popR = population.groupBy(col(rowCol).as("r"))
      .agg(count(lit(1)).cast("double").as("__pr"))
    val popC = population.groupBy(col(colCol).as("c"))
      .agg(count(lit(1)).cast("double").as("__pc"))
    var cells = Checkpoints.local(sample.groupBy(col(rowCol).as("r"), col(colCol).as("c"))
      .agg(count(lit(1)).as("n_sample"))
      .join(popR, Seq("r")).join(popC, Seq("c"))
      .withColumn("__w", lit(1.0)))
    for (_ <- 1 to iters) {
      val rowTot = cells.groupBy("r")
        .agg(sum(col("n_sample") * col("__w")).as("__tr"))
      cells = cells.join(rowTot, Seq("r"))
        .withColumn("__w", col("__w") * col("__pr") / col("__tr"))
        .drop("__tr")
      val colTot = cells.groupBy("c")
        .agg(sum(col("n_sample") * col("__w")).as("__tc"))
      cells = Checkpoints.local(cells.join(colTot, Seq("c"))
        .withColumn("__w", col("__w") * col("__pc") / col("__tc"))
        .drop("__tc"))
    }
    cells.select(col("r"), col("c"), col("n_sample"),
      round(col("__w"), 6).as("weight"),
      round(col("n_sample") * col("__w"), 6).as("weighted_n"))
  }

  /** Quantile treatment effects: the per-decile difference between
    * the treated and control outcome distributions — WHERE the effect
    * lives (bottom lift vs top-tail lift), which the single ATE
    * (q277/q282) averages away. Exact per-group percentiles (the
    * quantile_cont kernel), deciles 10%..90%.
    *
    * Scale shape: one exact-percentile aggregate per group (two rows),
    * exploded to 9 metadata rows. Returns (p, q_treat 6dp,
    * q_ctrl 6dp, qte 6dp). */
  def quantileTreatmentEffects(units: DataFrame, groupCol: String,
                               valueCol: String, treatGroup: String,
                               ctrlGroup: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val ps = (1 to 9).map(_ / 10.0)
    val base = units.filter(v.isNotNull && !isnan(v) &&
      col(groupCol).isin(treatGroup, ctrlGroup))
    def qs(g: String) = base.filter(col(groupCol) === g)
      .agg(graft.functions.ExactPercentiles.exactPercentiles(v, ps)
        .as("__q"))
    val t = qs(treatGroup)
      .select(posexplode(col("__q")).as(Seq("__i", "q_treat")))
    val c = qs(ctrlGroup)
      .select(posexplode(col("__q")).as(Seq("__i", "q_ctrl")))
    t.join(c, Seq("__i"))
      .select(((col("__i") + 1).cast("double") / 10.0).as("p"),
        round(col("q_treat"), 6).as("q_treat"),
        round(col("q_ctrl"), 6).as("q_ctrl"),
        round(col("q_treat") - col("q_ctrl"), 6).as("qte"))
      .orderBy("p")
  }

  /** Exact Bayesian A/B read-out for binary outcomes under uniform
    * Beta(1,1) priors: posterior means per arm and the EXACT
    * probability that B beats A,
    *   P(p_B > p_A) = Σ_{i=0}^{a_B−1} B(a_A+i, b_A+b_B) /
    *                  ((b_B+i)·B(1+i, b_B)·B(a_A, b_A)),
    * the closed form of Cook (2005) — every Beta has INTEGER
    * parameters here, so the log-Beta terms come from the SAME
    * cumulative log-factorial ladder as q293's Fisher kernel (lf
    * window), never an lgamma call that could differ between libms.
    *
    * Scale shape: ONE conditional-count aggregate over the units
    * frame; the ladder frame is n+2 rows (unpartitioned cumsum — the
    * documented small-strata trade of the Fisher kernel, require-
    * guarded at 1e6) and the Cook sum is an a_B-row aggregate.
    * Returns one row: (n_a, s_a, n_b, s_b, mean_a 6dp, mean_b 6dp,
    * prob_b_beats_a 6dp). */
  def bayesianAb(units: DataFrame, armCol: String, convCol: String,
                 armA: String, armB: String): DataFrame = Checkpoints.scoped {
    import org.apache.spark.sql.expressions.Window
    val spark = units.sparkSession
    val isA = col(armCol) === armA
    val isB = col(armCol) === armB
    val cRow = units.filter((isA || isB) && col(convCol).isNotNull)
      .agg(
        sum(when(isA, 1L).otherwise(0L)).as("na"),
        sum(when(isA && col(convCol) === 1, 1L).otherwise(0L)).as("sa"),
        sum(when(isB, 1L).otherwise(0L)).as("nb"),
        sum(when(isB && col(convCol) === 1, 1L).otherwise(0L)).as("sb"))
      .head()
    val (na, sa, nb, sb) = (cRow.getLong(0), cRow.getLong(1),
      cRow.getLong(2), cRow.getLong(3))
    require(na + nb <= 1000000L,
      s"bayesianAb exact kernel is for n <= 1e6, got ${na + nb}")
    // Beta(1+s, 1+f) posteriors; integer params for the ladder
    val (aA, bA) = (1L + sa, 1L + (na - sa))
    val (aB, bB) = (1L + sb, 1L + (nb - sb))
    val top = aA + aB + bA + bB
    val lf = Checkpoints.local(spark.range(0, top + 1)
      .withColumn("lf", sum(log(greatest(col("id"), lit(1L))))
        .over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    def lfOf(alias: String) =
      lf.select(col("id").as(alias + "_i"), col("lf").as(alias))
    // ln B(x, y) = lf(x−1) + lf(y−1) − lf(x+y−1)
    val is = spark.range(0, aB).select(col("id").as("i"))
    val terms = is
      .join(lfOf("l1"), lit(aA - 1) + col("i") === col("l1_i")) // (aA+i)−1
      .join(lfOf("l2"), col("i") === col("l2_i")) // (1+i)−1
      .join(lfOf("l3"),
        lit(aA + bA + bB - 1) + col("i") === col("l3_i")) // (aA+i+bA+bB)−1
      .crossJoin(lf.filter(col("id") === bA + bB - 1)
        .select(col("lf").as("lbab")))
      .crossJoin(lf.filter(col("id") === bB - 1).select(col("lf").as("lbb")))
      .crossJoin(lf.filter(col("id") === aA - 1).select(col("lf").as("laa")))
      .crossJoin(lf.filter(col("id") === bA - 1).select(col("lf").as("lba")))
      .crossJoin(lf.filter(col("id") === aA + bA - 1)
        .select(col("lf").as("laba")))
      .select(
        // ln B(aA+i, bA+bB) = l1 + lbab − l3
        // ln B(1+i, bB) = l2 + lbb − lf(i+bB)  … need lf(i+bB):
        col("i"), col("l1"), col("l2"), col("l3"), col("lbab"),
        col("lbb"), col("laa"), col("lba"), col("laba"))
      .join(lfOf("l4"), col("i") + lit(bB) === col("l4_i")) // (1+i+bB)−1
      .select((col("l1") + col("lbab") - col("l3") -
        log(lit(bB.toDouble) + col("i")) -
        (col("l2") + col("lbb") - col("l4")) -
        (col("laa") + col("lba") - col("laba"))).as("lt"))
    val p = terms.agg(sum(exp(col("lt"))).as("p"))
    p.select(lit(na).as("n_a"), lit(sa).as("s_a"),
      lit(nb).as("n_b"), lit(sb).as("s_b"),
      round(lit(aA.toDouble / (aA + bA)), 6).as("mean_a"),
      round(lit(aB.toDouble / (aB + bB)), 6).as("mean_b"),
      round(least(col("p"), lit(1.0)), 6).as("prob_b_beats_a"))
  }

  /** Effective sample size and Kish design effect per group under a
    * row-weight column: ESS = (Σw)²/Σw², deff = n·Σw²/(Σw)² — the
    * "how many docs is this weighted corpus really worth" read-out
    * for importance-weighted (DSIR-style) or length-weighted training
    * mixes; deff ≈ 1 means weighting costs nothing, deff = 2 means
    * half the nominal sample is wasted on weight variance.
    *
    * Scale shape: ONE map-combinable groupBy with exact decimal power
    * sums (w at (18,2), w² at (37,4)) — order-free on any engine and
    * partitioning. Returns (group, n, sum_w 6dp, ess 6dp, deff 6dp).
    */
  def essProfile(df: DataFrame, groupCol: String,
                 weightCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = col(weightCol).cast(DecimalType(18, 2))
    val g = df.filter(col(weightCol).isNotNull &&
        col(weightCol).cast("double") > 0)
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"),
        sum(w).cast("double").as("__s1"),
        sum(w * w).cast("double").as("__s2"))
    g.select(col("group"), col("n"),
        round(col("__s1"), 6).as("sum_w"),
        round(col("__s1") * col("__s1") / col("__s2"), 6).as("ess"),
        round(col("n").cast("double") * col("__s2") /
          (col("__s1") * col("__s1")), 6).as("deff"))
      .orderBy("group")
  }

  /** TOST equivalence test (two one-sided Welch z-tests against a
    * ±margin): the A/B question significance tests cannot answer —
    * "are these two arms the SAME to within δ" (no significant
    * difference ≠ equivalence). Equivalent when BOTH one-sided tests
    * reject: (diff+δ)/se > z_crit AND (diff−δ)/se < −z_crit.
    * One exact-decimal moments aggregate. Returns one row:
    * (n_a, n_b, diff 6dp, se 6dp, t_lower 6dp, t_upper 6dp,
    * equivalent). */
  def tostEquivalence(df: DataFrame, groupCol: String, valueCol: String,
                      armA: String, armB: String, margin: Double,
                      zCrit: Double = 1.644854): DataFrame = {
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
    // try_divide: an empty or single-row arm makes a divisor DOUBLE
    // 0.0 — DIVIDE_BY_ZERO under ANSI; null (not estimable) matches
    // DuckDB's null-on-zero-divide in the oracle twin. A zero se
    // (both arms constant) likewise yields null t's, not a crash.
    val ma = try_divide(col("__sa"), na)
    val mb = try_divide(col("__sb"), nb)
    val va = try_divide(col("__qa") - na * ma * ma, na - 1)
    val vb = try_divide(col("__qb") - nb * mb * mb, nb - 1)
    val diff = ma - mb
    val se = sqrt(va / na + vb / nb)
    val tLo = try_divide(diff + margin, se)
    val tUp = try_divide(diff - margin, se)
    g.select(col("n_a"), col("n_b"), round(diff, 6).as("diff"),
      round(se, 6).as("se"), round(tLo, 6).as("t_lower"),
      round(tUp, 6).as("t_upper"),
      (tLo > zCrit && tUp < -zCrit).as("equivalent"))
  }
}
