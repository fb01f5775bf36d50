package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Closed-form causal-inference estimators beyond the experiment
  * family (diff-in-diff q252, CUPED, bootstrap CI): instrumental
  * variables, regression discontinuity, and the cluster-design
  * correction — each a one-or-two-aggregate moments plan with no
  * iteration and no driver-side data.
  */
object Causal {

  /** Wald / just-identified 2SLS instrumental-variable estimate:
    * β_IV = cov(Z,Y)/cov(Z,D) — the causal effect of treatment D on
    * outcome Y when D is confounded but instrument Z moves D and
    * nothing else. Also reports the FIRST-STAGE strength (cov(Z,D)/
    * var(Z) and its F) — a weak instrument is the failure mode to
    * surface, not hide. ONE moments aggregate; Z and D are 0/1 so
    * every sufficient statistic is an integer count or an exact
    * decimal sum. Returns one row:
    * (n, first_stage 6dp, first_stage_f 6dp, beta_iv 6dp). */
  def ivWald(df: DataFrame, zCol: String, dCol: String,
             yCol: String): DataFrame = {
    val z = col(zCol).cast("long")
    val d = col(dCol).cast("long")
    val y = col(yCol).cast(DecimalType(18, 2))
    val g = df.filter(col(yCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(z).as("__sz"), sum(d).as("__sd"),
        sum(z * d).as("__szd"),
        sum(y).cast("double").as("__sy"),
        sum(when(z === 1, y)).cast("double").as("__szy"))
    val nd = col("n").cast("double")
    val mz = col("__sz").cast("double") / nd
    val md = col("__sd").cast("double") / nd
    val my = col("__sy") / nd
    val czd = col("__szd").cast("double") / nd - mz * md
    val czy = col("__szy") / nd - mz * my
    val vz = mz - mz * mz
    val fs = czd / vz
    // first-stage F for a single binary regressor: t² with
    // t = b/se, se² = (RSS/(n−2))/Szz; RSS = Sdd − b·Szd (centered)
    val szz = nd * vz
    val sdd = col("__sd").cast("double") - nd * md * md
    val szd = nd * czd
    val rss = sdd - fs * szd
    val fStat = when(rss > 0,
      fs * fs / ((rss / (nd - 2)) / szz))
    g.select(col("n"), round(fs, 6).as("first_stage"),
      round(fStat, 6).as("first_stage_f"),
      round(when(abs(czd) > 0, czy / czd), 6).as("beta_iv"))
  }

  /** Sharp regression discontinuity at a known cutoff: fit separate
    * local lines on each side of the cutoff within ±bandwidth (exact
    * decimal moments per side), and report the jump — the difference
    * of the two intercepts AT the cutoff. Running variable is
    * centered at the cutoff so the intercepts are directly the
    * boundary values. One aggregate with per-side conditional sums.
    * Returns one row: (n_left, n_right, left_at_cutoff 6dp,
    * right_at_cutoff 6dp, effect 6dp). */
  def rddSharp(df: DataFrame, runCol: String, yCol: String,
               cutoff: Double, bandwidth: Double): DataFrame = {
    val x0 = col(runCol).cast("double") - cutoff
    val y = col(yCol).cast(DecimalType(18, 2))
    val base = df.filter(col(runCol).isNotNull && col(yCol).isNotNull &&
        abs(x0) <= bandwidth)
      .select(x0.as("__x"), y.as("__y"), (x0 >= 0).as("__r"))
    def side(cond: org.apache.spark.sql.Column, tag: String) = Seq(
      sum(when(cond, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(cond, col("__x"))).as(s"__sx_$tag"),
      sum(when(cond, col("__y"))).cast("double").as(s"__sy_$tag"),
      sum(when(cond, col("__x") * col("__x"))).as(s"__sxx_$tag"),
      sum(when(cond, col("__x") * col("__y").cast("double")))
        .as(s"__sxy_$tag"))
    val aggs = side(!col("__r"), "l") ++ side(col("__r"), "r")
    val g = base.agg(aggs.head, aggs.tail: _*)
    def intercept(tag: String) = {
      val n = col(s"n_$tag").cast("double")
      val mx = col(s"__sx_$tag") / n
      val my = col(s"__sy_$tag") / n
      val b = (col(s"__sxy_$tag") - n * mx * my) /
        (col(s"__sxx_$tag") - n * mx * mx)
      my - b * mx
    }
    g.select(col("n_l").as("n_left"), col("n_r").as("n_right"),
      round(intercept("l"), 6).as("left_at_cutoff"),
      round(intercept("r"), 6).as("right_at_cutoff"),
      round(intercept("r") - intercept("l"), 6).as("effect"))
  }

  /** Intra-cluster correlation (one-way ANOVA estimator) + Kish
    * design effect DEFF = 1 + (m̄−1)·ICC — "how many effective
    * observations does a cluster-randomized design really have".
    * ICC = (MSB − MSW)/(MSB + (m̄−1)·MSW) with m̄ the mean cluster
    * size (the standard unequal-size adjustment m₀ =
    * (N − Σm²/N)/(k−1)). Exact decimal per-cluster moments → scalar
    * frame. Returns one row: (k, n, m0 6dp, icc 6dp, deff 6dp). */
  def iccDesignEffect(df: DataFrame, clusterCol: String,
                      valueCol: String): DataFrame = {
    val y = col(valueCol).cast(DecimalType(18, 2))
    val per = df.filter(col(valueCol).isNotNull)
      .groupBy(col(clusterCol).as("__c"))
      .agg(count(lit(1)).as("__m"),
        sum(y).cast("double").as("__s1"),
        sum(y * y).cast("double").as("__s2"))
    val g = per.agg(count(lit(1)).as("k"), sum("__m").as("n"),
      sum(col("__m") * col("__m")).as("__smm"),
      sum("__s1").as("__t1"), sum("__s2").as("__t2"),
      sum(col("__s1") * col("__s1") / col("__m").cast("double"))
        .as("__sb"))
    val kd = col("k").cast("double")
    val nd = col("n").cast("double")
    val m0 = (nd - col("__smm").cast("double") / nd) / (kd - 1)
    val ssb = col("__sb") - col("__t1") * col("__t1") / nd
    val ssw = col("__t2") - col("__sb")
    val msb = ssb / (kd - 1)
    val msw = ssw / (nd - kd)
    val icc = (msb - msw) / (msb + (m0 - 1) * msw)
    g.select(col("k"), col("n"), round(m0, 6).as("m0"),
      round(icc, 6).as("icc"),
      round(lit(1.0) + (m0 - 1) * icc, 6).as("deff"))
  }

  /** Baron–Kenny mediation with the Sobel test, fully closed-form:
    * a = slope of m ~ x, (b, c&apos;) from the 2-regressor y ~ m + x,
    * indirect effect a·b, Sobel z = a·b / sqrt(b²·se_a² + a²·se_b²).
    * One moments aggregate (exact decimal sums; x on an integer
    * lattice for the cross products). Returns one row:
    * (n, a 6dp, b 6dp, c_direct 6dp, indirect 6dp, sobel_z 6dp). */
  def sobelMediation(df: DataFrame, xCol: String, mCol: String,
                     yCol: String): DataFrame = {
    // x on an integer lattice as DECIMAL(9,0): the x-cross products
    // then accumulate exactly ((9,0)x(18,2) = (28,2)) -- a double
    // x*m sum drifts with partition order (2dp values are not
    // binary-exact) and flipped c_direct on a 6dp boundary in r10
    val x = col(xCol).cast(DecimalType(9, 0))
    val m = col(mCol).cast(DecimalType(18, 2))
    val y = col(yCol).cast(DecimalType(18, 2))
    val g = df.filter(col(xCol).isNotNull && col(mCol).isNotNull &&
        col(yCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("__sx"),
        sum(m).cast("double").as("__sm"),
        sum(y).cast("double").as("__sy"),
        sum(x * x).cast("double").as("__sxx"),
        sum(m * m).cast("double").as("__smm"),
        sum(x * m).cast("double").as("__sxm"),
        sum(x * y).cast("double").as("__sxy"),
        sum(m * y).cast("double").as("__smy"),
        sum(y * y).cast("double").as("__syy"))
    val nd = col("n").cast("double")
    val mx = col("__sx") / nd
    val mm = col("__sm") / nd
    val my = col("__sy") / nd
    val sxx = col("__sxx") - nd * mx * mx
    val smm = col("__smm") - nd * mm * mm
    val sxm = col("__sxm") - nd * mx * mm
    val sxy = col("__sxy") - nd * mx * my
    val smy = col("__smy") - nd * mm * my
    val syy = col("__syy") - nd * my * my
    val a = sxm / sxx
    val rssA = smm - a * sxm
    val seA2 = (rssA / (nd - 2)) / sxx
    val det = smm * sxx - sxm * sxm
    val b = (smy * sxx - sxy * sxm) / det
    val cPrime = (sxy * smm - smy * sxm) / det
    val rssY = syy - b * smy - cPrime * sxy
    val seB2 = (rssY / (nd - 3)) * sxx / det
    val ab = a * b
    g.select(col("n"), round(a, 6).as("a"), round(b, 6).as("b"),
      round(cPrime, 6).as("c_direct"), round(ab, 6).as("indirect"),
      round(ab / sqrt(b * b * seA2 + a * a * seB2), 6).as("sobel_z"))
  }

  /** Empirical-Bayes (normal–normal) shrinkage of per-group means —
    * the James–Stein idea with unequal group sizes: method-of-moments
    * τ̂² = max(0, var(group means) − mean(σ²/n_g)), then each group's
    * posterior mean w·m_g + (1−w)·m̄ with w = τ²/(τ² + σ²/n_g). The
    * "small sellers shouldn't top the leaderboard" correction. Exact
    * decimal per-group moments; all shrinkage math on the k-row
    * metadata frame. Returns (group, n, raw_mean 6dp, shrunk_mean 6dp,
    * weight 6dp). */
  def ebShrinkMeans(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val y = col(valueCol).cast(DecimalType(18, 2))
    val per = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"),
        sum(y).cast("double").as("__s1"),
        sum(y * y).cast("double").as("__s2"))
      .filter(col("n") > 1)
    val nd = col("n").cast("double")
    val withM = per.select(col("group"), col("n"),
      (col("__s1") / nd).as("__m"),
      ((col("__s2") - nd * (col("__s1") / nd) * (col("__s1") / nd)) /
        (nd - 1) / nd).as("__se2"))
    val hyper = withM.agg(count(lit(1)).as("__k"),
      avg("__m").as("__gm"),
      (sum(col("__m") * col("__m")) / count(lit(1))).as("__m2"),
      avg("__se2").as("__mse2"))
      .select(col("__k"), col("__gm"),
        greatest(col("__m2") - col("__gm") * col("__gm") -
          col("__mse2"), lit(0.0)).as("__tau2"), col("__mse2"))
    val w = col("__tau2") / (col("__tau2") + col("__se2"))
    withM.crossJoin(broadcast(hyper))
      .select(col("group"), col("n"), round(col("__m"), 6)
        .as("raw_mean"),
        round(w * col("__m") + (lit(1.0) - w) * col("__gm"), 6)
          .as("shrunk_mean"),
        round(w, 6).as("weight"))
      .orderBy("group")
  }

  /** Stratified ATE (g-formula standardization over one discrete
    * confounder): per stratum the treated-vs-control mean gap, then
    * the stratum-size-weighted average — the adjusted effect when
    * treatment assignment depends on the stratum. Exact decimal cell
    * sums; everything after rides the #strata metadata frame. Strata
    * missing either arm drop out (positivity violation, counted).
    * Returns one row: (n_strata, n_dropped, n_units, naive_diff 6dp,
    * adjusted_ate 6dp). */
  def stratifiedAte(df: DataFrame, stratumCol: String, treatCol: String,
                    yCol: String): DataFrame = {
    val y = col(yCol).cast(DecimalType(18, 2))
    val tr = col(treatCol).cast("int") === 1
    val cells = df.filter(col(yCol).isNotNull)
      .groupBy(col(stratumCol).as("__s"))
      .agg(count(lit(1)).as("__n"),
        sum(when(tr, 1L).otherwise(0L)).as("__nt"),
        sum(when(tr, y)).cast("double").as("__st"),
        sum(when(!tr, y)).cast("double").as("__sc"))
    val ok = col("__nt") > 0 && col("__nt") < col("__n")
    val diff = col("__st") / col("__nt").cast("double") -
      col("__sc") / (col("__n") - col("__nt")).cast("double")
    val naive = df.filter(col(yCol).isNotNull).agg(
      (sum(when(tr, y)).cast("double") / sum(when(tr, 1L)) -
        sum(when(!tr, y)).cast("double") / sum(when(!tr, 1L)))
        .as("__naive"))
    // the weighted tail reduce sums 9dp-quantized DECIMALs, never raw
    // doubles: a double sum over the stratum frame is order-dependent
    // and drifts across engines/partitionings (round-10 lesson)
    cells.crossJoin(broadcast(naive))
      .agg(sum(ok.cast("long")).as("n_strata"),
        sum((!ok).cast("long")).as("n_dropped"),
        sum(when(ok, col("__n"))).as("n_units"),
        first("__naive").as("__nv"),
        sum(when(ok, round(diff * col("__n").cast("double"), 9))
          .cast(DecimalType(38, 9))).cast("double").as("__wd"))
      .select(col("n_strata"), col("n_dropped"), col("n_units"),
        round(col("__nv"), 6).as("naive_diff"),
        round(col("__wd") / col("n_units").cast("double"), 6)
          .as("adjusted_ate"))
  }

  /** Common-support audit for a treated/control comparison on a
    * pre-binned score: the histogram overlap coefficient
    * OVL = Σ_bins min(p_treat, p_ctrl) and the share of treated units
    * sitting in bins with NO control — run this BEFORE any matching
    * or stratified ATE (q405 drops off-support strata silently; this
    * query says how much mass that is).
    *
    * Scale shape: one integer groupBy to (bin, n_t, n_c); OVL
    * computes on the integer lattice — min(n_tᵢ·N_c, n_cᵢ·N_t)
    * summed as exact integers, divided once — no per-bin float
    * ratios to drift. Returns one row: (n_treat, n_ctrl, n_bins,
    * overlap 6dp, treat_off_support 6dp). */
  def propensityOverlap(df: DataFrame, binCol: String,
                        treatCol: String): DataFrame = {
    val tr = col(treatCol).cast("int") === 1
    val bins = df.filter(col(binCol).isNotNull)
      .groupBy(col(binCol).as("__b"))
      .agg(sum(when(tr, 1L).otherwise(0L)).as("__nt"),
        sum(when(!tr, 1L).otherwise(0L)).as("__nc"))
    // distinct names from the per-bin columns: Spark resolves
    // case-insensitively, so __Nt would collide with __nt
    val tot = bins.agg(sum("__nt").as("__tn"), sum("__nc").as("__tc"))
    bins.crossJoin(broadcast(tot))
      .agg(first("__tn").as("n_treat"), first("__tc").as("n_ctrl"),
        count(lit(1)).as("n_bins"),
        sum(least(col("__nt") * col("__tc"), col("__nc") * col("__tn")))
          .as("__ovl"),
        sum(when(col("__nc") === 0, col("__nt")).otherwise(0L))
          .as("__off"))
      .select(col("n_treat"), col("n_ctrl"), col("n_bins"),
        round(col("__ovl").cast("double") /
          (col("n_treat") * col("n_ctrl")).cast("double"), 6)
          .as("overlap"),
        round(col("__off").cast("double") / col("n_treat"), 6)
          .as("treat_off_support"))
  }
}
