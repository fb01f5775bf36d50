package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Classifier-evaluation extras beyond the q18-q20/q74/q199 pack:
  * chance-robust scalar summaries (MCC), standardized effect sizes,
  * the A/B sample-ratio guardrail, threshold selection (Youden / best
  * F1), ties-exact average precision, and the equalized-odds fairness
  * audit. Confusion counts are integers, so every statistic here is
  * deterministic double arithmetic over exact sufficient statistics.
  */
object EvalExtras {

  /** Fixed-threshold scalar summary from the 2×2 confusion counts:
    * Matthews correlation (the balanced single number that survives
    * class skew), Youden's J = TPR + TNR − 1, and balanced accuracy.
    * ONE aggregate. `predCol`/`labelCol` are 0/1.
    * Returns (tp, fp, fn, tn, mcc 6dp, youden_j 6dp,
    * balanced_acc 6dp). */
  def mccSummary(df: DataFrame, predCol: String,
                 labelCol: String): DataFrame = {
    val p = col(predCol).cast("long")
    val l = col(labelCol).cast("long")
    val g = df.agg(
      sum(p * l).as("tp"),
      sum(p * (lit(1L) - l)).as("fp"),
      sum((lit(1L) - p) * l).as("fn"),
      sum((lit(1L) - p) * (lit(1L) - l)).as("tn"))
    val tp = col("tp").cast("double")
    val fp = col("fp").cast("double")
    val fn = col("fn").cast("double")
    val tn = col("tn").cast("double")
    val den = sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    val tpr = tp / (tp + fn)
    val tnr = tn / (tn + fp)
    g.select(col("tp"), col("fp"), col("fn"), col("tn"),
      round(when(den > 0, (tp * tn - fp * fn) / den), 6).as("mcc"),
      round(tpr + tnr - 1, 6).as("youden_j"),
      round((tpr + tnr) / 2, 6).as("balanced_acc"))
  }

  /** Standardized mean-difference effect sizes for two groups:
    * Cohen's d (pooled SD), Hedges' g (small-sample-corrected,
    * J = 1 − 3/(4·df − 1)), Glass's Δ (control-SD only) — the numbers
    * a meta-analysis wants next to any p-value. Exact decimal power
    * sums per group, one aggregate. Returns one row:
    * (n_a, n_b, mean_diff 6dp, cohens_d 6dp, hedges_g 6dp,
    * glass_delta 6dp). */
  def effectSizes(a: DataFrame, b: DataFrame,
                  valueCol: String): DataFrame = {
    val y = col(valueCol).cast(DecimalType(18, 2))
    def mom(df: DataFrame, tag: String) = df
      .filter(col(valueCol).isNotNull)
      .agg(count(lit(1)).as(s"n_$tag"),
        sum(y).cast("double").as(s"__s1_$tag"),
        sum(y * y).cast("double").as(s"__s2_$tag"))
    val g = mom(a, "a").crossJoin(mom(b, "b"))
    def nd(t: String) = col(s"n_$t").cast("double")
    def mu(t: String) = col(s"__s1_$t") / nd(t)
    def ss(t: String) =
      col(s"__s2_$t") - nd(t) * mu(t) * mu(t)
    val sp = sqrt((ss("a") + ss("b")) / (nd("a") + nd("b") - 2))
    val d = (mu("a") - mu("b")) / sp
    val j = lit(1.0) - lit(3.0) /
      (lit(4.0) * (nd("a") + nd("b") - 2) - 1)
    val sb = sqrt(ss("b") / (nd("b") - 1))
    g.select(col("n_a"), col("n_b"),
      round(mu("a") - mu("b"), 6).as("mean_diff"),
      round(d, 6).as("cohens_d"),
      round(d * j, 6).as("hedges_g"),
      round(when(sb > 0, (mu("a") - mu("b")) / sb), 6)
        .as("glass_delta"))
  }

  /** Sample-ratio-mismatch guardrail: χ² (1 df) of the observed
    * variant split against an expected share — the FIRST check on any
    * A/B readout (an SRM invalidates everything downstream). One
    * aggregate of unit counts. Returns one row:
    * (n_a, n_b, expected_share, observed_share 6dp, chi2 6dp,
    * z_stat 6dp). */
  def srmCheck(df: DataFrame, armCol: String,
               expectedShareA: Double = 0.5): DataFrame = {
    val g = df.agg(
      sum(col(armCol).cast("long")).as("n_a"),
      sum(lit(1L) - col(armCol).cast("long")).as("n_b"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val n = na + nb
    val ea = n * expectedShareA
    val eb = n * (1 - expectedShareA)
    g.select(col("n_a"), col("n_b"),
      lit(expectedShareA).as("expected_share"),
      round(na / n, 6).as("observed_share"),
      round((na - ea) * (na - ea) / ea + (nb - eb) * (nb - eb) / eb, 6)
        .as("chi2"),
      round((na - ea) / sqrt(n * expectedShareA *
        (1 - expectedShareA)), 6).as("z_stat"))
  }

  /** Threshold selection over EVERY distinct score in one pass:
    * at threshold v (predict positive when score ≥ v) compute
    * TPR/FPR/precision from the rank kernel's cumulative counts, and
    * return the Youden-J-optimal and F1-optimal rows (deterministic
    * tie-break: smallest threshold). No window — the candidate frame
    * IS the distinct-score frame, each row self-contained via its
    * prefix counts. Returns 2 rows: (criterion, threshold, tpr 6dp,
    * fpr 6dp, precision 6dp, score 6dp). */
  def bestThresholds(df: DataFrame, scoreCol: String,
                     labelCol: String): DataFrame = {
    val stacked = df.select(col(scoreCol).cast("double").as("__v"),
        col(labelCol).cast("int").as("__l"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
      .withColumn("__g", lit("all"))
    val ranked = graft.ml.Metrics.rankedScores(
      stacked, "__g", "__l", "__v", 256)
    val totals = ranked.agg(sum("n_pos").as("__np"),
      sum(col("n") - col("n_pos")).as("__nn"))
    val base = ranked.crossJoin(broadcast(totals))
    val tpAt = (col("__np") - col("before_pos")).cast("double")
    val fpAt = (col("__nn") - (col("before") - col("before_pos")))
      .cast("double")
    val tpr = tpAt / col("__np")
    val fpr = fpAt / col("__nn")
    val prec = tpAt / (tpAt + fpAt)
    val f1 = try_divide(lit(2.0) * prec * tpr, prec + tpr)
    val scoredRows = base.select(col("score"), tpr.as("__tpr"),
      fpr.as("__fpr"), prec.as("__prec"),
      (tpr - fpr).as("__j"), coalesce(f1, lit(0.0)).as("__f1"))
    def pick(crit: org.apache.spark.sql.Column, name: String) =
      scoredRows
        .agg(max_by(struct(col("score"), col("__tpr"), col("__fpr"),
          col("__prec"), crit.as("__c")),
          struct(crit, -col("score"))).as("__w"))
        .select(lit(name).as("criterion"),
          round(col("__w.score"), 6).as("threshold"),
          round(col("__w.__tpr"), 6).as("tpr"),
          round(col("__w.__fpr"), 6).as("fpr"),
          round(col("__w.__prec"), 6).as("precision"),
          round(col("__w.__c"), 6).as("score"))
    pick(col("__j"), "youden").unionByName(pick(col("__f1"), "f1"))
      .orderBy("criterion")
  }

  /** Ties-exact average precision (area under the PR curve by the
    * step convention, tie groups collapsed): AP = Σ_v
    * (pos_at_v / n_pos) · precision(≥ v) — ONE aggregate over the
    * distinct-score frame, no window, no sort. Returns one row:
    * (n, n_pos, ap 6dp). */
  def averagePrecision(df: DataFrame, scoreCol: String,
                       labelCol: String): DataFrame = {
    val stacked = df.select(col(scoreCol).cast("double").as("__v"),
        col(labelCol).cast("int").as("__l"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
      .withColumn("__g", lit("all"))
    val ranked = graft.ml.Metrics.rankedScores(
      stacked, "__g", "__l", "__v", 256)
    val totals = ranked.agg(sum("n_pos").as("__np"),
      sum("n").as("__nt"))
    val tpAt = (col("__np") - col("before_pos")).cast("double")
    val allAt = (col("__nt") - col("before")).cast("double")
    ranked.crossJoin(broadcast(totals))
      .agg(first("__nt").as("n"), first("__np").as("n_pos"),
        round(sum(col("n_pos").cast("double") / col("__np") *
          (tpAt / allAt)), 6).as("ap"))
  }

  /** Equalized-odds fairness audit: per protected group the TPR and
    * FPR at a fixed decision, plus the max pairwise gaps — the
    * "does the classifier err evenly across groups" check. One
    * groupBy of integer confusion counts + a metadata aggregate.
    * Returns per-group rows plus gap columns repeated:
    * (group, n, tpr 6dp, fpr 6dp, tpr_gap 6dp, fpr_gap 6dp). */
  def equalizedOdds(df: DataFrame, groupCol: String, predCol: String,
                    labelCol: String): DataFrame = {
    val p = col(predCol).cast("long")
    val l = col(labelCol).cast("long")
    val per = df.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"),
        sum(p * l).as("__tp"), sum(p * (lit(1L) - l)).as("__fp"),
        sum((lit(1L) - p) * l).as("__fn"),
        sum((lit(1L) - p) * (lit(1L) - l)).as("__tn"))
      .select(col("group"), col("n"),
        (col("__tp").cast("double") /
          (col("__tp") + col("__fn")).cast("double")).as("__tpr"),
        (col("__fp").cast("double") /
          (col("__fp") + col("__tn")).cast("double")).as("__fpr"))
    val gaps = per.agg(
      (max("__tpr") - min("__tpr")).as("__tg"),
      (max("__fpr") - min("__fpr")).as("__fg"))
    per.crossJoin(broadcast(gaps))
      .select(col("group"), col("n"), round(col("__tpr"), 6).as("tpr"),
        round(col("__fpr"), 6).as("fpr"),
        round(col("__tg"), 6).as("tpr_gap"),
        round(col("__fg"), 6).as("fpr_gap"))
      .orderBy("group")
  }

  /** Split-half reliability with the Spearman-Brown step-up: each
    * entity's measurements split by a deterministic parity rule into
    * two half-scores (decimal-exact means), Pearson r between the
    * halves (mergeable Welford corr), and the full-length reliability
    * 2r/(1+r) — "is this per-user metric stable enough to rank
    * users on". One entity groupBy + one corr aggregate.
    * Returns one row: (n_entities, half_corr 6dp, spearman_brown 6dp).
    */
  def splitHalfReliability(df: DataFrame, idCol: String,
                           itemCol: String,
                           valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val v = col(valueCol).cast(DecimalType(18, 2))
    val even = col(itemCol) % 2 === 0
    val per = df.filter(col(valueCol).isNotNull)
      .groupBy(col(idCol))
      .agg(
        (sum(when(even, v)).cast("double") /
          sum(when(even, 1L))).as("__h1"),
        (sum(when(!even, v)).cast("double") /
          sum(when(!even, 1L))).as("__h2"))
      .filter(col("__h1").isNotNull && col("__h2").isNotNull)
    per.agg(count(lit(1)).as("n_entities"),
        corr("__h1", "__h2").as("__r"))
      .select(col("n_entities"), round(col("__r"), 6).as("half_corr"),
        round(lit(2.0) * col("__r") / (lit(1.0) + col("__r")), 6)
          .as("spearman_brown"))
  }

  /** Best decision stump by Gini impurity over every distinct
    * threshold in one pass: split at v (left = score < v), weighted
    * Gini = Σ_side n_side/n · (1 − p² − (1−p)²), all from the rank
    * kernel's prefix counts — training a depth-1 tree without a
    * sort, a shuffle per candidate, or an ML library. Returns one
    * row: (threshold, n_left, n_right, gini 6dp, p_left 6dp,
    * p_right 6dp). */
  def giniStump(df: DataFrame, featureCol: String,
                labelCol: String): DataFrame = {
    val stacked = df.select(col(featureCol).cast("double").as("__v"),
        col(labelCol).cast("int").as("__l"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
      .withColumn("__g", lit("all"))
    val ranked = graft.ml.Metrics.rankedScores(
      stacked, "__g", "__l", "__v", 256)
    val totals = ranked.agg(sum("n_pos").as("__np"),
      sum("n").as("__nt"))
    val base = ranked.crossJoin(broadcast(totals))
      .filter(col("before") > 0) // left side must be non-empty
    // argmin key on a near-integer lattice (round-13 sf0.1
    // certification: the chained p·(1−p) float polynomial picked a
    // DIFFERENT winning threshold per engine once two candidates tied
    // to within an ulp — codegen fusion makes long float chains
    // engine-specific). Weighted Gini ∝ Σ_side pos·neg/size, so the
    // comparable score is TWO single divisions of exact integer
    // products plus one add — identical IEEE ops on both engines:
    //   f = befp·(bef−befp)/bef + rp·(r−rp)/r,  gini = 2·f/nt
    val d38 = DecimalType(38, 0)
    val befD = col("before").cast(d38)
    val befpD = col("before_pos").cast(d38)
    val rD = (col("__nt") - col("before")).cast(d38)
    val rpD = (col("__np") - col("before_pos")).cast(d38)
    val f = (befpD * (befD - befpD)).cast("double") /
        col("before").cast("double") +
      (rpD * (rD - rpD)).cast("double") /
        (col("__nt") - col("before")).cast("double")
    val gini = lit(2.0) * f / col("__nt").cast("double")
    val pl = col("before_pos").cast("double") / col("before").cast("double")
    val pr = (col("__np") - col("before_pos")).cast("double") /
      (col("__nt") - col("before")).cast("double")
    base
      .select(col("score"), col("before"), col("__nt"),
        f.as("__f"), gini.as("__gini"), pl.as("__pl"), pr.as("__pr"))
      .agg(min_by(struct(col("score"), col("before"), col("__nt"),
        col("__gini"), col("__pl"), col("__pr")),
        struct(col("__f"), col("score"))).as("__w"))
      .select(round(col("__w.score"), 6).as("threshold"),
        col("__w.before").as("n_left"),
        (col("__w.__nt") - col("__w.before")).as("n_right"),
        round(col("__w.__gini"), 6).as("gini"),
        round(col("__w.__pl"), 6).as("p_left"),
        round(col("__w.__pr"), 6).as("p_right"))
  }

  /** Linear calibration audit: calibration-in-the-large
    * (mean(pred) − rate) and the linear calibration slope/intercept
    * of label ~ pred (the linear-probability cousin of logistic
    * recalibration — slope < 1 means overconfident spread). Exact
    * sums: pred quantizes at 6dp, label is 0/1. Returns one row:
    * (n, mean_pred 6dp, base_rate 6dp, citl 6dp, cal_slope 6dp,
    * cal_intercept 6dp). */
  def linearCalibration(df: DataFrame, predCol: String,
                        labelCol: String): DataFrame = {
    val p6 = round(col(predCol).cast("double"), 6)
      .cast(DecimalType(10, 6))
    val l = col(labelCol).cast("long")
    val g = df.filter(col(predCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(p6).cast("double").as("__sp"),
        sum(l).cast("double").as("__sl"),
        sum(p6 * p6).cast("double").as("__spp"),
        sum(when(l === 1, p6)).cast("double").as("__spl"))
    val nd = col("n").cast("double")
    val mp = col("__sp") / nd
    val ml = col("__sl") / nd
    val spp = col("__spp") - nd * mp * mp
    val spl = col("__spl") - nd * mp * ml
    val slope = spl / spp
    g.select(col("n"), round(mp, 6).as("mean_pred"),
      round(ml, 6).as("base_rate"),
      round(mp - ml, 6).as("citl"),
      round(slope, 6).as("cal_slope"),
      round(ml - slope * mp, 6).as("cal_intercept"))
  }

  /** Partial AUC in the screening regime: trapezoid ROC area over the
    * threshold steps whose cumulative FPR stays within `maxFprPct`% —
    * the metric that ranks models by what they do where a screening
    * pipeline actually operates (global AUC rewards separation at
    * FPR levels nobody will run at). Discrete convention: a step is
    * included iff its ENTIRE FPR mass fits the cap (integer-lattice
    * gate 100·nge ≤ pct·N — no boundary interpolation, no float
    * threshold). Step areas carry exact integer numerators
    * negs·(2·pge − pos) into a DECIMAL(38,0) sum, divided once by
    * 2·N·P. Returns one row: (n, n_pos, achieved_fpr 6dp, pauc 6dp,
    * pauc_norm 6dp = pauc / achieved_fpr). */
  def partialAuc(df: DataFrame, scoreCol: String, labelCol: String,
                 maxFprPct: Int = 10): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(maxFprPct >= 1 && maxFprPct <= 100)
    val base = df.filter(col(scoreCol).isNotNull &&
        col(labelCol).isNotNull)
      .select(col(scoreCol).cast("double").as("__s"),
        (col(labelCol).cast("int") === 1).cast("long").as("__y"))
    // adaptive desc-cumulative cells (VERDICT r12 stretch item): the
    // distinct-score suffix sums route through the bucketed rank kernel
    // when a continuous score makes cells ≈ rows
    val cum = graft.ml.Metrics.descCumScoreCells(base)
      .withColumn("__neg", col("__c") - col("__p"))
      .withColumn("__nge", col("__cge") - col("__pge"))
    val nNeg = col("__nt") - col("__np")
    val inCap = col("__nge") * 100 <= nNeg * maxFprPct
    val numer = (col("__neg").cast(DecimalType(19, 0)) *
      (lit(2) * col("__pge") - col("__p")).cast(DecimalType(19, 0)))
    cum.agg(first("__nt").as("n"), first("__np").as("n_pos"),
        first(nNeg).as("__nn"),
        coalesce(max(when(inCap, col("__nge"))), lit(0L)).as("__afpr"),
        coalesce(sum(when(inCap, numer)), lit(0L).cast(DecimalType(38, 0)))
          .cast("double").as("__num"))
      .select(col("n"), col("n_pos"),
        round(try_divide(col("__afpr").cast("double"),
          col("__nn").cast("double")), 6).as("achieved_fpr"),
        round(try_divide(col("__num"),
          lit(2.0) * col("__nn").cast("double") *
            col("n_pos").cast("double")), 6).as("pauc"),
        round(try_divide(
          try_divide(col("__num"), lit(2.0) *
            col("__nn").cast("double") * col("n_pos").cast("double")),
          try_divide(col("__afpr").cast("double"),
            col("__nn").cast("double"))), 6).as("pauc_norm"))
  }
}
