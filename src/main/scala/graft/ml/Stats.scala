package graft.ml

import graft.core.{Checkpoints, Lattice}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Experiment-analysis statistics: the A/B read-out (Welch's t) and the
  * Kaplan–Meier survival estimator — closed-form over aggregates, no
  * iteration, no sampling.
  */
object Stats {

  /** Welch's two-sample t-test between the groups of a binary
    * `groupCol` (values 'a'/'b' — caller names them). One row:
    * (n_a, n_b, mean_a, mean_b, diff, se, t_stat, df) all 6dp —
    * df by Welch–Satterthwaite. ONE aggregate over the corpus.
    */
  def welchT(df: DataFrame, groupCol: String, valueCol: String,
             groupA: String, groupB: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val isA = col(groupCol) === groupA
    val isB = col(groupCol) === groupB
    val agg = df.filter(isA || isB).agg(
      count(when(isA, 1)).as("n_a"), count(when(isB, 1)).as("n_b"),
      avg(when(isA, v)).as("__ma"), avg(when(isB, v)).as("__mb"),
      var_samp(when(isA, v)).as("__va"), var_samp(when(isB, v)).as("__vb"))
    val sa = col("__va") / col("n_a")
    val sb = col("__vb") / col("n_b")
    val se = sqrt(sa + sb)
    val dfW = pow(sa + sb, 2) /
      (pow(sa, 2) / (col("n_a") - 1) + pow(sb, 2) / (col("n_b") - 1))
    agg.select(col("n_a"), col("n_b"),
      round(col("__ma"), 6).as("mean_a"), round(col("__mb"), 6).as("mean_b"),
      round(col("__ma") - col("__mb"), 6).as("diff"),
      round(se, 6).as("se"),
      round((col("__ma") - col("__mb")) / se, 6).as("t_stat"),
      round(dfW, 6).as("df"))
  }

  /** Rolling-origin (time-series) cross-validation fold table: k folds
    * where fold i trains on everything BEFORE cut_i and validates on
    * [cut_i, cut_{i+1}) — the leakage-free CV for temporal data (the
    * hashed-fold CrossFold would let the future train the past). Cuts
    * are the exact i/(k+1) percentiles of event-time micros — ONE
    * percentile aggregate, then k metadata-sized count aggregates.
    * Returns (fold, train_end_us, valid_end_us, n_train, n_valid).
    */
  /** Rank-based fold boundaries: cut_i = the SMALLEST timestamp whose
    * ascending cumulative row count reaches rank (n·i) div (k+1) —
    * exact integer arithmetic end to end, so both engines agree
    * bit-for-bit. Replaces interpolated percentiles (round-13 sf0.1
    * certification: Spark's and DuckDB's linear-interpolation formulas
    * round the last µs of an epoch-scale double differently — q186/q216
    * diverged by 1 µs at sf0.1). The cumulative count rides
    * [[graft.ml.Metrics.rankedScores]] (adaptive: window form at
    * interactive scale, bucket-partitioned prefix sums above the gate).
    * Returns None when the frame is empty. */
  private def rankCuts(ev: DataFrame, us: org.apache.spark.sql.Column,
                       k: Int): Option[Seq[Long]] = {
    val base = ev.select(us.cast("double").as("__s"))
      .filter(col("__s").isNotNull)
    val n = base.count()
    if (n == 0) return None
    val ranks = (1 to (k + 1)).map(i => math.max(1L, (n * i) / (k + 1)))
    val ranked = graft.ml.Metrics.rankedScores(
      base.withColumn("__g", lit(0)).withColumn("__y", lit(0)),
      "__g", "__y", "__s", 256)
    val aggs = ranks.zipWithIndex.map { case (r, i) =>
      min(when(col("before") + col("n") >= r, col("score"))).as(s"__c$i")
    }
    val row = ranked.agg(aggs.head, aggs.tail: _*).head()
    Some((0 to k).map(i => row.getDouble(i).toLong))
  }

  def rollingOriginFolds(df: DataFrame, tsCol: String, k: Int): DataFrame = {
    require(k >= 1)
    val ev = graft.core.Tables.ltzTs(df, tsCol)
    val us = unix_micros(col(tsCol))
    val spark0 = df.sparkSession
    val cutsOpt = rankCuts(ev, us, k)
    if (cutsOpt.isEmpty) // no events: zero folds, not an NPE
      return spark0.range(0).select(lit(0).as("fold"),
        lit(0L).as("train_end_us"), lit(0L).as("valid_end_us"),
        lit(0L).as("n_train"), lit(0L).as("n_valid"))
    val cuts = cutsOpt.get
    // ONE conditional-aggregate pass for every fold's counts — k
    // separate scans would re-read the corpus k times at 100 TB
    val aggs = (0 until k).flatMap { i =>
      Seq(sum(when(us < cuts(i), 1L).otherwise(0L)).as(s"__tr$i"),
        sum(when(us >= cuts(i) && us < cuts(i + 1), 1L).otherwise(0L))
          .as(s"__va$i"))
    }
    val c = ev.agg(aggs.head, aggs.tail: _*).head()
    val spark = df.sparkSession
    import spark.implicits._
    (0 until k).map(i =>
      (i, cuts(i), cuts(i + 1), c.getLong(2 * i), c.getLong(2 * i + 1)))
      .toDF("fold", "train_end_us", "valid_end_us", "n_train", "n_valid")
  }

  /** UCB1 arm ranking (Auer et al. 2002): per arm the mean reward plus
    * the √(2·ln N / n) exploration bonus, ranked best-first — the
    * deterministic bandit read-out (Thompson sampling would need an
    * RNG and break the oracle). One groupBy to arm cardinality, then a
    * metadata window for the rank. Returns
    * (arm, n, mean_reward, ucb, rank). */
  def ucbAllocation(df: DataFrame, armCol: String,
                    rewardCol: String): DataFrame = {
    val arms = df.filter(col(rewardCol).isNotNull)
      .groupBy(col(armCol).as("arm"))
      .agg(count(lit(1)).as("n"), avg(col(rewardCol)).as("__m"))
    val total = arms.agg(sum("n").as("__nt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ucb").desc, col("arm"))
    arms.crossJoin(broadcast(total))
      .select(col("arm"), col("n"), round(col("__m"), 6).as("mean_reward"),
        round(col("__m") + sqrt(lit(2.0) * log(col("__nt")) / col("n")), 6)
          .as("ucb"))
      .withColumn("rank", row_number().over(w))
  }

  /** Purged rolling-origin folds: [[rollingOriginFolds]] plus an
    * EMBARGO gap — training data within `embargoUs` microseconds
    * before each fold's validation window is dropped (de Prado's
    * purged CV: rows whose labels/feature windows straddle the cut
    * would leak the validation period into training). Same single-pass
    * shape: one percentile aggregate for cuts, one conditional
    * aggregate for every fold's counts. Returns (fold, train_end_us,
    * valid_end_us, n_train, n_embargoed, n_valid). */
  def purgedRollingFolds(df: DataFrame, tsCol: String, k: Int,
                         embargoUs: Long): DataFrame = {
    require(k >= 1 && embargoUs >= 0)
    val ev = graft.core.Tables.ltzTs(df, tsCol)
    val us = unix_micros(col(tsCol))
    val spark = df.sparkSession
    import spark.implicits._
    val cutsOpt = rankCuts(ev, us, k)
    if (cutsOpt.isEmpty)
      return spark.range(0).select(lit(0).as("fold"),
        lit(0L).as("train_end_us"), lit(0L).as("valid_end_us"),
        lit(0L).as("n_train"), lit(0L).as("n_embargoed"),
        lit(0L).as("n_valid"))
    val cuts = cutsOpt.get
    val aggs = (0 until k).flatMap { i =>
      Seq(
        sum(when(us < cuts(i) - embargoUs, 1L).otherwise(0L)).as(s"__tr$i"),
        sum(when(us >= cuts(i) - embargoUs && us < cuts(i), 1L)
          .otherwise(0L)).as(s"__em$i"),
        sum(when(us >= cuts(i) && us < cuts(i + 1), 1L).otherwise(0L))
          .as(s"__va$i"))
    }
    val c = ev.agg(aggs.head, aggs.tail: _*).head()
    (0 until k).map(i =>
      (i, cuts(i), cuts(i + 1), c.getLong(3 * i), c.getLong(3 * i + 1),
        c.getLong(3 * i + 2)))
      .toDF("fold", "train_end_us", "valid_end_us", "n_train",
        "n_embargoed", "n_valid")
  }

  /** Calibration (reliability) bins for a probability column against a
    * 0/1 label: per equal-width bin — (bin, n, mean_pred 6dp,
    * frac_pos 6dp). The ECE summand |mean_pred − frac_pos|·n/N is the
    * caller's one-liner. Right-open bins, p = 1 lands in the last bin.
    */
  def calibrationBins(df: DataFrame, probCol: String, labelCol: String,
                      bins: Int = 10): DataFrame = {
    require(bins >= 1)
    val p = col(probCol).cast("double")
    val b = least(floor(p * bins).cast("int"), lit(bins - 1))
    df.filter(p.isNotNull && p >= 0 && p <= 1)
      .groupBy(b.as("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(p), 6).as("mean_pred"),
        round(avg(when(col(labelCol) === 1, 1.0).otherwise(0.0)), 6)
          .as("frac_pos"))
  }

  /** Kaplan–Meier survival curve over (duration, event) pairs — event
    * 1 = observed, 0 = right-censored. One row per distinct OBSERVED
    * duration t: (t, n_at_risk, n_events, survival 6dp) with
    *   S(t) = Π_{t_i ≤ t} (1 − d_i / r_i)
    * computed as exp(Σ ln(1 − d/r)) — a cumulative-sum window over the
    * DISTINCT-duration table (cohort-cardinality, not the corpus; the
    * corpus collapses in one groupBy).
    */
  def kaplanMeier(df: DataFrame, durationCol: String, eventCol: String): DataFrame = {
    val d = col(durationCol).cast("double")
    val byT = df.groupBy(d.as("t"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col(eventCol) === 1, 1L).otherwise(0L)).as("n_events"))
    val w = Window.orderBy(desc("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val atRisk = byT.withColumn("n_at_risk", sum("__n").over(w))
    val wcum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // exp-sum-log needs a zero guard: the last at-risk group dying gives
    // factor 0, where Spark's log() returns NULL but DuckDB's ln() gives
    // −inf — survival is pinned to 0 from the first zero factor instead
    val factor = lit(1.0) - col("n_events") / col("n_at_risk")
    val zeros = sum(when(factor <= 0, 1).otherwise(0)).over(wcum)
    atRisk.filter(col("n_events") > 0)
      .withColumn("survival",
        when(zeros > 0, lit(0.0)).otherwise(
          round(exp(sum(when(factor > 0, log(factor))).over(wcum)), 6)))
      .select(col("t"), col("n_at_risk"), col("n_events"), col("survival"))
  }

  /** Nelson-Aalen cumulative-hazard estimator over the same
    * (duration, event) life table as [[kaplanMeier]]:
    * H(t) = Σ_{s≤t} d_s/n_s with the standard variance estimator
    * Σ d_s/n_s² and the Fleming-Harrington survival exp(−H) — the
    * hazard-space twin of KM (numerically steadier when risk sets get
    * small, and the estimator additive-mergeable across strata).
    * Same scale shape: one duration groupBy collapses the cohort, all
    * windows ride the #distinct-durations frame. Returns
    * (t, n_at_risk, n_events, cum_hazard, var_hazard, na_survival)
    * floats 6dp. */
  def nelsonAalen(df: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    val d = col(durationCol).cast("double")
    val byT = df.groupBy(d.as("t"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col(eventCol) === 1, 1L).otherwise(0L)).as("n_events"))
    val w = Window.orderBy(desc("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val atRisk = byT.withColumn("n_at_risk", sum("__n").over(w))
    val wcum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inc = col("n_events").cast("double") / col("n_at_risk")
    atRisk.filter(col("n_events") > 0)
      .withColumn("cum_hazard", sum(inc).over(wcum))
      .withColumn("var_hazard",
        round(sum(col("n_events").cast("double") /
          (col("n_at_risk") * col("n_at_risk"))).over(wcum), 6))
      .select(col("t"), col("n_at_risk"), col("n_events"),
        round(col("cum_hazard"), 6).as("cum_hazard"), col("var_hazard"),
        round(exp(-col("cum_hazard")), 6).as("na_survival"))
  }

  /** Two-group log-rank test over the same (duration, event) life table
    * as [[kaplanMeier]] — "are these two survival curves the same?", the
    * standard follow-up once q183/q265 draw them. At each pooled event
    * time t: O_g observed events in group g, E_g = d·n_g/n expected
    * under H0, hypergeometric variance v = d·(n_g/n)·(1−n_g/n)·(n−d)/(n−1);
    * χ² = (ΣO_g − ΣE_g)²/Σv (identical for both groups).
    *
    * Scale shape: ONE (group, duration) groupBy collapses the cohort;
    * everything after rides the distinct-durations × 2 grid (the
    * at-risk counts are desc-cumulative window sums per group, the
    * pooled totals a partition-by-t window) — no join back to the
    * corpus. Returns one row per group:
    * (grp, n_subjects, observed, expected 6dp, chi2_logrank 6dp).
    */
  def logRank(df: DataFrame, durationCol: String, eventCol: String,
              groupCol: String): DataFrame = {
    val d = col(durationCol).cast("double")
    val byGT = df.groupBy(col(groupCol).as("grp"), d.as("t"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col(eventCol) === 1, 1L).otherwise(0L)).as("__d"))
    val groups = byGT.select("grp").distinct()
    val times = byGT.select("t").distinct()
    // grid: every (group × distinct duration) so the desc cumsum sees
    // the FULL risk set even at times where a group had no subjects
    val grid = times.crossJoin(groups)
      .join(byGT, Seq("grp", "t"), "left")
      .na.fill(0L, Seq("__n", "__d"))
    val wRisk = Window.partitionBy("grp").orderBy(desc("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wT = Window.partitionBy("t")
    val pooled = grid
      .withColumn("n_g", sum("__n").over(wRisk))
      .withColumn("n_tot", sum(col("n_g")).over(wT))
      .withColumn("d_tot", sum("__d").over(wT))
    val share = col("n_g").cast("double") / col("n_tot")
    val terms = pooled.filter(col("d_tot") > 0)
      .withColumn("__e", col("d_tot") * share)
      .withColumn("__v",
        when(col("n_tot") > 1,
          col("d_tot") * share * (lit(1.0) - share) *
            (col("n_tot") - col("d_tot")).cast("double") /
            (col("n_tot") - 1)).otherwise(lit(0.0)))
    val sizes = grid.groupBy("grp").agg(sum("__n").as("n_subjects"))
    val perGroup = terms.groupBy("grp").agg(
      sum("__d").as("observed"),
      sum("__e").as("__E"),
      sum("__v").as("__V"))
      .join(sizes, Seq("grp")) // 2-row frames; broadcast either way
    perGroup.select(col("grp"), col("n_subjects"), col("observed"),
      round(col("__E"), 6).as("expected"),
      round(when(col("__V") > 0,
          (col("observed") - col("__E")) * (col("observed") - col("__E")) /
            col("__V")).otherwise(lit(0.0)), 6).as("chi2_logrank"))
  }

  /** Empirical-Bayes shrinkage of per-group event RATES under a
    * beta-binomial model (Robbins '56 / the baseball-batting-average
    * classic): fit Beta(α, β) to the observed per-group raw rates by
    * method of moments — m = mean(raw), v = population variance;
    * α+β = m(1−m)/v − 1 — then post the posterior mean
    * (x + α)/(n + α + β) per group. Low-n groups pull hard toward the
    * corpus rate, high-n groups barely move: the principled fix for
    * "this source looks great on 12 documents" quality rankings, and
    * the rate-space sibling of the mean-space shrink inside
    * `ml/Encoders` target encoding (there the strength is a fixed
    * hyperparameter; here the data chooses it).
    *
    * Scale shape: one map-combinable groupBy collapses the corpus to
    * the #groups frame; the MoM prior is a second aggregate over THAT
    * frame, broadcast back via crossJoin. When MoM is degenerate
    * (v = 0, or v ≥ m(1−m), or m ∈ {0,1}) the prior is undefined —
    * alpha/beta emit null and shrunk_rate = raw_rate. Returns one row
    * per group: (grp, n, x, raw_rate, shrunk_rate, alpha, beta) 6dp,
    * alpha/beta repeated. */
  def ebRates(df: DataFrame, groupCol: String, successCol: String): DataFrame = {
    val g = df.groupBy(col(groupCol).as("grp")).agg(
      count(lit(1)).as("n"),
      sum(when(col(successCol) === 1, 1L).otherwise(0L)).as("x"))
      .withColumn("__raw", col("x").cast("double") / col("n"))
    val prior = g.agg(avg("__raw").as("__m"),
      (avg(col("__raw") * col("__raw")) - avg("__raw") * avg("__raw"))
        .as("__v"))
    val s = when(col("__v") > 0 &&
        col("__v") < col("__m") * (lit(1.0) - col("__m")),
      col("__m") * (lit(1.0) - col("__m")) / col("__v") - 1.0)
    g.crossJoin(prior)
      .withColumn("__s", s)
      .select(col("grp"), col("n"), col("x"),
        round(col("__raw"), 6).as("raw_rate"),
        round(coalesce(
          (col("x") + col("__m") * col("__s")) / (col("n") + col("__s")),
          col("__raw")), 6).as("shrunk_rate"),
        round(col("__m") * col("__s"), 6).as("alpha"),
        round((lit(1.0) - col("__m")) * col("__s"), 6).as("beta"))
  }

  /** Per-group PARTIAL correlation r_xy·z — the x↔y association with a
    * confounder z held fixed: r_xy·z = (r_xy − r_xz·r_yz) /
    * √((1−r_xz²)(1−r_yz²)). The follow-up question to the q07/q197
    * correlation matrices ("is price↔quantity real, or do both just
    * track discount?") answered in closed form from the same moments.
    *
    * ONE map-combinable groupBy collects the 9 pairwise moments;
    * everything else is scalar arithmetic on the #groups frame. Any
    * degenerate marginal (zero variance, or |r| = 1 making the
    * denominator 0) emits null. Returns one row per group:
    * (grp, n, r_xy, r_xz, r_yz, partial_r) 6dp. */
  def partialCorr(df: DataFrame, groupCol: String, xCol: String,
                  yCol: String, zCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val z = col(zCol).cast("double")
    val g = df.filter(x.isNotNull && y.isNotNull && z.isNotNull)
      .groupBy(col(groupCol).as("grp")).agg(
        count(lit(1)).as("n"),
        sum(x).as("__sx"), sum(y).as("__sy"), sum(z).as("__sz"),
        sum(x * x).as("__sxx"), sum(y * y).as("__syy"),
        sum(z * z).as("__szz"),
        sum(x * y).as("__sxy"), sum(x * z).as("__sxz"),
        sum(y * z).as("__syz"))
    val n = col("n").cast("double")
    def r(sab: Column, sa: Column, sb: Column,
          saa: Column, sbb: Column): Column = {
      val cov = sab - sa * sb / n
      val va = saa - sa * sa / n
      val vb = sbb - sb * sb / n
      when(va > 0 && vb > 0, cov / sqrt(va * vb))
    }
    val rxy = r(col("__sxy"), col("__sx"), col("__sy"),
      col("__sxx"), col("__syy"))
    val rxz = r(col("__sxz"), col("__sx"), col("__sz"),
      col("__sxx"), col("__szz"))
    val ryz = r(col("__syz"), col("__sy"), col("__sz"),
      col("__syy"), col("__szz"))
    val den = (lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)
    g.select(col("grp"), col("n"),
      round(rxy, 6).as("r_xy"), round(rxz, 6).as("r_xz"),
      round(ryz, 6).as("r_yz"),
      round(when(den > 0, (rxy - rxz * ryz) / sqrt(den)), 6)
        .as("partial_r"))
  }

  /** McNemar's paired test: do classifiers A and B disagree more than
    * chance on the SAME rows? Only the discordant cells matter:
    * χ² = (|b−c|−1)²/(b+c) with continuity correction, b = A-only
    * correct, c = B-only correct (Edwards '48 form). The right test
    * when q18's two confusion matrices come from one eval set — the
    * unpaired q156 chi-square overstates the evidence there.
    *
    * ONE aggregate over the corpus (four conditional counts). b+c = 0
    * emits null χ². Returns one row: (n, both_correct, only_a, only_b,
    * both_wrong, chi2_mcnemar 6dp). */
  def mcnemar(df: DataFrame, labelCol: String, predACol: String,
              predBCol: String): DataFrame = {
    val okA = col(predACol) === col(labelCol)
    val okB = col(predBCol) === col(labelCol)
    val g = df.filter(col(labelCol).isNotNull).agg(
      count(lit(1)).as("n"),
      sum(when(okA && okB, 1L).otherwise(0L)).as("both_correct"),
      sum(when(okA && !okB, 1L).otherwise(0L)).as("only_a"),
      sum(when(!okA && okB, 1L).otherwise(0L)).as("only_b"),
      sum(when(!okA && !okB, 1L).otherwise(0L)).as("both_wrong"))
    val b = col("only_a").cast("double")
    val c = col("only_b").cast("double")
    g.withColumn("chi2_mcnemar",
      round(when(col("only_a") + col("only_b") > 0,
        (abs(b - c) - 1.0) * (abs(b - c) - 1.0) / (b + c)), 6))
  }

  /** Cronbach's alpha internal-consistency coefficient over a
    * (subject, item, score) long frame: α = k/(k−1)·(1 − Σ item
    * variances / variance of the subject total), sample (n−1)
    * variances — the scale-reliability companion to the inter-rater
    * agreement in q259 (there: do raters agree per item; here: do the
    * k items measure one construct).
    *
    * k is read from the data (distinct items); only COMPLETE subjects
    * (all k items present after a (subject, item) sum-collapse) enter,
    * the standard listwise-complete convention. Scores ride
    * DECIMAL(18,2) (`Lattice.centsSum`) so per-subject totals are
    * exact; variances are
    * double moments on the collapsed frames. Returns one row:
    * (k, n_subjects, sum_item_var, total_var, alpha) 6dp. */
  def cronbachAlpha(df: DataFrame, subjectCol: String, itemCol: String,
                    scoreCol: String): DataFrame = {
    val cell = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(subjectCol).as("subj"), col(itemCol).as("item"))
      .agg(Lattice.centsSum(col(scoreCol)).as("__v"))
    val k = cell.select("item").distinct().count()
    require(k >= 2, s"cronbach alpha needs >= 2 items, got $k")
    val complete = cell.groupBy("subj")
      .agg(count(lit(1)).as("__ni"),
        sum("__v").cast("double").as("__tot"))
      .filter(col("__ni") === k)
    val cc = cell.join(complete.select("subj"), Seq("subj"))
    val nD = count(lit(1)).cast("double")
    val itemVar = cc.groupBy("item").agg(
      ((sum(col("__v").cast("double") * col("__v").cast("double")) -
        sum(col("__v").cast("double")) * sum(col("__v").cast("double")) / nD)
        / (nD - 1)).as("__var"))
      .agg(sum("__var").as("sum_item_var"))
    val totVar = complete.agg(
      count(lit(1)).as("n_subjects"),
      ((sum(col("__tot") * col("__tot")) -
        sum(col("__tot")) * sum(col("__tot")) / nD) / (nD - 1))
        .as("total_var"))
    totVar.crossJoin(itemVar)
      .select(lit(k).as("k"), col("n_subjects"),
        round(col("sum_item_var"), 6).as("sum_item_var"),
        round(col("total_var"), 6).as("total_var"),
        round(when(col("total_var") > 0,
          (lit(k.toDouble) / (k - 1.0)) *
            (lit(1.0) - col("sum_item_var") / col("total_var"))), 6)
          .as("alpha"))
  }

  /** Fisher's EXACT test for a 2×2 table — the small-count regime
    * where q156's chi-square approximation breaks (any expected cell
    * < 5). Two-sided p by the standard "sum all tables as or more
    * extreme" rule: p = Σ_{k : P(k) ≤ P(obs)·(1+1e-7)} P(k) over the
    * hypergeometric support, with log-probabilities from a running
    * log-factorial ladder — a cumulative-sum frame both engines build
    * IDENTICALLY, so no lgamma-implementation drift can split the 6dp
    * compare.
    *
    * Scale note: the ladder frame is n+1 rows and its cumsum window is
    * unpartitioned — this operator is for SMALL strata by design
    * (require n ≤ 1e6; at larger n the chi-square is the right tool
    * and this test adds nothing). The corpus pass is one 4-cell
    * conditional aggregate. Returns one row:
    * (a, b, c, d, odds_ratio 6dp, p_value 6dp). */
  def fisherExact(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val r1 = col(rowCol) === 1
    val c1 = col(colCol) === 1
    val cellRow = df.filter(col(rowCol).isNotNull && col(colCol).isNotNull)
      .agg(
        sum(when(r1 && c1, 1L).otherwise(0L)).as("a"),
        sum(when(r1 && !c1, 1L).otherwise(0L)).as("b"),
        sum(when(!r1 && c1, 1L).otherwise(0L)).as("c"),
        sum(when(!r1 && !c1, 1L).otherwise(0L)).as("d"))
      .head()
    val (a, b, c, d) = (cellRow.getLong(0), cellRow.getLong(1),
      cellRow.getLong(2), cellRow.getLong(3))
    val n = a + b + c + d
    require(n <= 1000000L,
      s"fisherExact is for small strata (n <= 1e6), got n = $n — " +
        "use the chi-square test at this size")
    // log-factorial ladder 0..n: lf(i) = Σ_{j<=i} ln(max(j,1)) — the
    // SAME running sum the oracle builds, never an lgamma call
    val lf = spark.range(0, n + 1)
      .withColumn("lf", sum(log(greatest(col("id"), lit(1L))))
        .over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    def lfOf(alias: String) =
      lf.select(col("id").as(alias + "_i"), col("lf").as(alias))
    val kLo = math.max(0L, (a + c) - (c + d))
    val kHi = math.min(a + b, a + c)
    val ks = spark.range(kLo, kHi + 1).select(col("id").as("k"))
    // logP(k) = lf(r1)+lf(r2)+lf(c1)+lf(c2)−lf(n)−lf(k)−lf(r1−k)
    //           −lf(c1−k)−lf(r2−c1+k) with margins fixed at observed
    val lp = ks
      .join(lfOf("lk"), col("k") === col("lk_i"))
      .join(lfOf("lak"), lit(a + b) - col("k") === col("lak_i"))
      .join(lfOf("lck"), lit(a + c) - col("k") === col("lck_i"))
      .join(lfOf("ldk"),
        lit(c + d) - lit(a + c) + col("k") === col("ldk_i"))
      .crossJoin(lf.filter(col("id") === (a + b))
        .select(col("lf").as("lr1")))
      .crossJoin(lf.filter(col("id") === (c + d))
        .select(col("lf").as("lr2")))
      .crossJoin(lf.filter(col("id") === (a + c))
        .select(col("lf").as("lc1")))
      .crossJoin(lf.filter(col("id") === (b + d))
        .select(col("lf").as("lc2")))
      .crossJoin(lf.filter(col("id") === n).select(col("lf").as("ln")))
      .select(col("k"),
        (col("lr1") + col("lr2") + col("lc1") + col("lc2") - col("ln") -
          col("lk") - col("lak") - col("lck") - col("ldk")).as("lp"))
    val obs = lp.filter(col("k") === a).select(col("lp").as("lpObs"))
    val p = lp.crossJoin(obs)
      .filter(exp(col("lp")) <= exp(col("lpObs")) * (1.0 + 1e-7))
      .agg(sum(exp(col("lp"))).as("p"))
    val or = if (b > 0 && c > 0)
      round(lit(a.toDouble * d / (b.toDouble * c)), 6) else lit(null)
    p.select(lit(a).as("a"), lit(b).as("b"), lit(c).as("c"),
      lit(d).as("d"), or.cast("double").as("odds_ratio"),
      round(least(col("p"), lit(1.0)), 6).as("p_value"))
  }

  /** Restricted mean survival time: RMST(τ) = ∫₀^τ S(t)dt over the
    * [[kaplanMeier]] curve — "average time survived in the first τ",
    * the hazard-free effect size regulators now prefer to medians —
    * plus the KM median (first t with S ≤ 0.5). Step integration over
    * the KM frame: each interval contributes S(prev)·Δt.
    * Returns one row: (tau, rmst 6dp, rmst_frac 6dp, median_t). */
  def rmst(df: DataFrame, durationCol: String, eventCol: String,
           tau: Double): DataFrame = {
    require(tau > 0)
    val km = kaplanMeier(df, durationCol, eventCol)
      .select(col("t"), col("survival")).filter(col("t") <= tau)
    val w = Window.orderBy("t")
    val stepped = km
      .withColumn("__tPrev", coalesce(lag("t", 1).over(w), lit(0.0)))
      .withColumn("__sPrev",
        coalesce(lag("survival", 1).over(w), lit(1.0)))
    val g = stepped.agg(
      sum(col("__sPrev") * (col("t") - col("__tPrev"))).as("__area"),
      max("t").as("__tLast"),
      max_by(col("survival"), col("t")).as("__sLast"),
      min(when(col("survival") <= 0.5, col("t"))).as("median_t"))
    g.select(lit(tau).as("tau"),
      round(coalesce(col("__area"), lit(0.0)) +
        coalesce(col("__sLast"), lit(1.0)) *
          (lit(tau) - coalesce(col("__tLast"), lit(0.0))), 6).as("rmst"),
      round((coalesce(col("__area"), lit(0.0)) +
        coalesce(col("__sLast"), lit(1.0)) *
          (lit(tau) - coalesce(col("__tLast"), lit(0.0)))) / tau, 6)
        .as("rmst_frac"),
      col("median_t"))
  }

  /** Simpson's-paradox detector for the simple slope of y on x: the
    * per-group slopes (one 6-moment groupBy) vs the OVERALL slope
    * re-derived by SUMMING the same group moments (sufficient-stats
    * additivity — no second corpus pass). Flags the strict paradox:
    * every ≥`minN`-row group slopes one way, the pooled slope the
    * other. `reversal_share` (groups disagreeing with the pooled
    * sign) grades the softer cases. Returns one row: (n_groups,
    * overall_slope 6dp, n_pos, n_neg, reversal_share 6dp,
    * strict_paradox). */
  def simpsonDetector(df: DataFrame, groupCol: String, xCol: String,
                      yCol: String, minN: Long = 30): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    // group moments on the exact cents lattice (2dp domain), pooled
    // moments by SUMMING the same integers — both slope solves then
    // start from identical bits on both engines (round-13 100× sweep:
    // the raw-double overall_slope drifted 6e-6)
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val xc = (col(xCol).cast(DecimalType(18, 2)) * lit(100)).cast(d38)
    val yc = (col(yCol).cast(DecimalType(18, 2)) * lit(100)).cast(d38)
    val pds = graft.core.Lattice.sparkPortableDoubleSigned _
    val g = df.filter(x.isNotNull && y.isNotNull && !isnan(x) && !isnan(y))
      .groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("n"), sum(xc).as("sx_i"), sum(yc).as("sy_i"),
        sum(xc * xc).as("sxx_i"), sum(xc * yc).as("sxy_i"))
      .filter(col("n") >= minN)
    def slope(n: Column, sx: Column, sy: Column, sxx: Column,
              sxy: Column): Column = {
      val nd = n.cast("double")
      (sxy - sx * sy / nd) / (sxx - sx * sx / nd)
    }
    val withSlope = g.selectExpr("*",
        s"${pds("sx_i")} / 100.0 AS sx", s"${pds("sy_i")} / 100.0 AS sy",
        s"${pds("sxx_i")} / 10000.0 AS sxx",
        s"${pds("sxy_i")} / 10000.0 AS sxy")
      .withColumn("__b",
        slope(col("n"), col("sx"), col("sy"), col("sxx"), col("sxy")))
    val agg = withSlope.agg(
        count(lit(1)).as("n_groups"),
        sum("n").as("__nt"), sum("sx_i").as("__sxt_i"),
        sum("sy_i").as("__syt_i"), sum("sxx_i").as("__sxxt_i"),
        sum("sxy_i").as("__sxyt_i"),
        sum(when(col("__b") > 0, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("__b") < 0, 1L).otherwise(0L)).as("n_neg"))
      .selectExpr("*",
        s"${pds("__sxt_i")} / 100.0 AS __sxt",
        s"${pds("__syt_i")} / 100.0 AS __syt",
        s"${pds("__sxxt_i")} / 10000.0 AS __sxxt",
        s"${pds("__sxyt_i")} / 10000.0 AS __sxyt")
    val ov = slope(col("__nt"), col("__sxt"), col("__syt"),
      col("__sxxt"), col("__sxyt"))
    agg.select(col("n_groups"), round(ov, 6).as("overall_slope"),
      col("n_pos"), col("n_neg"),
      round(when(col("n_groups") > 0,
        when(ov > 0, col("n_neg")).otherwise(col("n_pos"))
          .cast("double") / col("n_groups")), 6).as("reversal_share"),
      ((ov > 0 && col("n_neg") === col("n_groups")) ||
        (ov < 0 && col("n_pos") === col("n_groups")))
        .as("strict_paradox"))
  }

  /** Measurement agreement between two numeric readings of the same
    * quantity: Bland–Altman bias and 95% limits of agreement on the
    * differences, plus Lin's concordance correlation coefficient
    * CCC = 2·cov/(σx² + σy² + (μx−μy)²) (population moments, Lin 1989)
    * — "do these two sensors/models/pipelines agree," which Pearson r
    * alone cannot answer (r is blind to scale and shift). ONE moments
    * aggregate. Returns one row: (n, bias, loa_lo, loa_hi, ccc,
    * pearson_r) 6dp. */
  def agreement(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val g = df.filter(x.isNotNull && y.isNotNull && !isnan(x) && !isnan(y))
      .agg(count(lit(1)).as("n"),
        avg(x).as("__mx"), avg(y).as("__my"),
        var_pop(x).as("__vx"), var_pop(y).as("__vy"),
        covar_pop(x, y).as("__cxy"),
        stddev_samp(x - y).as("__sd"), avg(x - y).as("__bias"))
    val ccc = lit(2.0) * col("__cxy") /
      (col("__vx") + col("__vy") +
        (col("__mx") - col("__my")) * (col("__mx") - col("__my")))
    val r = col("__cxy") / sqrt(col("__vx") * col("__vy"))
    g.select(col("n"), round(col("__bias"), 6).as("bias"),
      round(col("__bias") - lit(1.959964) * col("__sd"), 6).as("loa_lo"),
      round(col("__bias") + lit(1.959964) * col("__sd"), 6).as("loa_hi"),
      round(ccc, 6).as("ccc"),
      round(when(col("__vx") > 0 && col("__vy") > 0, r), 6)
        .as("pearson_r"))
  }

  /** Cochran–Armitage test for TREND in proportions across ordered
    * groups (dose, tenure bucket, cohort age): z² = [Σsᵢ(xᵢ−x̄)]² /
    * [p̄(1−p̄)·Σnᵢ(xᵢ−x̄)²] with x̄ the count-weighted mean score — the
    * "is the rate monotonically drifting" test that a flat k-group χ²
    * (q156) has no power for. One groupBy + metadata algebra.
    * Returns one row: (k, n, slope_sign, z_trend 6dp). */
  def cochranArmitage(df: DataFrame, scoreCol: String,
                      convCol: String): DataFrame = {
    val x = col(scoreCol).cast("double")
    val g = df.filter(x.isNotNull && col(convCol).isNotNull)
      .groupBy(x.as("__x"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col(convCol) === 1, 1L).otherwise(0L)).as("__s"))
    val tot = g.agg(sum("__n").as("__nt"), sum("__s").as("__st"),
      (sum(col("__x") * col("__n")) / sum("__n")).as("__xbar"))
    val m = g.crossJoin(broadcast(tot)).agg(
      count(lit(1)).as("k"), first("__nt").as("n"),
      first(col("__st").cast("double") / col("__nt")).as("__p"),
      sum(col("__s") * (col("__x") - col("__xbar"))).as("__num"),
      sum(col("__n") * (col("__x") - col("__xbar")) *
        (col("__x") - col("__xbar"))).as("__den"))
    val z = col("__num") /
      sqrt(col("__p") * (lit(1.0) - col("__p")) * col("__den"))
    m.select(col("k"), col("n"),
      when(col("__num") > 0, 1L).when(col("__num") < 0, -1L)
        .otherwise(0L).as("slope_sign"),
      round(when(col("__p") > 0 && col("__p") < 1 && col("__den") > 0, z),
        6).as("z_trend"))
  }

  /** Goodman–Kruskal gamma: ordinal association between two ordered
    * categorical columns from the contingency-cell table — concordant
    * vs discordant pairs, ties dropped (the ordinal sibling of q198's
    * Kendall tau, which needs numeric values; gamma works on ratings/
    * buckets directly). The cell×cell comparison is (r·c)² on the
    * METADATA cell table — never a row-level pair join.
    * Returns one row: (n, n_concordant, n_discordant, gamma 6dp). */
  def gkGamma(df: DataFrame, rowCol: String, colCol: String): DataFrame = Checkpoints.scoped {
    val cells = Checkpoints.local(df.filter(col(rowCol).isNotNull && col(colCol).isNotNull)
      .groupBy(col(rowCol).cast("long").as("__r"),
        col(colCol).cast("long").as("__c"))
      .agg(count(lit(1)).as("__n")))
    val a = cells.select(col("__r").as("ra"), col("__c").as("ca"),
      col("__n").as("na"))
    val b = cells.select(col("__r").as("rb"), col("__c").as("cb"),
      col("__n").as("nb"))
    val conc = a.join(b, col("rb") > col("ra") && col("cb") > col("ca"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("nc"))
    val disc = a.join(b, col("rb") > col("ra") && col("cb") < col("ca"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("nd"))
    val n = cells.agg(sum("__n").as("n"))
    Checkpoints.local(n.crossJoin(conc).crossJoin(disc)
      .select(col("n"), col("nc").as("n_concordant"),
        col("nd").as("n_discordant"),
        round(when(col("nc") + col("nd") > 0,
          (col("nc") - col("nd")).cast("double") /
            (col("nc") + col("nd"))), 6).as("gamma")))
  }

  /** Krippendorff's alpha for binary annotations with MISSING ratings
    * (items rated by varying rater counts) — the agreement measure
    * that q259's Cohen kappa (exactly two fixed raters) cannot give:
    * α = 1 − (N−1)·Σᵤ oᵤ(mᵤ−oᵤ)/(mᵤ−1) / (O₁·O₀), with mᵤ the item's
    * rating count, oᵤ its positives, O₁/O₀ the corpus totals, N=ΣmᵤC.
    * Items with mᵤ < 2 are unpairable and excluded (the standard
    * rule). One item-level groupBy + one aggregate. Returns one row:
    * (n_items, n_ratings, alpha 6dp). */
  def krippendorffAlpha(df: DataFrame, itemCol: String,
                        ratingCol: String): DataFrame = {
    val items = df.filter(col(ratingCol).isNotNull)
      .groupBy(col(itemCol).as("__it"))
      .agg(count(lit(1)).as("__m"),
        sum(when(col(ratingCol) === 1, 1L).otherwise(0L)).as("__o"))
      .filter(col("__m") >= 2)
    val g = items.agg(count(lit(1)).as("n_items"),
      sum("__m").as("n_ratings"), sum("__o").as("__o1"),
      sum((col("__o") * (col("__m") - col("__o"))).cast("double") /
        (col("__m") - 1)).as("__dsum"))
    val nD = col("n_ratings").cast("double")
    val o1 = col("__o1").cast("double")
    val o0 = nD - o1
    g.select(col("n_items"), col("n_ratings"),
      round(when(o1 > 0 && o0 > 0,
        lit(1.0) - (nD - 1) * col("__dsum") / (o1 * o0)), 6).as("alpha"))
  }

  /** Weibull survival fit by median-rank regression over the
    * [[kaplanMeier]] estimate: ln(−ln S(t)) is linear in ln t under a
    * Weibull, so OLS gives shape k (k < 1 = infant mortality /
    * early-churn, k > 1 = wear-out) and scale λ = exp(−b₀/k) — the
    * parametric summary of q183's nonparametric curve, and the r² says
    * whether the Weibull story holds at all.
    *
    * Scale shape: the KM collapse is the data-sized step; the
    * regression runs over the ≤#distinct-durations frame with both
    * engines reading the SAME 6dp-rounded survival values. Points need
    * 0 < S < 1 and t > 0. The scale is reported as ln λ = −b₀/k — λ
    * itself spans the duration unit's magnitude and exp() would
    * amplify last-ulp regression noise past any fixed rounding.
    * Returns one row: (n_points, shape 6dp, ln_scale 6dp, r2 6dp). */
  def weibullFit(df: DataFrame, durationCol: String,
                 eventCol: String): DataFrame = {
    val km = kaplanMeier(df, durationCol, eventCol)
      .filter(col("survival") > 0 && col("survival") < 1 && col("t") > 0)
      .select(log(col("t")).as("__x"),
        log(-log(col("survival"))).as("__y"))
    val g = km.agg(count(lit(1)).as("n_points"),
      sum("__x").as("__sx"), sum("__y").as("__sy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__y") * col("__y")).as("__syy"),
      sum(col("__x") * col("__y")).as("__sxy"))
    val n = col("n_points").cast("double")
    val sxx = col("__sxx") - col("__sx") * col("__sx") / n
    val syy = col("__syy") - col("__sy") * col("__sy") / n
    val sxy = col("__sxy") - col("__sx") * col("__sy") / n
    val shape = sxy / sxx
    val b0 = col("__sy") / n - shape * col("__sx") / n
    val ok = col("n_points") >= 3 && sxx > 0
    g.select(col("n_points"),
      round(when(ok, shape), 6).as("shape"),
      round(when(ok && shape =!= 0.0, -b0 / shape), 6).as("ln_scale"),
      round(when(ok && syy > 0, sxy * sxy / (sxx * syy)), 6).as("r2"))
  }

  /** Scalar calibration read-outs over equal-width probability bins:
    * ECE (the headline miscalibration number), exact Brier score, and
    * the Murphy decomposition (reliability − resolution + uncertainty,
    * computed bin-wise) — q187's reliability TABLE collapsed to the
    * numbers a model gate thresholds on. One corpus aggregate builds
    * the bin cells; everything else rides the #bins frame. Returns one
    * row: (n, ece, brier, reliability, resolution, uncertainty) 6dp.
    */
  def eceBrier(df: DataFrame, probCol: String, labelCol: String,
               bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 100)
    val p = col(probCol).cast("double")
    val y = col(labelCol).cast("double")
    val base = df.filter(p.isNotNull && y.isNotNull && !isnan(p))
      .select(least(lit(bins - 1), floor(p * bins)).cast("long").as("__b"),
        p.as("__p"), y.as("__y"))
    val cells = base.groupBy("__b")
      .agg(count(lit(1)).as("__n"), avg("__p").as("__pb"),
        avg("__y").as("__yb"),
        sum((col("__p") - col("__y")) * (col("__p") - col("__y")))
          .as("__sq"))
    val tot = cells.agg(sum("__n").as("__nt"),
      (sum(col("__yb") * col("__n")) / sum("__n")).as("__ybar"))
    val n = col("__nt").cast("double")
    val g = cells.crossJoin(broadcast(tot)).agg(
      first("__nt").as("n"),
      sum(col("__n") / n * abs(col("__pb") - col("__yb"))).as("__ece"),
      (sum("__sq") / first(n)).as("__brier"),
      sum(col("__n") / n * (col("__pb") - col("__yb")) *
        (col("__pb") - col("__yb"))).as("__rel"),
      sum(col("__n") / n * (col("__yb") - col("__ybar")) *
        (col("__yb") - col("__ybar"))).as("__res"),
      first(col("__ybar") * (lit(1.0) - col("__ybar"))).as("__unc"))
    g.select(col("n"), round(col("__ece"), 6).as("ece"),
      round(col("__brier"), 6).as("brier"),
      round(col("__rel"), 6).as("reliability"),
      round(col("__res"), 6).as("resolution"),
      round(col("__unc"), 6).as("uncertainty"))
  }

  /** Effect sizes for a two-group proportion comparison: Cohen's h
    * (the arcsine-stabilized difference, the standard "is this lift
    * big" scale for rates) and the risk ratio with its log-method 95%
    * CI — the pair of read-outs a bare p-value (q293/q298) doesn't
    * give. One conditional-count aggregate. Returns one row:
    * (n_a, n_b, p_a, p_b, cohens_h, rr, rr_lo, rr_hi) 6dp; RR terms
    * null when either count of successes is 0. */
  def proportionEffects(df: DataFrame, groupCol: String, convCol: String,
                        groupA: String, groupB: String): DataFrame = {
    val isA = col(groupCol) === groupA
    val isB = col(groupCol) === groupB
    val g = df.filter((isA || isB) && col(convCol).isNotNull)
      .agg(
        sum(when(isA, 1L).otherwise(0L)).as("n_a"),
        sum(when(isA && col(convCol) === 1, 1L).otherwise(0L)).as("s_a"),
        sum(when(isB, 1L).otherwise(0L)).as("n_b"),
        sum(when(isB && col(convCol) === 1, 1L).otherwise(0L)).as("s_b"))
    val pa = col("s_a").cast("double") / col("n_a")
    val pb = col("s_b").cast("double") / col("n_b")
    val h = lit(2.0) * asin(sqrt(pa)) - lit(2.0) * asin(sqrt(pb))
    val lnRr = log(pa / pb)
    val se = sqrt((lit(1.0) - pa) / (col("n_a") * pa) +
      (lit(1.0) - pb) / (col("n_b") * pb))
    val ok = col("s_a") > 0 && col("s_b") > 0
    // 1.959964 = the powerMde plan-literal convention
    g.select(col("n_a"), col("n_b"),
      round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      round(h, 6).as("cohens_h"),
      round(when(ok, exp(lnRr)), 6).as("rr"),
      round(when(ok, exp(lnRr - lit(1.959964) * se)), 6).as("rr_lo"),
      round(when(ok, exp(lnRr + lit(1.959964) * se)), 6).as("rr_hi"))
  }

  /** Negative-binomial overdispersion diagnosis for a count column:
    * dispersion = var/mean (1 = Poisson), the method-of-moments NB
    * size r = m²/(v − m), and the zero-inflation check — observed
    * zero share vs the NB-implied P(0) = (r/(r+m))^r (written as
    * exp(r·ln(·)) in BOTH engines so no libm pow divergence). The
    * "which count model fits" gate before any rate modeling.
    * One aggregate over the per-key count frame (caller builds it —
    * including the zero-count keys, or P0 comparison is meaningless).
    * Returns one row: (n, mean, variance, dispersion, r_mom, p0_nb,
    * p0_obs) 6dp; NB terms null unless v > m. */
  def nbFit(df: DataFrame, countCol: String): DataFrame = {
    val c = col(countCol).cast("double")
    val g = df.filter(c.isNotNull)
      .agg(count(lit(1)).as("n"), avg(c).as("__m"),
        var_samp(c).as("__v"),
        sum(when(c === 0, 1L).otherwise(0L)).as("__z"))
    val r = col("__m") * col("__m") / (col("__v") - col("__m"))
    val over = col("__v") > col("__m") && col("__m") > 0
    g.select(col("n"),
      round(col("__m"), 6).as("mean"),
      round(col("__v"), 6).as("variance"),
      round(when(col("__m") > 0, col("__v") / col("__m")), 6)
        .as("dispersion"),
      round(when(over, r), 6).as("r_mom"),
      round(when(over, exp(r * log(r / (r + col("__m"))))), 6)
        .as("p0_nb"),
      round(col("__z").cast("double") / col("n"), 6).as("p0_obs"))
  }

  /** Deterministic 1-D two-means ("is this column bimodal, and where
    * does it split?"): centroids init at the exact 25th/75th
    * percentiles, then `iters` unrolled Lloyd rounds, each ONE
    * conditional aggregate; centroids are 6dp-QUANTIZED plan constants
    * between rounds (the InfoGain edge convention) so engine and
    * oracle assign every point identically. Separation is the
    * centroid gap over the pooled std. Returns one row: (n, c_lo 6dp,
    * c_hi 6dp, share_lo 6dp, separation 6dp). */
  def twoMeans1d(df: DataFrame, valueCol: String,
                 iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 8)
    val v = col(valueCol).cast("double")
    val base = df.filter(v.isNotNull && !isnan(v)).select(v.as("__v"))
    val q = base.agg(graft.functions.ExactPercentiles
      .exactPercentiles(col("__v"), Seq(0.25, 0.75))).head()
    if (q.isNullAt(0))
      return df.sparkSession.range(0).select(lit(0L).as("n"),
        lit(0.0).as("c_lo"), lit(0.0).as("c_hi"),
        lit(0.0).as("share_lo"), lit(0.0).as("separation"))
    def q6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var cLo = q6(q.getSeq[Double](0).head)
    var cHi = q6(q.getSeq[Double](0)(1))
    for (_ <- 1 to iters) {
      // assign to the nearer centroid (midpoint rule, ties → low side)
      val mid = (cLo + cHi) / 2.0
      val r = base.agg(
        avg(when(col("__v") <= mid, col("__v"))).as("ml"),
        avg(when(col("__v") > mid, col("__v"))).as("mh")).head()
      if (!r.isNullAt(0)) cLo = q6(r.getDouble(0))
      if (!r.isNullAt(1)) cHi = q6(r.getDouble(1))
    }
    val mid = (cLo + cHi) / 2.0
    base.agg(count(lit(1)).as("n"),
        sum(when(col("__v") <= mid, 1L).otherwise(0L)).as("__nl"),
        stddev_samp(col("__v")).as("__s"))
      .select(col("n"), lit(cLo).as("c_lo"), lit(cHi).as("c_hi"),
        round(col("__nl").cast("double") / col("n"), 6).as("share_lo"),
        round(when(col("__s") > 0, lit(cHi - cLo) / col("__s")), 6)
          .as("separation"))
  }

  /** Yuen's trimmed-mean two-sample t — the robust alternative to
    * q185's Welch t when tails are heavy: compare PERCENTILE-TRIMMED
    * means with WINSORIZED variances (the percentile-bound variant of
    * Yuen 1974, reusing q188's exact-percentile clip convention so the
    * trim rule is engine-portable; the classic count-based trim is
    * order-statistics identical when no ties straddle the cut).
    * t = (mt_a − mt_b)/√(d_a + d_b), d = (n−1)·s²_win/(h·(h−1)) with
    * h the kept count; Welch–Satterthwaite df rides the same terms.
    *
    * Scale shape: one per-group exact-percentile aggregate (bounds →
    * broadcast constants), then ONE conditional-moment aggregate over
    * the corpus. Returns one row: (n_a, n_b, h_a, h_b, mt_a, mt_b,
    * t_yuen, df) 6dp. */
  def yuenT(df: DataFrame, groupCol: String, valueCol: String,
            groupA: String, groupB: String,
            trim: Double = 0.2): DataFrame = {
    require(trim > 0 && trim < 0.5, s"trim $trim out of (0, 0.5)")
    val v = col(valueCol).cast("double")
    // kept values ride the exact cents lattice (2dp domain); the
    // winsorized sums decompose as kept-sum + count·bound products —
    // one portable conversion (core/Lattice) plus a fixed-order float
    // tail, bit-identical across engines (round-13 100× sweep: the
    // raw double Σwv/Σwv² drifted 3e-6 in df at corpus magnitudes)
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val vc = (col(valueCol).cast(DecimalType(18, 2)) * lit(100))
      .cast(d38)
    val base = df.filter(v.isNotNull && !isnan(v) &&
        col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).as("__g"), v.as("__v"), vc.as("__vc"))
    val bounds = base.groupBy("__g").agg(
      graft.functions.ExactPercentiles.exactPercentiles(
        col("__v"), Seq(trim, 1 - trim)).as("__q"))
      .select(col("__g"), col("__q").getItem(0).as("__lo"),
        col("__q").getItem(1).as("__hi"))
    val j = base.join(broadcast(bounds), Seq("__g"))
      .withColumn("__keep",
        col("__v") >= col("__lo") && col("__v") <= col("__hi"))
    def side(g: String, tag: String) = Seq(
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(col("__g") === g && col("__keep"), 1L).otherwise(0L))
        .as(s"h_$tag"),
      sum(when(col("__g") === g && col("__keep"), col("__vc")))
        .as(s"__stc_$tag"),
      sum(when(col("__g") === g && col("__keep"),
        col("__vc") * col("__vc"))).as(s"__svvc_$tag"),
      sum(when(col("__g") === g && col("__v") < col("__lo"), 1L)
        .otherwise(0L)).as(s"__cb_$tag"),
      sum(when(col("__g") === g && col("__v") > col("__hi"), 1L)
        .otherwise(0L)).as(s"__ca_$tag"),
      min(when(col("__g") === g, col("__lo"))).as(s"__lo_$tag"),
      min(when(col("__g") === g, col("__hi"))).as(s"__hi_$tag"))
    val aggs = side(groupA, "a") ++ side(groupB, "b")
    val pds = graft.core.Lattice.sparkPortableDoubleSigned _
    val m = j.agg(aggs.head, aggs.tail: _*)
      .withColumn("__st_a", expr(pds("__stc_a")) / 100.0)
      .withColumn("__st_b", expr(pds("__stc_b")) / 100.0)
      .withColumn("__svv_a", expr(pds("__svvc_a")) / 10000.0)
      .withColumn("__svv_b", expr(pds("__svvc_b")) / 10000.0)
    def stats(tag: String): (Column, Column) = {
      val n = col(s"n_$tag").cast("double")
      val h = col(s"h_$tag").cast("double")
      val cb = col(s"__cb_$tag").cast("double")
      val ca = col(s"__ca_$tag").cast("double")
      val lo = col(s"__lo_$tag")
      val hi = col(s"__hi_$tag")
      val st = col(s"__st_$tag")
      val sw = st + cb * lo + ca * hi
      val sww = col(s"__svv_$tag") + cb * (lo * lo) + ca * (hi * hi)
      val mt = st / h
      val sw2 = (sww - sw * sw / n) / (n - 1)
      val d = sw2 * (n - 1) / (h * (h - 1))
      (mt, d)
    }
    val (mta, da) = stats("a")
    val (mtb, db) = stats("b")
    val ok = col("h_a") >= 2 && col("h_b") >= 2 && (da + db) > 0
    m.select(col("n_a"), col("n_b"), col("h_a"), col("h_b"),
      round(mta, 6).as("mt_a"), round(mtb, 6).as("mt_b"),
      round(when(ok, (mta - mtb) / sqrt(da + db)), 6).as("t_yuen"),
      round(when(ok, (da + db) * (da + db) /
        (da * da / (col("h_a") - 1) + db * db / (col("h_b") - 1))), 6)
        .as("df"))
  }

  /** Cochran–Mantel–Haenszel: the pooled 2×2 association test across
    * strata — "is exposure associated with outcome AFTER controlling
    * for the stratifying confounder?" The stratified sibling of
    * [[fisherExact]]/q156's chi-square, and the observational twin of
    * q277's stratified ATE. Reports the MH common odds ratio
    * Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ) and the CMH χ² (1 df, no continuity
    * correction — documented):
    * (Σaᵢ − Σ(r1ᵢc1ᵢ/nᵢ))² / Σ(r1ᵢr2ᵢc1ᵢc2ᵢ/(nᵢ²(nᵢ−1))).
    *
    * Scale shape: ONE groupBy(stratum) builds the per-stratum cells
    * (map-combinable conditional sums); every MH term is then a second
    * aggregate over that #strata-sized frame. Strata with n < 2 are
    * dropped (zero CMH variance). Returns one row:
    * (k_strata, n, or_cmh 6dp, chi2_cmh 6dp). */
  def cmh(df: DataFrame, strataCol: String, rowCol: String,
          colCol: String): DataFrame = {
    val r1 = col(rowCol) === 1
    val c1 = col(colCol) === 1
    val cells = df.filter(col(rowCol).isNotNull && col(colCol).isNotNull &&
        col(strataCol).isNotNull)
      .groupBy(col(strataCol).as("__s"))
      .agg(
        sum(when(r1 && c1, 1L).otherwise(0L)).as("a"),
        sum(when(r1 && !c1, 1L).otherwise(0L)).as("b"),
        sum(when(!r1 && c1, 1L).otherwise(0L)).as("c"),
        sum(when(!r1 && !c1, 1L).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .filter(col("n") >= 2)
    val nD = col("n").cast("double")
    val g = cells.agg(
      count(lit(1)).as("k_strata"), sum("n").as("n"),
      sum(col("a") * col("d") / nD).as("__orNum"),
      sum(col("b") * col("c") / nD).as("__orDen"),
      sum(col("a")).as("__sa"),
      sum((col("a") + col("b")) * (col("a") + col("c")) / nD).as("__se"),
      sum((col("a") + col("b")).cast("double") * (col("c") + col("d")) *
        (col("a") + col("c")) * (col("b") + col("d")) /
        (nD * nD * (nD - 1))).as("__sv"))
    val dev = col("__sa") - col("__se")
    g.select(col("k_strata"), col("n"),
      round(when(col("__orDen") > 0, col("__orNum") / col("__orDen")), 6)
        .as("or_cmh"),
      round(when(col("__sv") > 0, dev * dev / col("__sv")), 6)
        .as("chi2_cmh"))
  }

  /** Cochran's Q: do k correlated binary raters/classifiers (one row
    * per subject, k 0/1 flag columns) have the same marginal positive
    * rate? The k-rater generalization of [[mcnemar]] (k = 2 reduces to
    * it without continuity correction). Q = (k−1)·[k·ΣCⱼ² − (ΣCⱼ)²] /
    * (k·ΣRᵢ − ΣRᵢ²) with Cⱼ the per-flag totals and Rᵢ the per-subject
    * row sums — every term is a plain sum, so the whole test is ONE
    * map-combinable aggregate over the subject frame. Subjects with
    * any null flag are dropped (complete-case, the standard rule).
    * Returns one row: (n, k, q_stat 6dp). */
  def cochranQ(df: DataFrame, flagCols: Seq[String]): DataFrame = {
    val k = flagCols.length
    require(k >= 2, s"cochranQ needs >= 2 flag columns, got $k")
    val flags = flagCols.map(c => when(col(c) === 1, 1.0).otherwise(0.0))
    val complete = df.filter(flagCols.map(col(_).isNotNull).reduce(_ && _))
    val r = flags.reduce(_ + _)
    val aggs = Seq(count(lit(1)).as("__n"),
      sum(r).as("__sr"), sum(r * r).as("__srr")) ++
      flagCols.zipWithIndex.map { case (c, i) =>
        sum(when(col(c) === 1, 1.0).otherwise(0.0)).as(s"__c$i") }
    val g = complete.agg(aggs.head, aggs.tail: _*)
    val sumC2 = (0 until k).map(i => col(s"__c$i") * col(s"__c$i"))
      .reduce(_ + _)
    val num = lit(k - 1.0) * (lit(k.toDouble) * sumC2 -
      col("__sr") * col("__sr"))
    val den = lit(k.toDouble) * col("__sr") - col("__srr")
    g.select(col("__n").as("n"), lit(k.toLong).as("k"),
      round(when(den > 0, num / den), 6).as("q_stat"))
  }

  /** Competing-risks cumulative incidence (Aalen–Johansen for two
    * event causes): CIF_k(t) = Σ_{s≤t} S(s−)·d_k(s)/n(s) with S the
    * ALL-CAUSE Kaplan–Meier — the quantity naive "1 − KM per cause"
    * overstates when risks compete. Same life-table shape as
    * [[kaplanMeier]]: one duration groupBy, windows on the
    * distinct-duration frame. `causeCol`: 0 = censored, 1, 2.
    * Returns (t, n_at_risk, d1, d2, cif1 6dp, cif2 6dp). */
  def cumulativeIncidence(df: DataFrame, durationCol: String,
                          causeCol: String): DataFrame = {
    val d = col(durationCol).cast("double")
    val byT = df.groupBy(d.as("t"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col(causeCol) === 1, 1L).otherwise(0L)).as("d1"),
        sum(when(col(causeCol) === 2, 1L).otherwise(0L)).as("d2"))
    val wDesc = Window.orderBy(desc("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val atRisk = byT.withColumn("n_at_risk", sum("__n").over(wDesc))
    val wcum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dAll = (col("d1") + col("d2")).cast("double")
    val factor = lit(1.0) - dAll / col("n_at_risk")
    val zeros = sum(when(factor <= 0, 1).otherwise(0)).over(wcum)
    val surv = when(zeros > 0, lit(0.0)).otherwise(
      round(exp(sum(when(factor > 0, log(factor))).over(wcum)), 6))
    val withS = atRisk
      .withColumn("__s", surv)
      .withColumn("__sPrev",
        coalesce(lag("__s", 1).over(Window.orderBy("t")), lit(1.0)))
    withS.filter(col("d1") + col("d2") > 0)
      .withColumn("cif1", round(sum(col("__sPrev") *
        col("d1").cast("double") / col("n_at_risk"))
        .over(wcum), 6))
      .withColumn("cif2", round(sum(col("__sPrev") *
        col("d2").cast("double") / col("n_at_risk"))
        .over(wcum), 6))
      .select(col("t"), col("n_at_risk"), col("d1"), col("d2"),
        col("cif1"), col("cif2"))
  }

  /** Mean cumulative function for RECURRENT events (Nelson estimator):
    * MCF(t) = Σ_{s≤t} (events at s across the cohort) / n_cohort —
    * "expected errors per entity by day t", the recurrent-event twin
    * of a survival curve (no terminal state, entities keep
    * contributing). Day offsets from each entity's first event; one
    * groupBy per offset + one cohort scalar. Returns
    * (day_offset, n_events, mcf 6dp). */
  def meanCumulativeFunction(events: DataFrame, userCol: String,
                             tsCol: String,
                             isEvent: Column): DataFrame = {
    val ev = graft.core.Tables.ltzTs(events, tsCol)
    val first = ev.groupBy(col(userCol).as("__u"))
      .agg(min(to_date(col(tsCol))).as("__d0"))
    val cohort = first.count()
    val perDay = ev.filter(isEvent)
      .select(col(userCol).as("__u"), to_date(col(tsCol)).as("__d"))
      .join(first, Seq("__u"))
      .select(datediff(col("__d"), col("__d0")).as("day_offset"))
      .groupBy("day_offset").agg(count(lit(1)).as("n_events"))
    val wcum = Window.orderBy("day_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay.withColumn("mcf",
        round(sum("n_events").over(wcum).cast("double") / cohort, 6))
      .orderBy("day_offset")
  }

  /** Somers' D (asymmetric ordinal association, y dependent on x):
    * D_yx = (C − D) / (C + D + T_y) where T_y counts pairs tied on y
    * but NOT on x — the directional refinement of [[gkGamma]] (gamma
    * ignores all ties and overstates association on coarse scales).
    * Same contingency-cell plan: quadratic only in distinct-value
    * pairs. Returns one row: (n, n_concordant, n_discordant,
    * n_ties_y, somers_d 6dp). */
  def somersD(df: DataFrame, xCol: String, yCol: String): DataFrame = Checkpoints.scoped {
    val cells = Checkpoints.local(df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .agg(count(lit(1)).as("__n")))
    val a = cells.select(col("__x").as("xa"), col("__y").as("ya"),
      col("__n").as("na"))
    val b = cells.select(col("__x").as("xb"), col("__y").as("yb"),
      col("__n").as("nb"))
    val conc = a.join(b, col("xb") > col("xa") && col("yb") > col("ya"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("nc"))
    val disc = a.join(b, col("xb") > col("xa") && col("yb") < col("ya"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("nd"))
    val tiesY = a.join(b, col("xb") > col("xa") && col("yb") === col("ya"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("nty"))
    val n = cells.agg(sum("__n").as("n"))
    Checkpoints.local(n.crossJoin(conc).crossJoin(disc).crossJoin(tiesY)
      .select(col("n"), col("nc").as("n_concordant"),
        col("nd").as("n_discordant"), col("nty").as("n_ties_y"),
        round(when(col("nc") + col("nd") + col("nty") > 0,
          (col("nc") - col("nd")).cast("double") /
            (col("nc") + col("nd") + col("nty"))), 6).as("somers_d")))
  }

  /** Kaplan–Meier curve with Greenwood standard errors and plain
    * ±z·se confidence bands (clamped to [0,1] — the documented
    * band convention; log-log bands differ only deep in the tails).
    * Same life-table plan as [[kaplanMeier]] plus ONE more window
    * sum for the Greenwood accumulator Σ d/(n(n−d)).
    * Returns (t, n_at_risk, n_events, survival, se 6dp, lo 6dp,
    * hi 6dp). */
  def kaplanMeierBands(df: DataFrame, durationCol: String,
                       eventCol: String,
                       z: Double = 1.959964): DataFrame = {
    val km = kaplanMeier(df, durationCol, eventCol)
    val wcum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the last at-risk group dying gives n = d: its Greenwood term is
    // skipped (survival is 0 there, se pinned to 0)
    val gw = coalesce(sum(when(col("n_at_risk") > col("n_events"),
      col("n_events").cast("double") /
        (col("n_at_risk").cast("double") *
          (col("n_at_risk") - col("n_events")).cast("double"))))
      .over(wcum), lit(0.0))
    km.withColumn("__se", col("survival") * sqrt(gw))
      .select(col("t"), col("n_at_risk"), col("n_events"),
        col("survival"), round(col("__se"), 6).as("se"),
        round(greatest(col("survival") - lit(z) * col("__se"),
          lit(0.0)), 6).as("lo"),
        round(least(col("survival") + lit(z) * col("__se"),
          lit(1.0)), 6).as("hi"))
  }

  /** Harrell's concordance index for a survival outcome against a
    * risk score: over comparable pairs (i experienced the event and
    * i's time is strictly earlier than j's), the share where the risk
    * score ranks them correctly (score_i > score_j), ties in score
    * crediting 1/2 — the survival twin of ROC-AUC (C = AUC when all
    * subjects are events at distinct times).
    *
    * Scale shape: the [[somersD]] cell-table plan — one groupBy to
    * (t, e, p, n) cells, three dominance joins on the cell frame
    * (quadratic only in distinct cells, the bounded-cardinality
    * contract; pre-bin continuous scores), all-integer counts.
    * Returns one row: (n_comparable, n_concordant, n_discordant,
    * n_tied, c_index 6dp). */
  def concordanceIndex(df: DataFrame, durationCol: String,
                       eventCol: String, scoreCol: String): DataFrame = Checkpoints.scoped {
    val cells = Checkpoints.local(df.filter(col(durationCol).isNotNull &&
        col(eventCol).isNotNull && col(scoreCol).isNotNull)
      .groupBy(col(durationCol).cast("long").as("__t"),
        (col(eventCol).cast("int") === 1).as("__e"),
        col(scoreCol).cast("long").as("__p"))
      .agg(count(lit(1)).as("__n")))
    val a = cells.filter(col("__e"))
      .select(col("__t").as("ta"), col("__p").as("pa"),
        col("__n").as("na"))
    val b = cells.select(col("__t").as("tb"), col("__p").as("pb"),
      col("__n").as("nb"))
    def cnt(cond: org.apache.spark.sql.Column, nm: String) =
      a.join(b, col("tb") > col("ta") && cond)
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as(nm))
    Checkpoints.local(cnt(col("pa") > col("pb"), "nc")
      .crossJoin(cnt(col("pa") < col("pb"), "nd"))
      .crossJoin(cnt(col("pa") === col("pb"), "nt"))
      .select((col("nc") + col("nd") + col("nt")).as("n_comparable"),
        col("nc").as("n_concordant"), col("nd").as("n_discordant"),
        col("nt").as("n_tied"),
        round(when(col("nc") + col("nd") + col("nt") > 0,
          (col("nc").cast("double") + col("nt").cast("double") / 2) /
            (col("nc") + col("nd") + col("nt")).cast("double")), 6)
          .as("c_index")))
  }

  /** Bowker symmetry test for a paired k×k categorical table — the
    * k-class generalization of [[mcnemar]]: did the per-unit category
    * assignments SHIFT between two paired readings (rater A vs B,
    * period 1 vs 2), χ² = Σ_{i<j}(n_ij − n_ji)²/(n_ij + n_ji) with
    * df = #off-diagonal pairs carrying data. One (a, b) cell groupBy;
    * the pair terms quantize to DECIMAL(28,9) before the ≤k²-row sum.
    * Returns one row: (n, n_pairs_tested, chi2 6dp, df). */
  def bowker(df: DataFrame, aCol: String, bCol: String): DataFrame = Checkpoints.scoped {
    import org.apache.spark.sql.types.DecimalType
    val cells = Checkpoints.local(df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("long").as("__a"),
        col(bCol).cast("long").as("__b"))
      .agg(count(lit(1)).as("__n")))
    val lo = cells.select(col("__a").as("__i"), col("__b").as("__j"),
      col("__n").as("__nij"))
    val hi = cells.select(col("__b").as("__i"), col("__a").as("__j"),
      col("__n").as("__nji"))
    val pairs = lo.join(hi, Seq("__i", "__j"), "full")
      .filter(col("__i") < col("__j"))
      .select(coalesce(col("__nij"), lit(0L)).as("__x"),
        coalesce(col("__nji"), lit(0L)).as("__y"))
    val n = cells.agg(sum("__n").as("n"))
    val term = try_divide(((col("__x") - col("__y")) *
      (col("__x") - col("__y"))).cast("double"),
      (col("__x") + col("__y")).cast("double"))
    Checkpoints.local(pairs.agg(
        sum((col("__x") + col("__y") > 0).cast("long"))
          .as("n_pairs_tested"),
        round(sum(round(term, 9).cast(DecimalType(28, 9)))
          .cast("double"), 6).as("chi2"))
      .crossJoin(broadcast(n))
      .select(col("n"), col("n_pairs_tested"), col("chi2"),
        col("n_pairs_tested").as("df")))
  }

  /** Kaplan–Meier median survival PER GROUP: the life table runs
    * partitioned by group (event times from grouped integer counts,
    * at-risk via a descending suffix sum), the survival curve is
    * exp(Σ ln(1 − d/n)) over the ordered window (both engines sum the
    * SAME ln terms in the SAME order; a d = n step pins S to 0 via an
    * explicit flag — never ln(0), which Spark nulls and DuckDB -infs),
    * and the median is the first event time where S ≤ 0.5 (null if
    * the curve never falls that far) — "which segment churns fastest"
    * in one table. Returns (group, n, n_events, median_survival). */
  def kmMedianByGroup(df: DataFrame, groupCol: String,
                      durationCol: String,
                      eventCol: String): DataFrame = {
    val base = df.filter(col(durationCol).isNotNull &&
        col(eventCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(durationCol).cast("long").as("__t"),
        (col(eventCol).cast("int") === 1).cast("long").as("__e"))
    val totals = base.groupBy("__g").agg(count(lit(1)).as("n"),
      sum("__e").as("n_events"))
    val cells = base.groupBy("__g", "__t")
      .agg(count(lit(1)).as("__c"), sum("__e").as("__d"))
    val wDesc = Window.partitionBy("__g").orderBy(col("__t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.partitionBy("__g").orderBy("__t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lifeRows = cells
      .withColumn("__atRisk", sum("__c").over(wDesc))
      .filter(col("__d") > 0)
    val withS = lifeRows
      .withColumn("__zero",
        max((col("__d") === col("__atRisk")).cast("int")).over(wAsc))
      .withColumn("__lnS", sum(when(col("__d") < col("__atRisk"),
        log(lit(1.0) - col("__d").cast("double") /
          col("__atRisk").cast("double")))).over(wAsc))
      .withColumn("__s", when(col("__zero") === 1, lit(0.0))
        .otherwise(exp(coalesce(col("__lnS"), lit(0.0)))))
    withS.groupBy(col("__g"))
      .agg(min(when(col("__s") <= 0.5, col("__t")))
        .as("median_survival"))
      .join(totals, Seq("__g"), "right")
      .select(col("__g").as("group"), col("n"), col("n_events"),
        col("median_survival"))
      .orderBy("group")
  }
}
