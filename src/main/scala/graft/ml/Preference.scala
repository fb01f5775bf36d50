package graft.ml

import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pairwise-preference analytics: Bradley-Terry strength estimation and
  * inter-annotator agreement — the label-quality layer a preference
  * (RLHF-style) data pipeline needs before the pairs feed a reward
  * model. The reference has no preference module; these extend its
  * model-monitoring surface (confusion matrix `model_utils.py`,
  * contest reports) to pairwise-comparison data.
  *
  * Scale shape: the raw comparison log is data-sized, but both
  * operators collapse it FIRST — Bradley-Terry to an (items × items)
  * match matrix, kappa to a (labels × labels) confusion matrix — with
  * one map-side-combined groupBy, and all iteration/closed-form math
  * runs on that metadata-sized frame (the PageRank argument:
  * `proximity/Graph.scala:25`).
  */
object Preference {

  /** Bradley-Terry strengths via Hunter's (2004) MM fixed point:
    *   p_i ← W_i / Σ_j n_ij / (p_i + p_j),  then normalize Σp = 1.
    * `matches` is the aggregated unordered-pair frame (itemA < itemB
    * convention not required — pairs are symmetrized here); `winsA` /
    * `winsB` count wins of `itemA` / `itemB` within the pair. Items
    * that never meet another item are absent by construction (their
    * strength is unidentified in the BT model). Ties should be split
    * upstream (BT has no tie term).
    *
    * The MM map is monotone-contracting, so engine float-sum noise
    * (~1e-16/round) stays bounded; `iters` defaults cover the few-item
    * regime the match matrix collapse produces. Per round: one join of
    * the strengths onto the symmetric pair frame + one per-item
    * aggregate — items²-bounded, metadata. The k-row strength vector
    * is pulled to the driver each round and re-planted as a
    * LocalRelation (the broadcast-coefficient pattern of
    * `ml/SpectralEmbedding.scala`): the round joins it TWICE (pᵢ/pⱼ),
    * and a lineage-carried frame would compound size-estimate stats
    * quadratically per round — Catalyst's BigInt sizeInBytes product
    * grows double-exponentially in `iters` and stalls planning.
    * Returns (item, n_matches, n_wins, strength 6dp). */
  def bradleyTerry(matches: DataFrame, itemA: String, itemB: String,
                   winsA: String, winsB: String, iters: Int = 8): DataFrame = Checkpoints.scoped {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val m = matches.select(
      col(itemA).as("__a"), col(itemB).as("__b"),
      col(winsA).cast("double").as("__wa"),
      col(winsB).cast("double").as("__wb"))
    // symmetric view: one row per ordered (i, j) with i's wins and the
    // pair's total match count — every later pass keys on i only
    val sym = Checkpoints.local(m.select(col("__a").as("i"), col("__b").as("j"),
        col("__wa").as("w"), (col("__wa") + col("__wb")).as("nij"))
      .union(m.select(col("__b").as("i"), col("__a").as("j"),
        col("__wb").as("w"), (col("__wa") + col("__wb")).as("nij")))
      .groupBy("i", "j")
      .agg(sum("w").as("w"), sum("nij").as("nij")))
    val wins = Checkpoints.local(sym.groupBy("i")
      .agg(sum("w").as("wi"), sum("nij").as("ni")))
    val k = wins.count().toDouble
    val spark = matches.sparkSession
    // k-row LocalRelation each round: actual tiny stats, auto-broadcast
    def localize(df: DataFrame): DataFrame = {
      val rows = java.util.Arrays.asList(df.collect(): _*)
      spark.createDataFrame(rows, df.schema)
    }
    var p = localize(wins.select(col("i"), lit(1.0 / k).as("p")))
    var t = 0
    while (t < iters) {
      val pi = p.select(col("i").as("__pi_i"), col("p").as("__pi"))
      val pj = p.select(col("i").as("__pj_i"), col("p").as("__pj"))
      val den = sym.join(pi, sym("i") === col("__pi_i"))
        .join(pj, sym("j") === col("__pj_i"))
        .groupBy(sym("i").as("i"))
        .agg(sum(col("nij") / (col("__pi") + col("__pj"))).as("__den"))
      val raw = wins.join(den, "i")
        .select(col("i"), (col("wi") / col("__den")).as("__raw"))
      val z = raw.agg(sum("__raw").as("__z"))
      p = localize(raw.crossJoin(z)
        .select(col("i"), (col("__raw") / col("__z")).as("p")))
      t += 1
    }
    Checkpoints.local(wins.join(p, "i")
      .select(col("i").as("item"), col("ni").cast("long").as("n_matches"),
        col("wi").cast("double").as("n_wins"),
        round(col("p"), 6).as("strength")))
  }

  /** Position-bias audit over an ORDERED pair log (one row per
    * comparison, `firstCol` shown first): per first-shown item the
    * first-position win rate, against the pooled first-win rate, with
    * the one-sample binomial z-score z = (p̂ − p₀)/√(p₀(1−p₀)/n) —
    * the "annotators prefer whatever is on the left" check a
    * preference pipeline runs before trusting its pairs (a pooled
    * rate far from 0.5 IS the position bias; per-item z flags items
    * whose placement interacts with it). One groupBy collapse + the
    * pooled scalar on the items-sized frame. Returns
    * (item, n_first, n_first_wins, first_win_rate, pooled_rate, z)
    * floats 6dp, z null when p₀ degenerates to 0 or 1. */
  def positionBias(pairLog: DataFrame, firstCol: String,
                   firstWonCol: String): DataFrame = Checkpoints.scoped {
    val per = Checkpoints.local(pairLog.groupBy(col(firstCol).as("item"))
      .agg(count(lit(1)).as("n_first"),
        sum(col(firstWonCol).cast("long")).as("n_first_wins")))
    val pooled = per.agg((sum("n_first_wins").cast("double") /
      sum("n_first")).as("__p0"))
    Checkpoints.local(per.crossJoin(pooled)
      .select(col("item"), col("n_first"), col("n_first_wins"),
        round(col("n_first_wins").cast("double") / col("n_first"), 6)
          .as("first_win_rate"),
        round(col("__p0"), 6).as("pooled_rate"),
        when(col("__p0") > 0 && col("__p0") < 1, round(
          (col("n_first_wins").cast("double") / col("n_first") -
            col("__p0")) /
            sqrt(col("__p0") * (lit(1.0) - col("__p0")) / col("n_first")),
          6)).as("z")))
  }

  /** Cohen's kappa between two label columns over the same rows: the
    * (label_a × label_b) confusion matrix annotated with the observed
    * agreement po = Σ diag / N, chance agreement pe = Σ_c pa_c · pb_c,
    * and kappa = (po − pe)/(1 − pe) (null when pe = 1 — degenerate
    * single-category annotators, where kappa is undefined). One
    * groupBy collapses the data; marginals and the three scalars ride
    * the labels²-sized confusion frame. Returns
    * (label_a, label_b, n, po 6dp, pe 6dp, kappa 6dp). */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = Checkpoints.scoped {
    val conf = Checkpoints.local(df.groupBy(col(aCol).as("label_a"), col(bCol).as("label_b"))
      .agg(count(lit(1)).as("n")))
    val tot = conf.agg(sum("n").as("__N"),
      sum(when(col("label_a") === col("label_b"), col("n"))
        .otherwise(lit(0L))).as("__diag"))
    val pa = conf.groupBy("label_a").agg(sum("n").as("__na"))
    val pb = conf.groupBy("label_b").agg(sum("n").as("__nb"))
    val pe = pa.join(pb, pa("label_a") === pb("label_b"))
      .crossJoin(tot)
      .agg(sum(col("__na").cast("double") / col("__N") *
        (col("__nb").cast("double") / col("__N"))).as("__pe"))
    Checkpoints.local(conf.crossJoin(tot).crossJoin(pe)
      .select(col("label_a"), col("label_b"), col("n"),
        round(col("__diag").cast("double") / col("__N"), 6).as("po"),
        round(col("__pe"), 6).as("pe"),
        round((col("__diag").cast("double") / col("__N") - col("__pe")) /
          (lit(1.0) - col("__pe")), 6).as("kappa")))
  }

  /** Quadratic-weighted Cohen's kappa for ORDINAL ratings:
    * κ_w = 1 − Σwᵢⱼ·Oᵢⱼ / Σwᵢⱼ·Eᵢⱼ with wᵢⱼ = (i−j)² — near-misses
    * count partially, so two annotators one band apart are not scored
    * like opposites (the plain [[cohenKappa]] treats them so). One
    * contingency groupBy; margins and expected cells ride the k×k
    * metadata frame; every sufficient statistic is an integer product.
    * Returns one row: (n, po_w 6dp, pe_w 6dp, kappa_w 6dp). */
  def weightedKappa(df: DataFrame, aCol: String,
                    bCol: String): DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("long").as("__a"),
        col(bCol).cast("long").as("__b"))
      .agg(count(lit(1)).as("__n"))
    val ma = cells.groupBy("__a").agg(sum("__n").as("__na"))
    val mb = cells.groupBy("__b").agg(sum("__n").as("__nb"))
    val tot = cells.agg(sum("__n").as("__t"))
    val w = (col("__a") - col("__b")) * (col("__a") - col("__b"))
    val obs = cells.agg(sum(w * col("__n")).as("__wo"))
    val exp0 = ma.crossJoin(mb)
      .agg(sum((col("__a") - col("__b")) * (col("__a") - col("__b")) *
        col("__na") * col("__nb")).as("__we"))
    tot.crossJoin(obs).crossJoin(exp0)
      .select(col("__t").as("n"),
        round(col("__wo").cast("double") / col("__t"), 6).as("po_w"),
        round(col("__we").cast("double") /
          (col("__t") * col("__t")), 6).as("pe_w"),
        round(lit(1.0) -
          (col("__wo").cast("double") / col("__t")) /
          (col("__we").cast("double") / (col("__t") * col("__t"))), 6)
          .as("kappa_w"))
  }
}
