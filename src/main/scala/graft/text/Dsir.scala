package graft.text

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling"): score every raw document
  * by how target-like it is under hashed-n-gram bag-of-words language
  * models, then keep the most target-like slice.
  *
  * weight(d) = (1/|d|) Σ_{g ∈ ngrams(d)} [ log p̂_target(h(g)) − log p̂_raw(h(g)) ]
  *
  * with h = a 16-bit hash bucket and p̂ = add-one-smoothed bucket
  * frequencies. The reference engine has no counterpart; this is the
  * standard pretraining-corpus "match the target domain" selector.
  *
  * Scale shape (100 TB): both count tables are ≤ `buckets` rows
  * (bucket-cardinality, NOT corpus-cardinality), built by one map-side-
  * combined groupBy each; the per-document scoring join broadcasts the
  * bucket→log-ratio table; the per-doc aggregate is the only
  * corpus-sized shuffle. Nothing is all-pairs, nothing sorts globally.
  *
  * Hash portability: bucket = first 4 hex chars of md5(ngram) — bit-
  * identical in any engine with md5, so the whole pipeline is oracle-
  * checkable cross-engine (unlike murmur-hashed features).
  */
object Dsir {

  /** Unigrams + bigrams over whitespace tokens — the paper's hashed
    * n-gram feature set (DSIR §3: unigram/bigram bag hashed to 10k
    * buckets; we use 65,536). Single-pass codegen expression: the
    * previous transform(sequence(…)) HOF re-tokenized the text inside
    * its lambda per bigram — O(tokens²) interpreted work that made the
    * DSIR pass the slowest bench query (28 s → the corpus scan cost). */
  private def ngrams(text: Column): Column =
    graft.functions.Signatures.wordNgramBag(text)

  /** 16-bit md5 bucket of one n-gram (hex-string keyed: engines agree on
    * md5 hex; no int conversion needed to group on it). */
  def bucket(ngram: Column): Column = substring(md5(ngram.cast("binary")), 1, 4)

  /** (id, bucket) — one row per n-gram INSTANCE (counts matter). */
  def docBuckets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(ngrams(col(textCol))).as("__g"))
      .select(col(idCol), bucket(col("__g")).as("__b"))

  /** Per-document importance weight = mean log-likelihood ratio of the
    * doc's hashed n-grams under the target vs raw bucket LMs.
    * Returns (idCol, n_ngrams, dsir_weight 4dp). Documents scored are
    * the `raw` frame (every raw bucket is in the ratio table by
    * construction, so the scoring join is a plain inner equi-join).
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
                        textCol: String, buckets: Int = 65536): DataFrame = Checkpoints.scoped {
    // checkpoint: the raw instance table feeds BOTH the bucket counts
    // and the scoring join — without it the explode+md5 corpus pass
    // runs twice (at cluster scale swap for checkpoint() on storage)
    val rawB = Checkpoints.local(docBuckets(raw, idCol, textCol))
    val tgtB = docBuckets(target, idCol, textCol)
    val rawCnt = rawB.groupBy("__b").agg(count(lit(1)).as("__cr"))
    val tgtCnt = tgtB.groupBy("__b").agg(count(lit(1)).as("__ct"))
    // bucket-cardinality tables: join on the raw side (scored docs ⊆ raw)
    def total(df: DataFrame, c: String): Double =
      df.agg(sum(c)).first() match {
        case r if r.isNullAt(0) => 0.0 // empty corpus → empty result, not NPE
        case r => r.getLong(0).toDouble
      }
    val totals = total(rawCnt, "__cr")
    val totalsT = total(tgtCnt, "__ct")
    val b = lit(buckets.toDouble)
    val llr = rawCnt.join(tgtCnt, Seq("__b"), "left")
      .select(col("__b"),
        (log((coalesce(col("__ct"), lit(0L)).cast("double") + 1.0) / (lit(totalsT) + b)) -
          log((col("__cr").cast("double") + 1.0) / (lit(totals) + b))).as("__w"))
    rawB.join(broadcast(llr), Seq("__b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        round(avg(col("__w")), 4).as("dsir_weight"))
  }

  /** Keep the most target-like `fraction` of raw: threshold = the exact
    * (1−fraction) percentile of weights — ONE aggregate (the custom
    * exact-percentile kernel), then a filter. No global sort/window, so
    * the selection step stays scan-shaped at any corpus size. Ties at
    * the threshold are kept (deterministic; actual kept fraction can
    * slightly exceed `fraction` when weights tie). */
  def selectTopFraction(raw: DataFrame, target: DataFrame, idCol: String,
                        textCol: String, fraction: Double,
                        buckets: Int = 65536): DataFrame = Checkpoints.scoped {
    require(fraction > 0 && fraction <= 1, s"fraction $fraction out of (0,1]")
    // checkpoint: the weight table feeds BOTH the percentile action and
    // the returned filter — without it the corpus-sized scoring pipeline
    // would execute twice
    val w = Checkpoints.local(importanceWeights(raw, target, idCol, textCol, buckets))
    val cut = w.agg(graft.functions.ExactPercentiles.exactPercentiles(
      col("dsir_weight"), Seq(1.0 - fraction)).as("q"))
      .select(element_at(col("q"), 1)).first().getDouble(0)
    w.filter(col("dsir_weight") >= lit(cut))
  }
}
