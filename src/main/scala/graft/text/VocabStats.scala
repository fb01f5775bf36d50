package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Vocabulary-design read-outs for tokenizer construction: how much
  * of the corpus a top-k vocabulary covers, and what a held-out split
  * loses to OOV. Both ride the term-frequency table (one
  * map-combinable tokenize groupBy); the coverage curve needs NO
  * vocabulary sort — it works on the DISTINCT-FREQUENCY frame
  * (metadata-sized: corpus frequencies repeat heavily), where the
  * top-k boundary is a threshold scan plus an exact partial-tier
  * adjustment.
  */
object VocabStats {

  /** Coverage of a top-k frequency-ranked vocabulary for each k:
    * share of TOKEN INSTANCES covered by the k most frequent terms
    * (ties at the boundary take the deterministic partial share
    * k_remaining · f_boundary). Returns (k, n_terms_total, n_tokens,
    * coverage 6dp) — one row per requested k. */
  def vocabCoverage(docs: DataFrame, textCol: String,
                    ks: Seq[Int]): DataFrame = {
    val tf = docs.select(explode(Text.tokens(col(textCol))).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as("__f"))
    // distinct-frequency tiers: (f, n_terms at f) — metadata-sized
    val tiers = tf.groupBy("__f").agg(count(lit(1)).as("__nt"))
    val tot = tiers.agg(sum("__nt").as("__terms"),
      sum(col("__f") * col("__nt")).as("__tokens"))
    val kFrame = docs.sparkSession.createDataFrame(
      ks.map(k => Tuple1(k))).toDF("k")
    // for each k: mass of tiers STRICTLY above the boundary frequency
    // plus the partial boundary tier. Boundary f* = the largest f such
    // that #terms(freq > f) < k <= #terms(freq >= f).
    val above = tiers.select(col("__f").as("__fb"))
      .join(tiers, col("__f") > col("__fb"))
      .groupBy("__fb")
      .agg(sum("__nt").as("__ctAbove"),
        sum(col("__f") * col("__nt")).as("__massAbove"))
    val bounds = tiers.select(col("__f").as("__fb"),
        col("__nt").as("__ntb"))
      .join(above, Seq("__fb"), "left")
      .select(col("__fb"), col("__ntb"),
        coalesce(col("__ctAbove"), lit(0L)).as("__ca"),
        coalesce(col("__massAbove"), lit(0L)).as("__ma"))
    kFrame.join(broadcast(bounds),
        col("__ca") < col("k") &&
          col("k") <= col("__ca") + col("__ntb"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("__terms").as("n_terms_total"),
        col("__tokens").as("n_tokens"),
        round((col("__ma") + (col("k") - col("__ca")) * col("__fb"))
          .cast("double") / col("__tokens"), 6).as("coverage"))
      .unionByName(
        // k beyond the vocabulary covers everything
        kFrame.crossJoin(broadcast(tot))
          .filter(col("k") > col("__terms"))
          .select(col("k"), col("__terms").as("n_terms_total"),
            col("__tokens").as("n_tokens"),
            lit(1.0).as("coverage")))
      .orderBy("k")
  }

  /** OOV audit of a held-out split against the train vocabulary:
    * token-INSTANCE and token-TYPE OOV rates for eval docs — the
    * tokenizer-level companion to the q378 contamination audit (that
    * one asks "did eval leak into train", this one "does train even
    * speak eval's language"). Train vocab is the distinct-term frame;
    * the hit test one left join. Returns one row:
    * (n_eval_tokens, n_eval_types, oov_token_rate 6dp,
    * oov_type_rate 6dp). */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
              isEval: org.apache.spark.sql.Column): DataFrame = {
    val toks = docs.select(isEval.as("__e"),
      explode(Text.tokens(col(textCol))).as("__t"))
    val trainVocab = toks.filter(!col("__e")).select("__t").distinct()
      .withColumn("__hit", lit(1L))
    val ev = toks.filter(col("__e"))
      .groupBy("__t").agg(count(lit(1)).as("__c"))
      .join(trainVocab, Seq("__t"), "left")
    ev.agg(sum("__c").as("n_eval_tokens"),
      count(lit(1)).as("n_eval_types"),
      round(sum(when(col("__hit").isNull, col("__c")).otherwise(0L))
        .cast("double") / sum("__c"), 6).as("oov_token_rate"),
      round(sum(when(col("__hit").isNull, 1L).otherwise(0L))
        .cast("double") / count(lit(1)), 6).as("oov_type_rate"))
  }
}
