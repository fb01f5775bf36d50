package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Term-burst detection across corpus batches: which terms are
  * suddenly over-represented in one ingestion batch relative to the
  * rest of the corpus? The leave-one-out two-proportion z-test per
  * (term, batch) — the monitoring twin of q210's static distinctive
  * terms, and the first alarm for a poisoned/templated crawl batch
  * before it reaches training.
  */
object Bursts {

  /** Per (batch, term): token counts in-batch vs all OTHER batches,
    * rate ratio and the pooled two-proportion z. Leave-one-out (batch
    * vs rest) rather than batch-vs-previous so batches need no order
    * and every scale factor produces output.
    *
    * ONE tokenize+explode pass collapses the corpus to the (term,
    * batch) count frame (map-combinable); term totals and batch
    * volumes ride that frame — no second corpus pass. Only bursts
    * with in-batch count ≥ `minCount` and z > 0 (over-represented)
    * return. Returns (batch, term, n_in, n_rest, rate_in, rate_rest,
    * z_burst) 6dp. */
  def termBursts(df: DataFrame, batchCol: String, textCol: String,
                 minCount: Long = 10): DataFrame = {
    val tb = df.select(col(batchCol).as("batch"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("batch", "term").agg(count(lit(1)).as("n"))
    val batchVol = tb.groupBy("batch").agg(sum("n").as("__nb"))
    val termTot = tb.groupBy("term").agg(sum("n").as("__nt"))
    val corpus = batchVol.agg(sum("__nb").as("__nAll"))
    val j = tb.join(batchVol, Seq("batch")).join(termTot, Seq("term"))
      .crossJoin(corpus)
    val nIn = col("n").cast("double")
    val nbIn = col("__nb").cast("double")
    val nRest = (col("__nt") - col("n")).cast("double")
    val nbRest = (col("__nAll") - col("__nb")).cast("double")
    val pIn = nIn / nbIn
    val pRest = nRest / nbRest
    val pPool = col("__nt").cast("double") / col("__nAll")
    val z = (pIn - pRest) /
      sqrt(pPool * (lit(1.0) - pPool) * (lit(1.0) / nbIn + lit(1.0) / nbRest))
    j.filter(col("n") >= minCount && nbRest > 0)
      .select(col("batch"), col("term"), col("n").as("n_in"),
        (col("__nt") - col("n")).as("n_rest"),
        round(pIn, 6).as("rate_in"), round(pRest, 6).as("rate_rest"),
        round(z, 6).as("z_burst"))
      .filter(col("z_burst") > 0)
  }

  /** Term BURSTINESS across documents (Church & Gale): for each term,
    * collection frequency cf vs document frequency df. burstiness =
    * cf/df (mean occurrences per containing doc) and the clumping
    * ratio df_poisson/df, where df_poisson = n_docs·(1−exp(−cf/n_docs))
    * is the doc frequency a Poisson scatter of the same cf would give
    * — clumping ≫ 1 marks templated/boilerplate terms that pile into
    * few docs (scrub candidates), ≈1 marks evenly-used vocabulary.
    *
    * Scale shape: ONE tokenize pass → per-(doc, term) counts
    * (map-combinable) → one term-level aggregate; n_docs rides as a
    * broadcast scalar. Returns the top-`topK` by (burstiness desc,
    * term) among terms with cf ≥ `minCf`: (term, cf, df,
    * burstiness 6dp, clumping 6dp). */
  def termBurstiness(df: DataFrame, idCol: String, textCol: String,
                     minCf: Long = 20, topK: Int = 20): DataFrame = {
    val dt = df.select(col(idCol).as("__doc"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("__doc", "term").agg(count(lit(1)).as("__c"))
    val nDocs = df.select(col(idCol)).distinct().count()
    val t = dt.groupBy("term")
      .agg(sum("__c").as("cf"), count(lit(1)).as("df"))
      .filter(col("cf") >= minCf)
    val dfPoisson = lit(nDocs.toDouble) *
      (lit(1.0) - exp(-col("cf").cast("double") / nDocs))
    t.select(col("term"), col("cf"), col("df"),
        round(col("cf").cast("double") / col("df"), 6).as("burstiness"),
        round(dfPoisson / col("df"), 6).as("clumping"))
      .orderBy(col("burstiness").desc, col("term")).limit(topK)
  }
}
