package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Statistical language-model quality scoring from the corpus itself —
  * the CCNet-style "perplexity filter" idea (beyond-reference,
  * north-star corpus-QA scope) without an external model: train a
  * bigram MLE with add-k smoothing ON the corpus, score text against
  * it. Gibberish, boilerplate and OCR noise sit far from the corpus
  * distribution and surface as high cross-entropy. */
object LmScore {

  /** Per-source bigram cross-entropy (bits/bigram): with corpus counts
    * C(a,b), C(a) and vocabulary size V,
    * H(source) = −(1/N_src) Σ log₂ (C(a,b)+k)/(C(a)+k·V)
    * over the source's bigram instances.
    *
    * Scale shape: ONE corpus-scale shuffle — bigram instances
    * aggregate straight to (source, bigram) cells; the corpus-level
    * bigram counts, context counts (C(a) = Σ_b C(a,b)) and the
    * count join all live at cell granularity, never instance
    * granularity (the first cut joined every bigram INSTANCE to its
    * counts and re-derived the corpus repeatedly — the plan audit
    * showed 10 parquet scans; this shape has 3). Per-instance ln
    * terms quantize to DECIMAL(28,9) and multiply by exact cell
    * counts before the source-level sum (identical to summing the
    * quantized term once per instance — order-free on any engine);
    * the bits conversion (÷ln 2) happens on the aggregate. Returns
    * (source, n_docs, n_bigrams, avg_bits 6dp) ordered. */
  def bigramCrossEntropy(docs: DataFrame, srcCol: String,
                         textCol: String, k: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("source"),
        Text.tokens(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= 2)
    // adjacent-pair bigrams in ONE pass (transform over the shifted
    // slice — the wordShingles construction, no self-join): the bigram
    // key is "a␁b", its context the first token
    val cells = toks.select(col("source"),
        explode(expr("transform(slice(__ws, 1, size(__ws) - 1), " +
          "(w, i) -> concat(w, '', element_at(__ws, i + 2)))"))
          .as("__bg"))
      .groupBy("source", "__bg").agg(count(lit(1)).as("__n"))
    val cBig = cells.groupBy("__bg").agg(sum("__n").as("__cab"))
    val cCtx = cBig
      .withColumn("__a", substring_index(col("__bg"), "", 1))
      .groupBy("__a").agg(sum("__cab").as("__ca"))
    // vocabulary from the corpus tokens (not from splitting bigram
    // keys — a token containing the separator would miscount)
    val vocab = toks.select(explode(col("__ws")).as("__w"))
      .agg(countDistinct("__w").as("__v"))
    val nDocs = toks.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val term = round(
      log((col("__cab") + k) / (col("__ca") + lit(k) * col("__v"))), 9)
      .cast(DecimalType(28, 9))
    cells
      .withColumn("__a", substring_index(col("__bg"), "", 1))
      .join(cBig, Seq("__bg"))
      .join(cCtx, Seq("__a"))
      .crossJoin(broadcast(vocab))
      .groupBy("source")
      .agg(sum("__n").as("n_bigrams"),
        sum(col("__n") * term).cast("double").as("__lnsum"))
      .join(broadcast(nDocs), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_bigrams"),
        round(-col("__lnsum") / col("n_bigrams") / math.log(2.0), 6)
          .as("avg_bits"))
      .orderBy("source")
  }
}
