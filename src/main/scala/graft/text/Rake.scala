package graft.text

import graft.core.TopK
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** RAKE — Rapid Automatic Keyword Extraction (Rose, Engel, Cramer &
  * Cowley 2010) — per source. Candidate phrases are maximal runs of
  * non-stopword tokens (the text split at stopword positions); each
  * word scores deg(w)/freq(w) where freq counts the word's occurrences
  * across phrase instances and deg additionally credits the length of
  * every phrase it appears in (words that live in long multi-word
  * phrases out-score words that appear alone); a phrase scores the sum
  * of its word scores. The classic lightweight alternative to
  * [[TfIdf]]/[[Distinctive]] term scoring: it surfaces multi-word
  * domain phrases ("hash join order") instead of single tokens.
  *
  * Determinism discipline: word scores live on the MILLIONTHS integer
  * lattice — score₆(w) = (10⁶ · deg) div freq, phrase score the exact
  * integer sum of its word scores — so cross-engine ranking never
  * depends on float summation order (deg, freq > 0, so div == floor
  * division on both engines). The reported score is score₆ / 10⁶.
  *
  * Scale shape at 100 TB: phrase extraction is per-row array work (no
  * shuffle); instances aggregate to (source, phrase) cells in the one
  * corpus-scale shuffle; word stats and the score join are cell-sized
  * (bounded by |vocab| and |distinct phrases|); top-k is a per-source
  * window over cells.
  */
object Rake {

  /** Candidate phrase array for one text column: stopwords become '|'
    * markers, the token stream re-joins and splits at the markers, and
    * runs of 1..maxLen non-stop words survive. */
  def phraseArray(t: Column, lang: String = "en",
                  maxLen: Int = 4): Column = {
    val sw = array(Text.stopwords(lang).map(lit): _*)
    val marked = transform(Text.tokens(t), w =>
      when(array_contains(sw, w), lit("|")).otherwise(w))
    filter(
      transform(split(concat_ws(" ", marked), "\\|"), p => trim(p)),
      p => length(p) > 0 &&
        size(split(p, " ")) <= maxLen)
  }

  /** Top-`topK` RAKE phrases per source. Returns
    * (source, phrase, n_words, n_occurrences, score 6dp, rank). */
  def keywordsBySource(docs: DataFrame, srcCol: String, textCol: String,
                       lang: String = "en", maxLen: Int = 4,
                       topK: Int = 10): DataFrame = {
    val inst = docs.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("source"),
        explode(phraseArray(col(textCol), lang, maxLen)).as("phrase"))
    val cells = inst.groupBy("source", "phrase")
      .agg(count(lit(1)).as("n_occurrences"))
      .withColumn("__words", split(col("phrase"), " "))
      .withColumn("__plen", size(col("__words")).cast("long"))
    val pw = cells.select(col("source"), col("phrase"),
      col("n_occurrences"), col("__plen"),
      explode(col("__words")).as("__w"))
    val wstats = pw.groupBy("source", "__w")
      .agg(sum(col("n_occurrences")).as("__freq"),
        sum(col("n_occurrences") * col("__plen")).as("__deg"))
      // millionths lattice: integer floor-div (deg, freq > 0)
      .withColumn("__ws", expr("(1000000 * __deg) div __freq"))
    val scored = pw.join(wstats, Seq("source", "__w"))
      .groupBy("source", "phrase")
      .agg(min("__plen").as("n_words"),
        min("n_occurrences").as("n_occurrences"),
        sum("__ws").as("__s6"))
    TopK(scored, Seq(col("source")), Seq(col("__s6").desc, col("phrase")), topK,
        Some("rank"))
      .select(col("source"), col("phrase"), col("n_words"),
        col("n_occurrences"),
        round(col("__s6").cast("double") / 1e6, 6).as("score"),
        col("rank"))
      .orderBy("source", "rank")
  }
}
