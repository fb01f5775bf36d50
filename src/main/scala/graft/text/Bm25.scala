package graft.text

import graft.core.TopK
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 sparse retrieval (Robertson–Spärck Jones): score corpus documents
  * against query strings through an inverted term join — the classic
  * lexical retriever a data pipeline runs next to the dense (ANN) path
  * for hybrid search and hard-negative mining.
  *
  *   score(q, d) = Σ_{t ∈ q} idf(t) · tf(t,d)·(k1+1) /
  *                 (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
  *   idf(t) = ln( (N − df(t) + 0.5) / (df(t) + 0.5) + 1 )   (Lucene form)
  *
  * Scale shape (100 TB corpus): the postings table (term, doc, tf) is one
  * explode + map-side-combined groupBy; scoring joins postings to query
  * terms ON THE TERM — the fan-out is bounded by matching postings, never
  * |Q|×|D|. Query terms are deduplicated (standard bag-of-words BM25
  * treats repeated query terms once) and the query side broadcasts.
  * Document stats (|d|, avgdl, df) are aggregates, no global sort.
  */
object Bm25 {

  /** Postings + doc-length tables: (term, doc id, tf) and (doc id, len). */
  def index(docs: DataFrame, idCol: String, textCol: String): (DataFrame, DataFrame) = {
    val tokens = docs.select(col(idCol), explode(Text.tokens(col(textCol))).as("term"))
    val postings = tokens.groupBy("term", idCol).agg(count(lit(1)).as("tf"))
    val docLen = tokens.groupBy(idCol).agg(count(lit(1)).as("dl"))
    (postings, docLen)
  }

  /** Top-k BM25 hits per query. Queries: (queryIdCol, queryTextCol).
    * Returns (query id, doc id, bm25 score, rank ≤ k); ties break by doc
    * id for determinism. */
  def search(docs: DataFrame, idCol: String, textCol: String,
             queries: DataFrame, queryIdCol: String, queryTextCol: String,
             k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (postings, docLen) = index(docs, idCol, textCol)
    val n = docLen.count().toDouble
    if (n == 0) // empty corpus: no postings, no hits — schema-correct empty
      return docs.sparkSession.range(0).select(
        lit(0L).as(queryIdCol), lit(0L).as(idCol),
        lit(0.0).as("bm25"), lit(0).as("rank"))
    val avgdl = docLen.agg(avg("dl")).first().getDouble(0)
    val df = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = df.select(col("term"),
      log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0).as("idf"))
    val qTerms = queries.select(col(queryIdCol),
        explode(Text.tokens(col(queryTextCol))).as("term"))
      .distinct() // bag-of-words: repeated query terms count once
    val scored = postings
      .join(broadcast(qTerms), Seq("term"))
      .join(broadcast(idf), Seq("term"))
      .join(docLen, Seq(idCol))
      .select(col(queryIdCol), col(idCol),
        (col("idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
          .as("__s"))
      .groupBy(queryIdCol, idCol)
      // 6dp rounding BEFORE ranking: duplicate documents score equal by
      // math but can differ by float-summation order — rounding collapses
      // them so the (score, id) tie-break is engine-stable
      .agg(round(sum("__s"), 6).as("bm25"))
    TopK(scored, Seq(col(queryIdCol)), Seq(col("bm25").desc, col(idCol).asc), k,
      Some("rank"))
  }
}
