package graft.proximity

import graft.core.TopK
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: fuse a dense (embedding ANN) ranking with a sparse
  * (BM25 lexical) ranking via Reciprocal Rank Fusion
  * (Cormack, Clarke & Büttcher 2009):
  *
  *   rrf(q, d) = Σ_lists 1 / (k0 + rank_list(q, d))
  *
  * — the standard un-tuned fusion for hybrid search and hard-negative
  * mining: no score calibration between lists is needed because only
  * RANKS enter the sum, and a document missing from one list simply
  * contributes nothing.
  *
  * Scale shape: both input rankings are already top-k per query
  * (query-count × k rows — retrieval-output-sized, NOT corpus-sized);
  * the fusion is one full-outer join on (query, doc) + a per-query
  * top-k window over ≤ 2k candidates. Nothing here touches the corpus.
  */
object Hybrid {

  /** Fuse two per-query rankings. Inputs need columns
    * (queryCol, docCol, rankCol) with rank 1 = best; output is
    * (queryCol, docCol, rrf_score 6dp, rank ≤ k) with ties broken by
    * doc id for engine-stable output.
    */
  def rrfFuse(dense: DataFrame, sparse: DataFrame,
              queryCol: String, docCol: String, rankCol: String,
              k: Int, k0: Int = 60): DataFrame = {
    val d = dense.select(col(queryCol), col(docCol), col(rankCol).as("__rd"))
    val s = sparse.select(col(queryCol), col(docCol), col(rankCol).as("__rs"))
    val fused = d.join(s, Seq(queryCol, docCol), "full_outer")
      .select(col(queryCol), col(docCol),
        round(
          coalesce(lit(1.0) / (lit(k0) + col("__rd")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col("__rs")), lit(0.0)), 6).as("rrf_score"))
    TopK(fused, Seq(col(queryCol)), Seq(desc("rrf_score"), asc(docCol)), k, Some("rank"))
  }

  /** End-to-end hybrid search over a corpus with aligned text and
    * embedding tables (docId ↔ vecId): dense brute/ANN cosine top-n
    * + BM25 top-n, RRF-fused to top-k per query. Queries supply both a
    * text and an embedding under the same query id.
    */
  def hybridSearch(docs: DataFrame, docIdCol: String, textCol: String,
                   vecs: DataFrame, vecIdCol: String, vecCol: String,
                   queries: DataFrame, qIdCol: String, qTextCol: String, qVecCol: String,
                   k: Int, perList: Int = 20, k0: Int = 60): DataFrame = {
    val denseHits = Proximity.cosineTopK(
        queries.select(col(qIdCol).as("__qid"), col(qVecCol).as(vecCol)),
        vecs.select(col(vecIdCol).as("__qid"), col(vecCol)),
        "__qid", vecCol, perList)
      .select(col("id").as("qid"), col("neighbor_id").as("doc_id"), col("similarity"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("similarity"), asc("doc_id"))))
    val sparseHits = graft.text.Bm25.search(
      docs, docIdCol, textCol,
      queries.select(col(qIdCol).as("qid"), col(qTextCol).as("__qt")),
      "qid", "__qt", perList)
      .withColumnRenamed(docIdCol, "doc_id")
    rrfFuse(denseHits.select("qid", "doc_id", "rank"),
      sparseHits.select("qid", "doc_id", "rank"),
      "qid", "doc_id", "rank", k, k0)
  }
}
