package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-quality metrics over a scored run: per query
  * precision@k, recall@k, reciprocal rank, average precision and
  * NDCG@k against binary relevance labels — the offline eval pack a
  * retrieval/RAG pipeline reads after every index or embedding change
  * (complements the retrieval operators `proximity/Hybrid.scala`,
  * `text/Bm25.scala`, which produce the runs this grades).
  *
  * Scale shape: ranks come from ONE per-query window over the run
  * frame (runs are #queries × depth, already far smaller than the
  * corpus), per-query metrics from one groupBy; the IDCG lookup is a
  * k-row table joined broadcast. Nothing here touches the corpus.
  */
object RankingMetrics {

  /** Evaluate a run frame: one row per (query, doc) with a score and a
    * 0/1 relevance label. Ranks are assigned by (score desc, doc asc)
    * — the doc tiebreak makes the ranking reproducible across engines.
    * Queries with no relevant doc emit null recall/AP/NDCG and rr = 0
    * (trec_eval convention). Returns one row per query:
    * (query, n_docs, n_rel, p_at_k, r_at_k, rr, ap, ndcg_at_k),
    * floats 6dp. */
  def evaluate(runs: DataFrame, queryCol: String, docCol: String,
               scoreCol: String, relCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = runs.sparkSession
    val w = Window.partitionBy(col("__q"))
      .orderBy(col("__s").desc, col("__d").asc)
    val cum = Window.partitionBy(col("__q"))
      .orderBy(col("__s").desc, col("__d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = runs.select(col(queryCol).as("__q"), col(docCol).as("__d"),
        col(scoreCol).as("__s"), col(relCol).cast("int").as("__rel"))
      .withColumn("__rank", row_number().over(w))
      .withColumn("__cumrel", sum("__rel").over(cum))
    // IDCG@k depends only on n_rel: idcg(n) = Σ_{r≤min(k,n)} 1/log2(r+1)
    // — a k-row cumulative table, broadcast onto the per-query frame
    val ideals = spark.range(1, k + 1).toDF("__n")
      .withColumn("__idcg", sum(lit(1.0) / log2(col("__n") + 1))
        .over(Window.orderBy("__n")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perQ = ranked.groupBy(col("__q").as("query"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("__rel").cast("long").as("n_rel"),
        sum(when(col("__rank") <= k, col("__rel")).otherwise(lit(0)))
          .cast("double").as("__relk"),
        coalesce(max(when(col("__rel") === 1, lit(1.0) / col("__rank"))),
          lit(0.0)).as("__rr"),
        sum(when(col("__rel") === 1,
          col("__cumrel").cast("double") / col("__rank"))).as("__apnum"),
        sum(when(col("__rank") <= k && col("__rel") === 1,
          lit(1.0) / log2(col("__rank") + 1))).as("__dcg"))
    perQ.join(broadcast(ideals),
        least(col("n_rel"), lit(k.toLong)) === col("__n"), "left")
      .select(col("query"), col("n_docs"), col("n_rel"),
        round(col("__relk") / k, 6).as("p_at_k"),
        when(col("n_rel") > 0,
          round(col("__relk") / col("n_rel"), 6)).as("r_at_k"),
        round(col("__rr"), 6).as("rr"),
        when(col("n_rel") > 0,
          round(col("__apnum") / col("n_rel"), 6)).as("ap"),
        when(col("n_rel") > 0,
          round(coalesce(col("__dcg"), lit(0.0)) / col("__idcg"), 6))
          .as("ndcg_at_k"))
  }

  /** Top-k overlap between two runs (e.g. an ANN route vs the exact
    * kernel): per query |A ∩ B| / k — the recall@k harness that grades
    * every approximate index in the library (IVF, PQ, binary-quant)
    * against its exact twin. One equi-join on (query, doc) + one
    * groupBy; integer counts, exactly reproducible given the input
    * runs. Frames need columns (query, doc). Returns
    * (query, n_overlap, recall_at_k 6dp). */
  def overlapAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val a = approx.select(col("query"), col("doc"))
    val e = exact.select(col("query"), col("doc"))
    a.join(e, Seq("query", "doc"), "left_semi")
      .groupBy("query")
      .agg(count(lit(1)).as("n_overlap"))
      .join(a.select("query").distinct(), Seq("query"), "right")
      .select(col("query"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)) / lit(k.toDouble), 6)
          .as("recall_at_k"))
  }
}
