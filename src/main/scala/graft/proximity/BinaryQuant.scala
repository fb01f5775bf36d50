package graft.proximity

import graft.core.{Checkpoints, TopK}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Binary quantization for embedding search: per-dimension sign bits
  * packed into 32-bit words, Hamming distance via XOR + popcount — the
  * 32×-memory-cut representation that makes a 100 TB embedding corpus
  * fit the aggregate RAM of a cluster (each 64-dim float vector
  * becomes two longs). The quantized distance is a candidate-
  * generation metric: rerank survivors with exact cosine
  * ([[Proximity.cosineTopK]]) when ordering beyond the top bucket
  * matters.
  *
  * Threshold choice: per-dimension MIDRANGE (min+max)/2 — min/max are
  * order-independent aggregates and the midpoint is one IEEE add+mul,
  * so the bit assignment is bit-identical on any engine and any
  * partitioning (a mean threshold would depend on float summation
  * order; a median on percentile interpolation conventions).
  *
  * Scale shape: thresholds are one wide min/max aggregate (64 columns,
  * one pass, no explode); packing is a per-row fold (codegen'd higher-
  * order functions, no shuffle); the top-k probe broadcasts the packed
  * QUERY side and windows per query — the bounded-query KNN-join shape
  * of `Proximity.cosineTopK`. For self-join near-dup at corpus scale,
  * band the words SimHash-style (`dedup/Dedup.simHashPairs`) instead
  * of probing.
  */
object BinaryQuant {

  private[graft] def nWords(dim: Int) = (dim + 31) / 32

  /** Pack `vecCol` (numeric array, fixed length `dim`) into
    * ceil(dim/32) sign-bit words against the corpus midrange
    * thresholds. Word j covers dims j·32+1 .. j·32+32 (1-based), first
    * dim at the word's MSB: w = foldₗ(acc·2 + bit). Returns
    * (idCol, w0..w{n−1}) plus a `__thr` threshold array column on the
    * side frame — callers drop it; [[hammingTopK]] reuses it. */
  def packBits(corpus: DataFrame, idCol: String, vecCol: String,
               dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val v = (d: Int) => element_at(col(vecCol), d).cast("double")
    val thr = corpus.agg(array((1 to dim).map(d =>
      (min(v(d)) + max(v(d))) / 2): _*).as("__thr"))
    val words = (0 until nWords(dim)).map { j =>
      val lo = j * 32 + 1
      val hi = math.min(dim, j * 32 + 32)
      aggregate(sequence(lit(lo), lit(hi)), lit(0L),
        (acc, d) => acc * 2 + when(
          element_at(col(vecCol), d.cast("int")).cast("double") >
            element_at(col("__thr"), d.cast("int")), 1L).otherwise(0L))
        .as(s"w$j")
    }
    corpus.crossJoin(broadcast(thr))
      .select(col(idCol) +: words :+ col("__thr"): _*)
  }

  /** Hamming top-k: for every id in `queryIds` (a one-column frame,
    * expected bounded — it is broadcast), the k nearest corpus vectors
    * by packed-bit Hamming distance, ties broken by candidate id.
    * Self-matches excluded. Entirely integer arithmetic — exactly
    * reproducible. Returns (query_id, cand_id, hamming, rank). */
  def hammingTopK(corpus: DataFrame, queryIds: DataFrame, idCol: String,
                  vecCol: String, dim: Int, k: Int = 10): DataFrame = Checkpoints.scoped {
    require(k >= 1, s"k must be >= 1, got $k")
    val packed = Checkpoints.local(packBits(corpus, idCol, vecCol, dim).drop("__thr"))
    val n = nWords(dim)
    val q = packed.join(
        broadcast(queryIds.select(col(queryIds.columns.head).as(idCol))),
        idCol)
      .select(col(idCol).as("query_id") +:
        (0 until n).map(j => col(s"w$j").as(s"q$j")): _*)
    val ham = (0 until n).map(j =>
      bit_count(col(s"q$j").bitwiseXOR(col(s"w$j"))))
      .reduce(_ + _)
    Checkpoints.local(TopK(packed.crossJoin(broadcast(q))
        .filter(col("query_id") =!= col(idCol))
        .select(col("query_id"), col(idCol).as("cand_id"),
          ham.cast("int").as("hamming")),
      Seq(col("query_id")), Seq(col("hamming").asc, col("cand_id").asc), k, Some("rank")))
  }
}
