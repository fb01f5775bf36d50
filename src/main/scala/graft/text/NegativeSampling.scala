package graft.text

import graft.core.TopK
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic negative sampling for contrastive / retrieval
  * training pairs: every anchor document draws K pseudo-random
  * negatives from the corpus, excluding itself and its own source
  * (in-source "negatives" are frequently near-positives). The draw is
  * an md5 ORDER, not an RNG, so any engine — and any rerun — produces
  * the identical pair table (the q56/q105 portable-hash discipline).
  *
  * Scale design: anchors never meet the whole corpus. Candidates are
  * sharded into B hex buckets by md5(id); each anchor probes exactly
  * ONE bucket (chosen by its own salted hash), so the join is a plain
  * equi-join with per-anchor fan-out corpus/B, and K-of-bucket
  * selection is a bucket-local row_number window — partitioned by
  * anchor, never global. B is ADAPTIVE (round-13 100×-sweep lesson:
  * a fixed B=16 makes total join width A·N/16 — quadratic in corpus;
  * the full-suite 100× certification read 650 s where every sibling
  * was sublinear): the shard key widens to 2 or 3 hex digits as the
  * estimated candidate count grows, holding the per-anchor pool near
  * `poolTarget` rows, so total work is O(anchors · poolTarget) at any
  * corpus size. The estimate comes from Catalyst plan statistics —
  * an UNDERestimate routes to fewer digits (wider pools: slower,
  * never dry), the safe direction; no probe job at any scale.
  */
object NegativeSampling {

  /** Hex-digit count holding corpus/16^d near `poolTarget`, clamped to
    * [1, 3] (16 / 256 / 4096 buckets). Pools stay ≥ poolTarget/16 even
    * one digit past the exact cut — far above the k ≤ 100 draw. */
  private[graft] def hexDigitsFor(estRows: Double, poolTarget: Int): Int =
    math.min(3, math.max(1,
      math.ceil(math.log(math.max(estRows, 1.0) / poolTarget) /
        math.log(16)).toInt))

  /** (anchor_id, neg_rank, neg_id, neg_source) with `k` rows per
    * anchor — fewer only if the probed bucket runs dry after the
    * self/source exclusions. Bucket count adapts 16→256→4096 with the
    * estimated corpus size (see object doc); at the oracle scales
    * (sf ≤ 0.1) the estimate stays below 16·poolTarget, so the shard
    * key is the oracle twin's single hex digit.
    */
  def sampleNegatives(docs: DataFrame, idCol: String, sourceCol: String,
                      anchors: DataFrame, k: Int,
                      poolTarget: Int = 4096): DataFrame = {
    require(k >= 1 && k <= 100, s"k $k out of range")
    val slim = docs.select(col(idCol), col(sourceCol))
    val st = slim.queryExecution.optimizedPlan.stats
    // ~48 B/row for the pruned (id, source) projection: conservative —
    // compressed parquet underestimates rows → fewer digits → wider
    // pools, the never-dry direction
    val est = st.rowCount.map(_.toDouble)
      .getOrElse(st.sizeInBytes.toDouble / 48.0)
    val digits = hexDigitsFor(est, poolTarget)
    graft.core.Routing.record("neg-sample", s"hex$digits", -1)
    def hexd(c: Column, salt: String): Column =
      substring(md5(concat(c.cast("string"), lit(salt))), 1, digits)
    val cand = docs.select(col(idCol).as("__cid"),
      col(sourceCol).as("neg_source"),
      hexd(col(idCol), "").as("__b"))
    val anc = anchors.select(col(idCol).as("anchor_id"),
      col(sourceCol).as("__asrc"),
      hexd(col(idCol), ":probe").as("__b"))
    TopK(anc.join(cand, "__b")
        .filter(col("__cid") =!= col("anchor_id") &&
          col("neg_source") =!= col("__asrc"))
        .withColumn("__draw",
          md5(concat(col("anchor_id").cast("string"), lit(":"),
            col("__cid").cast("string")))),
      Seq(col("anchor_id")), Seq(col("__draw"), col("__cid")), k, Some("neg_rank"))
      .select(col("anchor_id"), col("neg_rank"), col("__cid").as("neg_id"),
        col("neg_source"))
  }
}
