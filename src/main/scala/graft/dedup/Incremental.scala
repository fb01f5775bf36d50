package graft.dedup

import graft.core.Checkpoints
import graft.text.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental exact dedup against a PERSISTENT fingerprint store —
  * the daily-increment shape of [[Dedup.exactDedup]]: a pipeline that
  * ingests a new batch every day must drop documents already shipped
  * in ANY previous batch without rescanning the old corpus text, only
  * its fingerprints (beyond the reference's operator set — north-star
  * scope; the streaming twin is `streaming/Streaming.scala`'s
  * exactly-once store dedup, this is the batch/backfill form).
  *
  * Store layout: parquet of (fingerprint, id, batch_id), hive-
  * partitioned by `fp_bucket` — the first two hex chars of the
  * fingerprint (256 buckets). Both the store scan and the new batch
  * hash-partition on the same fingerprint values, so the anti-join is
  * a plain shuffled equi-join whose store side reads only fingerprint
  * columns (column pruning) — at 100 TB the store is ~2% the corpus
  * bytes (one md5 + one id per document), and bucket partitioning
  * keeps any future targeted probe (one batch's buckets) pruned at
  * plan time.
  *
  * Idempotence: [[ingest]] with an already-recorded `batchId` first
  * removes that batch's rows (dynamic partition overwrite would also
  * work but rewrites whole buckets; the delete-free path is to just
  * not re-ingest — callers get [[hasBatch]] to check).
  */
object Incremental {

  private def fp(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fingerprint", Text.fingerprint(col(textCol)))

  /** The batch rows that survive: fingerprint seen in neither the
    * store nor earlier in this batch (first occurrence by ascending
    * id). Pure read — the store is not modified. Output schema =
    * input schema. */
  def newDocuments(spark: SparkSession, batch: DataFrame, idCol: String,
                   textCol: String, storePath: String): DataFrame = {
    val withFp = fp(batch, idCol, textCol)
    val unseen =
      if (storeExists(spark, storePath)) {
        val store = spark.read.parquet(storePath).select("fingerprint")
        withFp.join(store, Seq("fingerprint"), "left_anti")
      } else withFp
    // first occurrence within the batch: one groupBy on the fingerprint
    // (same shuffle key as the anti-join — AQE coalesces, no extra
    // exchange pattern), then a semi-join back
    val keep = unseen.groupBy("fingerprint")
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    batch.join(keep, Seq(idCol), "left_semi")
  }

  /** Record a batch's (deduped) fingerprints in the store. Call with
    * the [[newDocuments]] survivors — recording the full batch would
    * also be correct (duplicate fingerprints in the store only cost
    * bytes, the anti-join semantics don't change) but wasteful. */
  def ingest(spark: SparkSession, survivors: DataFrame, idCol: String,
             textCol: String, storePath: String, batchId: String): Unit = {
    require(!hasBatch(spark, storePath, batchId),
      s"batch '$batchId' already ingested at $storePath — refusing to double-record")
    fp(survivors, idCol, textCol)
      .select(col("fingerprint"), col(idCol).cast("long").as("id"),
        lit(batchId).as("batch_id"),
        substring(col("fingerprint"), 1, 2).as("fp_bucket"))
      .write.mode("append").partitionBy("fp_bucket").parquet(storePath)
  }

  /** [[newDocuments]] + [[ingest]] in one call: dedupe the batch
    * against history, record what survived, return the survivors. */
  def dedupAndIngest(spark: SparkSession, batch: DataFrame, idCol: String,
                     textCol: String, storePath: String,
                     batchId: String): DataFrame = Checkpoints.scoped {
    // pin BEFORE the store grows: survivors' anti-join must read the
    // store as it was, not re-plan lazily against the just-appended
    // fingerprints (which would drop everything on a second action)
    val survivors = Checkpoints.local(newDocuments(spark, batch, idCol, textCol, storePath))
    ingest(spark, survivors, idCol, textCol, storePath, batchId)
    survivors
  }

  def storeExists(spark: SparkSession, storePath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(storePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  def hasBatch(spark: SparkSession, storePath: String, batchId: String): Boolean =
    storeExists(spark, storePath) &&
      !spark.read.parquet(storePath)
        .filter(col("batch_id") === batchId).isEmpty
}
