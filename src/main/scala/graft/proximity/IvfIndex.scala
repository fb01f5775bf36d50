package graft.proximity

import graft.core.{Checkpoints, TopK}
import graft.proximity.Proximity.toD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTENT IVF (inverted-file) ANN index over an embedding column —
  * the repeated-query form of [[Proximity.cosineTopKIvf]] (which fits
  * its quantizer per call: right for one-shot joins, wasteful for a
  * serving/eval loop that probes the same corpus thousands of times).
  *
  * Layout on disk:
  *   `<path>/centroids/` — nCells rows (cell id, centroid vector)
  *   `<path>/vectors/`   — the corpus, hive-PARTITIONED BY cell id
  *
  * The partitioning is the scale story: a query batch probing `nProbe`
  * of `nCells` cells reads only those directories — the parquet scan's
  * PartitionFilters prune the other (nCells − nProbe)/nCells of the
  * corpus before a single byte is read. Probe cells are chosen against
  * the broadcast centroid frame; the candidate match is a
  * hash-partitioned equi-join on cell id. Build scans the corpus once
  * (quantizer fits on a bounded hash-ordered sample, same rationale as
  * cosineTopKIvf).
  */
object IvfIndex {

  /** Fit the quantizer ([[Proximity.fitQuantizer]] — bounded
    * hash-ordered sample) and materialize the index at `path`. */
  def build(refs: DataFrame, idCol: String, vecCol: String, path: String,
            nCells: Int = 16, seed: Long = 42L): Unit = {
    import org.apache.spark.ml.functions.array_to_vector
    val r = refs.select(col(idCol).as("id"), toD(col(vecCol)).as("vec"))
    val (km, cents) = Proximity.fitQuantizer(r, nCells, seed)
    cents.select(col("__cell").as("cell"), col("__centroid").as("centroid"))
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    km.transform(r.withColumn("__vec", array_to_vector(col("vec"))))
      .select(col("id"), col("vec"), col("__cell").as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/vectors")
  }

  /** Grow a built index WITHOUT refitting: assign new vectors to their
    * nearest stored centroid (euclidean, matching KMeans.transform's
    * assignment rule; deterministic tie-break by cell id) and append
    * them to the cell partitions. The quantizer ages as the corpus
    * drifts — rebuild when probe recall degrades; until then append is
    * one broadcast join + one partitioned append, no KMeans pass. */
  def append(spark: SparkSession, path: String, refs: DataFrame,
             idCol: String, vecCol: String): Unit = {
    val cents = broadcast(spark.read.parquet(s"$path/centroids"))
    val r = refs.select(col(idCol).as("id"), toD(col(vecCol)).as("vec"))
    TopK(r.crossJoin(cents)
        .withColumn("__d", Proximity.euclidean(col("vec"), col("centroid"))),
      Seq(col("id")), Seq(asc("__d"), asc("cell")), 1)
      .select(col("id"), col("vec"), col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/vectors")
  }

  /** Top-k cosine neighbors from a built index. Probe cells are picked
    * against the broadcast centroid frame; the distinct probed-cell set
    * (≤ nCells values — metadata) becomes a STATIC `IN` filter on the
    * vectors read, so partition pruning happens at plan time, no DPP
    * required. Self-matches (same id) are excluded. */
  def query(spark: SparkSession, path: String, queries: DataFrame,
            idCol: String, vecCol: String, k: Int,
            nProbe: Int = 4): DataFrame = Checkpoints.scoped {
    val q = queries.select(col(idCol).as("id"), toD(col(vecCol)).as("__qv"))
    // materialize the probe assignment ONCE: the driver-side probed-cell
    // collect and the final join both consume it, and without the
    // checkpoint the queries×centroids crossJoin + per-id rank window
    // (the most expensive pre-join stage) would execute twice — and a
    // nondeterministic queries frame could drift between the two runs,
    // probing cells outside the collected IN-filter snapshot
    val qCells = Checkpoints.local(Proximity.probeCells(q,
      spark.read.parquet(s"$path/centroids"), nProbe))
    val probed = qCells.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    val vecs = spark.read.parquet(s"$path/vectors")
      .filter(col("cell").isin(probed.toIndexedSeq: _*))
      .select(col("id").as("neighbor_id"), col("vec"), col("cell"))
    Proximity.keepBest(qCells.join(vecs, Seq("cell"))
      .filter(col("id") =!= col("neighbor_id"))
      .select(col("id"), col("neighbor_id"),
        Proximity.cosine(col("__qv"), col("vec")).as("similarity")),
      desc("similarity"), k)
  }
}
