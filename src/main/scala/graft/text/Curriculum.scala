package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Curriculum ordering for a training corpus: band documents by a
  * difficulty/quality score (easy → hard), then interleave sources
  * round-robin WITHIN each band so no contiguous training window is
  * single-source — the data-ordering step between curation
  * (`text/Pipelines.scala` funnels) and packing (`text/Packing.scala`),
  * cf. curriculum-learning (Bengio 2009) and the domain-interleave
  * practice of large-corpus training runs.
  *
  * Scale shape (VERDICT r12 item 2): banding routes through the
  * exact-ntile bucketed rank kernel ([[graft.ml.Metrics.bucketedNtile]]
  * — range-bucket + per-bucket row_number + integer tile arithmetic
  * above the statistics gate, plain ntile window below it), the
  * interleave is two windows PARTITIONED by (band, domain) / band, and
  * the global position is metadata arithmetic — per-band offsets
  * (≤nBands rows) plus the within-band rank — so no corpus-sized
  * single-partition window anywhere. The output position is what a
  * downstream writer sorts by; at cluster scale that is a
  * range-partitioned sort producing ordered shards, not a single-file
  * order.
  */
object Curriculum {

  /** Assign each doc a band (1 = easiest, by `scoreCol` ascending,
    * `idCol` tiebreak), a per-source rank within the band, and the
    * final global position: bands in order, and within a band docs in
    * (per-source rank, source) order — i.e. round-robin across
    * sources. Integer-rank arithmetic only — exactly reproducible.
    * Returns (id, domain, score, band, band_pos, global_pos). */
  def curriculumOrder(docs: DataFrame, idCol: String, scoreCol: String,
                      domainCol: String, nBands: Int = 4): DataFrame = {
    require(nBands >= 1, s"nBands must be >= 1, got $nBands")
    val bySource = Window.partitionBy(col("band"), col("domain"))
      .orderBy(col("score").asc, col("id").asc)
    val inBand = Window.partitionBy(col("band"))
      .orderBy(col("__sr").asc, col("domain").asc, col("id").asc)
    val banded = graft.ml.Metrics.bucketedNtile(
      docs.select(col(idCol).as("id"), col(domainCol).as("domain"),
        col(scoreCol).as("score")),
      "score", nBands, "band", tieCols = Seq(col("id")))
    val withPos = banded
      .withColumn("__sr", row_number().over(bySource))
      .withColumn("band_pos", row_number().over(inBand))
      .drop("__sr")
    // global_pos is the identity offset + band_pos (global order IS
    // (band, band_pos)) — per-band counts cumulated over a ≤nBands-row
    // metadata frame replace the corpus-sized global row_number window
    val wBand = Window.orderBy("band")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bandOffsets = withPos.groupBy("band")
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__boff", coalesce(sum("__bn").over(wBand), lit(0L)))
      .drop("__bn")
    withPos.join(broadcast(bandOffsets), Seq("band"))
      .withColumn("global_pos",
        (col("__boff") + col("band_pos")).cast("int"))
      .drop("__boff")
      .select("id", "domain", "score", "band", "band_pos", "global_pos")
  }
}
