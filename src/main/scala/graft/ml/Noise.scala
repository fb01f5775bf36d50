package graft.ml

import graft.core.TopK
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Label-noise detection — the reference's cleanlab/noise-model family
  * (reference: src/workbench/algorithms/models/cleanlab_model.py,
  * noise_model.py) re-expressed as neighborhood label agreement over the
  * KNN table: a row is flagged when its own label disagrees with the
  * majority label of its k nearest neighbors. Distributed end to end —
  * one join + one windowed majority vote.
  */
object Noise {

  /** @param neighbors (id, neighbor_id, distance) from Proximity.knnJoin
    * @param rows      source rows carrying idCol + labelCol
    * @return (id, label, majority_label, agreement, noisy) — agreement is
    *         the fraction of neighbors sharing the majority label; noisy
    *         when the row's label differs from the majority.
    */
  def neighborhoodDisagreement(neighbors: DataFrame, rows: DataFrame,
                               idCol: String, labelCol: String): DataFrame = {
    val nl = rows.select(col(idCol).as("neighbor_id"), col(labelCol).as("__nl"))
    val votes = neighbors.join(nl, Seq("neighbor_id"))
      .groupBy(col("id"), col("__nl"))
      .agg(count(lit(1)).as("__votes"))
    // majority label per id, ties broken by label value for determinism
    val majority = TopK(votes, Seq(col("id")), Seq(desc("__votes"), asc("__nl")), 1)
      .select(col("id"), col("__nl").as("majority_label"), col("__votes"))
    val totals = neighbors.groupBy("id").agg(count(lit(1)).as("__k"))
    rows.select(col(idCol).as("id"), col(labelCol).as("label"))
      .join(neighbors.select("id").distinct(), Seq("id"), "left_semi")
      .join(majority, Seq("id"))
      .join(totals, Seq("id"))
      .withColumn("agreement", col("__votes").cast("double") / col("__k"))
      .withColumn("noisy", col("label") =!= col("majority_label"))
      .drop("__votes", "__k")
  }
}
