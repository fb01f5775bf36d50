package graft.operators

import graft.dedup.Components
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end entity resolution over dirty string keys: PassJoin fuzzy
  * matching → connected components → golden-record election — "these 40
  * spellings are the same supplier, and THIS one is canonical". A
  * composition of kernels this engine already has, packaged because
  * it is the single most common dirty-data request:
  *
  *   1. candidate pairs: [[FuzzyJoin.fuzzyJoin]] (segment-blocked
  *      equi-join — corpus-linear, never n²)
  *   2. transitive closure: [[Components.connectedComponents]]
  *      (min-label propagation, O(diameter) rounds; it takes the string
  *      names as ids, which the long-keyed star variant cannot)
  *   3. election: smallest name per cluster wins (deterministic; swap
  *      in a frequency- or recency-keyed vote by pre-sorting ids)
  */
object EntityResolution {

  /** (name, canonical_name, cluster_size) for every distinct name;
    * singletons are their own canonical. */
  def goldenRecords(df: DataFrame, nameCol: String, maxDist: Int): DataFrame = {
    val names = df.select(col(nameCol).as("__n")).distinct()
    val a = names.select(col("__n").as("a_id"), col("__n").as("a_name"))
    val b = names.select(col("__n").as("b_id"), col("__n").as("b_name"))
    val pairs = FuzzyJoin.fuzzyJoin(a, b, "a_name", "b_name", maxDist,
        "a_id", "b_id")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id").as("id_a"), col("b_id").as("id_b"))
    val comp = Components.connectedComponents(pairs)
    val labeled = names
      .join(comp.withColumnRenamed("id", "__n"), Seq("__n"), "left")
      .select(col("__n").as("name"),
        coalesce(col("component"), col("__n")).as("__c"))
    val sizes = labeled.groupBy("__c").agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, Seq("__c"))
      .select(col("name"), col("__c").as("canonical_name"), col("cluster_size"))
  }
}
