package graft.dedup

import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.proximity.Proximity

/** SemDeDup — semantic deduplication by embedding clustering (Abbas et
  * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
  * semantic deduplication", arXiv:2303.09540). Beyond-reference
  * training-data operator (SURVEY §2.12), complementing the pairwise
  * near-dup family: [[Dedup.cosineNearDup]] finds lexical/embedding
  * twins via LSH banding; SemDeDup targets *semantic* duplicates by
  * k-means-partitioning the embedding space and comparing only within a
  * cluster.
  *
  * Method, as in the paper: (1) k-means the embeddings; (2) within each
  * cluster, find pairs above a cosine threshold tau; (3) from each
  * duplicate relation keep the member FARTHEST from its cluster
  * centroid (the paper's keep-rule — edge points carry more signal) —
  * ties break to the lower id, so the result is deterministic under the
  * seeded clustering.
  *
  * Scale shape at 100 TB: the cluster id is the blocking key — the
  * pairwise compare is a hash-partitioned equi-join on `cluster`, never
  * all-pairs. Cluster population is ~n/nClusters, so callers size
  * nClusters to keep within-cluster pair work bounded (the paper uses
  * 50k clusters at web scale for the same reason); the k-means fit
  * itself is sample-bounded ([[Proximity.fitQuantizer]]).
  */
object SemDedup {

  /** Annotate every embedding row with its cluster, centroid cosine,
    * and the SemDeDup keep/drop verdict.
    *
    * Returns (id, cluster, centroid_sim, keep): `keep = false` iff the
    * row has a within-cluster duplicate (cosine > tau) that lies
    * farther from the centroid (or equally far with a lower id).
    *
    * `maxClusterSize` bounds the quadratic within-cluster pair work when
    * the clustering is too coarse for the corpus: clusters over the cap
    * are subdivided into deterministic hash-salted sub-blocks of at most
    * ~cap members, and pairs are only compared within a sub-block — twins
    * split across sub-blocks of a huge cluster are the documented recall
    * trade (the same bounded-work pattern as [[Dedup.minhashLsh]]'s
    * hot-bucket cap). Size nClusters ≈ n / targetClusterSize first; the
    * cap is the backstop, not the mechanism. */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               nClusters: Int = 16, tau: Double = 0.97,
               seed: Long = 42L, maxClusterSize: Int = 100000): DataFrame = Checkpoints.scoped {
    require(nClusters >= 2, s"need >= 2 clusters, got $nClusters")
    require(tau > 0.0 && tau < 1.0, s"tau must be in (0,1), got $tau")
    require(maxClusterSize >= 1, s"maxClusterSize must be >= 1, got $maxClusterSize")
    import org.apache.spark.ml.functions.array_to_vector
    val v = emb.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), _.cast("double")).as("vec"))
    val (km, cents) = Proximity.fitQuantizer(v, nClusters, seed)
    val assigned = km.transform(v.withColumn("__vec", array_to_vector(col("vec"))))
      .select(col("id"), col("vec"), col("__cell").as("cluster"))
      .join(broadcast(cents.select(col("__cell").as("cluster"),
        col("__centroid").as("__c"))), "cluster")
      .withColumn("centroid_sim", Proximity.cosine(col("vec"), col("__c")))
      .select("id", "vec", "cluster", "centroid_sim")
    assigned.persist() // one k-means transform feeds both join sides
    try {
      // sub-block oversized clusters: per-cluster counts are one
      // map-side-combinable aggregate over ≤ nClusters rows, broadcast
      // back; block id is a deterministic hash of the row id
      val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("__n"))
      val blocked = assigned
        .join(broadcast(sizes), "cluster")
        .withColumn("block",
          pmod(hash(col("id")),
            greatest(ceil(col("__n") / maxClusterSize), lit(1))).cast("int"))
        .drop("__n")
      val a = blocked.select(col("cluster"), col("block"), col("id").as("id_a"),
        col("vec").as("vec_a"), col("centroid_sim").as("sim_a"))
      val dropped = a.join(
          blocked.select(col("cluster"), col("block"), col("id").as("id_b"),
            col("vec").as("vec_b"), col("centroid_sim").as("sim_b")),
          Seq("cluster", "block"))
        .filter(col("id_a") =!= col("id_b"))
        .filter(Proximity.cosine(col("vec_a"), col("vec_b")) > tau)
        // b drops when a is the farther-from-centroid twin (paper's
        // keep-rule); deterministic id tie-break
        .filter(col("sim_a") < col("sim_b") ||
          (col("sim_a") === col("sim_b") && col("id_a") < col("id_b")))
        .select(col("id_b").as("id")).distinct()
      // materialized before unpersisting the input
      Checkpoints.local(assigned
        .join(dropped.withColumn("__dropped", lit(true)), Seq("id"), "left")
        .withColumn("keep", col("__dropped").isNull)
        .select(col("id"), col("cluster"),
          round(col("centroid_sim"), 6).as("centroid_sim"), col("keep")))
    } finally assigned.unpersist()
  }
}
