package graft.proximity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edge-support / k-truss analytics over an undirected edge list —
  * the edge-strength refinement of q146's triangle count: an edge's
  * SUPPORT is how many triangles contain it, and the k-truss is the
  * subgraph where every edge has support ≥ k−2 (communities that
  * survive when weak bridges are cut).
  *
  * Scale shape: support comes from one wedge join (adjacency ⋈
  * adjacency on the shared endpoint, then a semi-join against the
  * edge set) — the same plan family as triangle counting; the
  * histogram rides the distinct-support frame. Directed canonical
  * edges (src < dst) keep every triangle counted once per edge.
  */
object Truss {

  /** Support histogram: (support, n_edges), plus each edge counted in
    * the max-support row first. `edges` must be (src, dst) undirected
    * (either orientation; dedup happens here). */
  def supportHistogram(edges: DataFrame): DataFrame = {
    val canon = Graph.undirected(edges)
    // adjacency in both directions for the wedge walk
    val adj = Graph.symmetrized(canon, "u", "v")
    // wedges through w: (u, w), (w, v) with u < v, then the closing
    // edge (u, v) must exist
    val wedges = adj.select(col("u").as("x"), col("v").as("__w"))
      .join(adj.select(col("u").as("__w"), col("v").as("y")), "__w")
      .filter(col("x") < col("y"))
      .select(col("x").as("a"), col("y").as("b"))
    val support = wedges.join(canon, Seq("a", "b"))
      .groupBy("a", "b").agg(count(lit(1)).as("__s"))
    canon.join(support, Seq("a", "b"), "left")
      .select(coalesce(col("__s"), lit(0L)).as("support"))
      .groupBy("support").agg(count(lit(1)).as("n_edges"))
      .orderBy("support")
  }

  /** Rich-club coefficient curve: φ(k) = 2·E_k / (N_k·(N_k−1)) where
    * N_k = nodes with degree > k and E_k = edges between them — do
    * the hubs preferentially wire to each other? One degree groupBy,
    * then per k (a small literal grid) one semi-joined edge count.
    * Returns (k, n_nodes, n_edges_within, phi 6dp). */
  def richClub(edges: DataFrame, ks: Seq[Int]): DataFrame = {
    val canon = Graph.undirected(edges)
    val deg = Graph.degrees(Graph.symmetrized(canon), "__d")
    val kFrame = edges.sparkSession.createDataFrame(
      ks.map(Tuple1(_))).toDF("k")
    val nodesAtK = kFrame.join(deg, col("__d") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val edgesAtK = kFrame
      .join(canon.join(deg.select(col("id").as("a"),
          col("__d").as("__da")), Seq("a"))
        .join(deg.select(col("id").as("b"), col("__d").as("__db")),
          Seq("b")),
        col("__da") > col("k") && col("__db") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges_within"))
    nodesAtK.join(edgesAtK, Seq("k"), "left")
      .select(col("k"), col("n_nodes"),
        coalesce(col("n_edges_within"), lit(0L)).as("n_edges_within"),
        round(when(col("n_nodes") > 1,
          lit(2.0) * coalesce(col("n_edges_within"), lit(0L)) /
            (col("n_nodes") * (col("n_nodes") - 1))), 6).as("phi"))
      .orderBy("k")
  }
}
