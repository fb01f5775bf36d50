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

  /** DuckDB twin of [[supportHistogram]]; `edgesCte` is a WITH body
    * whose final CTE yields (src, dst). */
  def supportHistogramOracleSql(edgesCte: String,
                                finalCte: String): String =
    s"""WITH $edgesCte,
        canon AS (SELECT DISTINCT LEAST(src, dst) AS a,
            GREATEST(src, dst) AS b
          FROM $finalCte WHERE src <> dst),
        adj AS (SELECT a AS u, b AS v FROM canon
          UNION ALL SELECT b, a FROM canon),
        wedges AS (SELECT l.u AS a, r.v AS b
          FROM adj l JOIN adj r ON l.v = r.u WHERE l.u < r.v),
        sup AS (SELECT w.a, w.b, COUNT(*) AS s
          FROM wedges w JOIN canon c ON w.a = c.a AND w.b = c.b
          GROUP BY w.a, w.b)
        SELECT COALESCE(sup.s, 0) AS support, COUNT(*) AS n_edges
        FROM canon LEFT JOIN sup ON canon.a = sup.a AND canon.b = sup.b
        GROUP BY COALESCE(sup.s, 0) ORDER BY support"""

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

  /** DuckDB twin of [[richClub]]; `edgesCte`/`finalCte` as in
    * [[supportHistogramOracleSql]]. */
  def richClubOracleSql(edgesCte: String, finalCte: String,
                        ks: Seq[Int]): String = {
    val kList = ks.mkString("[", ", ", "]")
    s"""WITH $edgesCte,
        canon AS (SELECT DISTINCT LEAST(src, dst) AS a,
            GREATEST(src, dst) AS b
          FROM $finalCte WHERE src <> dst),
        deg AS (SELECT id, COUNT(*) AS d FROM (
          SELECT a AS id FROM canon
          UNION ALL SELECT b FROM canon) GROUP BY id),
        kf AS (SELECT UNNEST($kList) AS k),
        nk AS (SELECT kf.k, COUNT(*) AS n_nodes
          FROM kf JOIN deg ON deg.d > kf.k GROUP BY kf.k),
        ek AS (SELECT kf.k, COUNT(*) AS ne
          FROM kf JOIN canon ON TRUE
          JOIN deg da ON canon.a = da.id AND da.d > kf.k
          JOIN deg db ON canon.b = db.id AND db.d > kf.k
          GROUP BY kf.k)
        SELECT CAST(nk.k AS INT) AS k, nk.n_nodes,
          COALESCE(ek.ne, 0) AS n_edges_within,
          ROUND(CASE WHEN nk.n_nodes > 1 THEN
            2.0 * COALESCE(ek.ne, 0)
              / (CAST(nk.n_nodes AS DOUBLE) * (nk.n_nodes - 1)) END, 6)
            AS phi
        FROM nk LEFT JOIN ek ON nk.k = ek.k ORDER BY k"""
  }
}
