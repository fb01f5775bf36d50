package graft.dedup

import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over near-duplicate pair lists: turns the output
  * of minhashLsh/simhashPairs/jaccardPairs into dedup clusters with a
  * canonical representative (minimum id) per cluster.
  *
  * Iterative min-label propagation (each vertex takes the smallest label
  * in its neighborhood until fixpoint) — every step is a join + groupBy,
  * fully distributed; iteration count is bounded by the graph diameter,
  * which for near-dup clusters is small. Labels are checkpointed per
  * iteration and the previous generation released.
  */
object Components {

  /** @param pairs (id_a, id_b) undirected edges (id_a < id_b by convention)
    * @return (id, component) — component = min id reachable from `id`;
    *         singleton vertices are not present (no edges → no dedup).
    */
  def connectedComponents(pairs: DataFrame,
                          maxIterations: Int = 25): DataFrame = Checkpoints.scoped {
    // localCheckpoint (not persist) per generation: it TRUNCATES lineage,
    // without which the iterated join plan doubles every round and the
    // driver OOMs building plan strings long before the data is large.
    // At cluster scale swap for reliable checkpoint() with a checkpoint dir.
    val edges = Checkpoints.local(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    var labels = Checkpoints.local(edges.groupBy(col("src").as("id"))
      .agg(least(min("dst"), first("src")).as("component")))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIterations) {
      // neighbor's current label, propagated across each edge
      val viaNeighbor = edges
        .join(labels.select(col("id").as("dst"), col("component").as("__nc")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("__nc").as("__minNeighbor"))
      val next = Checkpoints.local(labels.join(viaNeighbor, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("__minNeighbor"), col("component")))
            .as("component")))
      changed = next.join(labels.withColumnRenamed("component", "__old"), Seq("id"))
        .filter(col("component") =!= col("__old")).count()
      Checkpoints.release(labels)
      labels = next
      iter += 1
    }
    // non-convergence must be loud — silently returning partial
    // components would under-deduplicate downstream
    if (changed > 0) {
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIterations iterations " +
          s"($changed labels still changing) — raise maxIterations for " +
          "large-diameter graphs")
    }
    labels
  }

  /** Big-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * 100 TB scale path. Min-label propagation above converges in
    * O(diameter) rounds (a 10k-long chain needs ~10k joins); the
    * alternating star transforms contract every component onto its
    * minimum vertex in O(log n) rounds regardless of diameter, and each
    * round is one groupBy + one equi-join per transform — no all-pairs,
    * no driver materialization.
    *
    * Same contract as [[connectedComponents]]: (id, component) with
    * component = min id reachable; singleton vertices absent.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIterations: Int = 50): DataFrame =
    starIterate(pairs, maxIterations)._1

  /** Returns (labels, rounds) — rounds exposed so tests can assert the
    * O(log n) convergence that motivates this implementation. */
  private[graft] def starIterate(pairs: DataFrame,
                                 maxIterations: Int): (DataFrame, Int) = Checkpoints.scoped {
    val init = pairs
      .select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    val vertices = Checkpoints.local(init.select(explode(array(col("u"), col("v"))).as("id"))
      .distinct())
    var edges = Checkpoints.local(init
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct())
    var sig = signature(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      // LAZY checkpoint: the signature aggregate is the action that
      // materializes it, so each round is ONE job instead of two
      // (eager-checkpoint + signature) — still truncates lineage
      val next = Checkpoints.local(smallStar(largeStar(edges)), eager = false)
      val nextSig = signature(next)
      converged = nextSig == sig // fixpoint: both transforms were identity
      sig = nextSig
      Checkpoints.release(edges)
      edges = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"star connected components did not converge in $maxIterations rounds")
    // at fixpoint every edge is (child, componentMin); roots label themselves
    val labels = edges.select(col("u").as("id"), col("v").as("component"))
    val roots = vertices.join(labels.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    (labels.unionByName(roots), iter)
  }

  /** large-star(u): connect every strictly-larger neighbor v > u to
    * m = min(Γ(u) ∪ {u}). One groupBy for per-node minima + one
    * equi-join to re-attach them — shuffles bounded by |E|. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
    sym.join(mins, Seq("u"))
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** small-star(u): connect every smaller-or-equal neighbor (and u
    * itself) to the minimum of that set. Edges arrive max-first from
    * largeStar; re-orient defensively. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
    oriented.join(mins, Seq("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(mins.select(col("u"), col("m").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** (count, sum-of-64-bit-row-hashes) edge-set fingerprint —
    * order-independent, one aggregate, no driver-side materialization.
    * xxhash64 + a decimal accumulator: the decimal cannot overflow under
    * ANSI mode at any edge count, and a count+64-bit-sum collision
    * between two consecutive DIFFERENT edge sets is ~2⁻⁶⁴ — if it ever
    * hit, the loop would stop one round early with non-star edges, which
    * the final-labels shape makes visible downstream (non-minimal
    * components), not silently plausible. */
  private def signature(edges: DataFrame): (Long, String) = {
    val r = edges.agg(count(lit(1)),
      sum(xxhash64(col("u"), col("v"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString)
  }

  /** Deduplicate `df` by near-dup clusters: keep one canonical row
    * (minimum id) per component, plus every row not in any component.
    * Components come from [[connectedComponentsStar]], so pair ids must
    * cast to long.
    */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = connectedComponentsStar(pairs).filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }
}
