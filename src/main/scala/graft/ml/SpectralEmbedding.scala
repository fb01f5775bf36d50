package graft.ml

import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed spectral embedding (Laplacian eigenmaps, Belkin & Niyogi
  * 2003) — the "project EVERYTHING" manifold path that
  * [[Projection.projection2DSampled]]'s driver-side UMAP-family stub
  * deliberately caps at a sample (reference:
  * src/workbench/algorithms/dataframe/projection_2d.py:17-166, whose
  * own UMAP practice tops out at ~100k driver-side rows).
  *
  * Coordinates are the leading non-trivial eigenvectors of the
  * symmetric-normalized affinity S = D^-1/2 W D^-1/2 over a KNN graph,
  * computed by BLOCK (simultaneous orthogonal) ITERATION: all k
  * columns advance together, and S's top eigenvector is known in
  * closed form (u1 ∝ sqrt(degree), eigenvalue 1 on a connected graph)
  * so deflation against it is analytic. Each round has ONE
  * materializing action regardless of k: the edge-join + dst-groupBy
  * propagating every column (the PageRank shape) is lazily
  * localCheckpointed and the action is the aggregate yielding the u1
  * dots plus the k×k column Gram matrix. Under adaptive execution that
  * action runs each shuffle and broadcast stage as its own job, so a
  * job listener counts about 10 jobs per round, and the exact number
  * varies with timing. The Cholesky-based
  * orthonormalization coefficients travel in a broadcast ONE-ROW
  * frame rather than as plan literals, so every round compiles to the
  * same generated code (plan-literal coefficients forced a fresh
  * janino compile per round — measurably the dominant cost on small
  * graphs). k ≤ 8; the driver-side matrix is k×k only, never
  * N-sized. State is a (id, v1…vk) frame, localCheckpoint-truncated
  * per round, so the memory and shuffle profile is O(edges) per step
  * at any corpus size.
  *
  * Determinism: the start vector derives from xxhash64(id) — no RNG,
  * bit-stable at any parallelism. Sign is canonicalized (the entry of
  * the smallest id is made non-negative) since eigenvectors are only
  * defined up to sign.
  */
object SpectralEmbedding {

  /** Embed the nodes of an undirected edge list into `k` spectral
    * coordinates. `edges` needs (src, dst[, weight]); it is symmetrized
    * and self-loops are dropped. Returns (id, e1 … ek) with ei the
    * i-th non-trivial eigenvector of S, 6dp-rounded.
    *
    * @param iters power-iteration steps per component (~30 separates
    *              well-clustered graphs; raise for tight eigengaps) */
  def embed(edges: DataFrame, srcCol: String, dstCol: String,
            weightCol: Option[String] = None, k: Int = 2,
            iters: Int = 30): DataFrame = Checkpoints.scoped {
    require(k >= 1 && k <= 8, s"k $k out of range [1,8]")
    val w = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val half = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), w.as("w"))
      .filter(col("src") =!= col("dst"))
    // symmetrize, keeping the max weight of the two directions
    val sym = Checkpoints.local(half.unionAll(half.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      .groupBy("src", "dst").agg(max("w").as("w")))
    val degrees = Checkpoints.local(sym.groupBy(col("src").as("id"))
      .agg(sum("w").as("deg")))
    // S-edges: w / sqrt(deg_src * deg_dst) — computed once, reused by
    // every iteration of every component
    val dSrc = degrees.select(col("id").as("src"), col("deg").as("__ds"))
    val dDst = degrees.select(col("id").as("dst"), col("deg").as("__dd"))
    val sEdges = Checkpoints.local(sym.join(dSrc, "src").join(dDst, "dst")
      .select(col("src"), col("dst"),
        (col("w") / sqrt(col("__ds") * col("__dd"))).as("s")))

    def norm(a: DataFrame): Double =
      math.sqrt(a.agg(sum(col("v") * col("v"))).head().getDouble(0))

    // u1 ∝ sqrt(degree): the known top eigenvector, first deflation target
    val u1raw = degrees.select(col("id"), sqrt(col("deg")).as("v"))
    val u1 = {
      val nrm = norm(u1raw)
      Checkpoints.local(u1raw.select(col("id"), (col("v") / nrm).as("v")))
    }

    // ── BLOCK (simultaneous orthogonal) iteration ──────────────────
    // All k components advance together: per round, ONE edge join
    // propagates every column and ONE aggregate (the round's single
    // materializing action — the propagated frame is a LAZY local
    // checkpoint) yields the u1-deflation dots d and the column Gram
    // matrix G. The Gram-Schmidt / Cholesky factor is applied as a
    // linear combination whose coefficients ride a broadcast one-row
    // frame (k×k, k ≤ 8) — identical plan text every round, so the
    // whole loop shares one codegen compile. One action per round
    // REGARDLESS of k (adaptive execution splits it into about 10
    // stage jobs), column j converging to the (j+1)-th eigenvector
    // of S.
    val vCols = (1 to k).map(j => s"v$j")
    val u1j = u1.select(col("id"), col("v").as("__u"))
    val spark = edges.sparkSession
    // one-row carrier for the per-round deflation dots + mixing matrix
    val coefFields = (0 until k).map(i => s"__d$i") ++
      (for (i <- 0 until k; j <- 0 until k) yield s"__m${i}_$j")
    val coefSchema = org.apache.spark.sql.types.StructType(coefFields.map(f =>
      org.apache.spark.sql.types.StructField(f, org.apache.spark.sql.types.DoubleType)))
    def coefFrame(d: Array[Double], m: Array[Array[Double]]): DataFrame = {
      val vals = (0 until k).map(d(_)) ++
        (for (i <- 0 until k; j <- 0 until k) yield m(i)(j))
      spark.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row.fromSeq(vals)), coefSchema)
    }

    /** Cholesky L of a (clamped-SPD) k×k matrix. */
    def chol(g: Array[Array[Double]]): Array[Array[Double]] = {
      val n = g.length
      val l = Array.ofDim[Double](n, n)
      for (i <- 0 until n; j <- 0 to i) {
        var s = g(i)(j)
        for (p <- 0 until j) s -= l(i)(p) * l(j)(p)
        if (i == j) l(i)(i) = math.sqrt(math.max(s, 1e-30))
        else l(i)(j) = s / l(j)(j)
      }
      l
    }
    /** M = L⁻ᵀ (upper triangular): B·M orthonormalizes B's columns in
      * order (the QR "R⁻¹" of the Gram route). */
    def invT(l: Array[Array[Double]]): Array[Array[Double]] = {
      val n = l.length
      val m = Array.ofDim[Double](n, n)
      for (j <- 0 until n) {
        m(j)(j) = 1.0 / l(j)(j)
        for (i <- j - 1 to 0 by -1) {
          var s = 0.0
          for (p <- i + 1 to j) s += l(p)(i) * m(p)(j)
          m(i)(j) = -s / l(i)(i)
        }
      }
      m
    }

    // deterministic, parallelism-independent starts in [-0.5, 0.5]
    var vFrame = degrees.select(col("id") +: (1 to k).map(j =>
        ((pmod(xxhash64(col("id"), lit(j)), lit(1000000L))
          .cast("double") + 0.5) / 1000000.0 - 0.5).as(s"v$j")): _*)
    var prevJoined: DataFrame = null
    for (_ <- 1 to iters) {
      // V ← S·V: one join + one dst groupBy carries every column
      val src = vFrame.select(col("id").as("src") +: vCols.map(col): _*)
      val sv = sEdges.join(src, "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("s") * col(vCols.head)).as(vCols.head),
          vCols.tail.map(c => sum(col("s") * col(c)).as(c)): _*)
      // lazy: the aggregate below materializes it
      val joined = Checkpoints.local(degrees.select("id").join(sv, Seq("id"), "left")
        .select(col("id") +:
          vCols.map(c => coalesce(col(c), lit(0.0)).as(c)): _*)
        .join(u1j, "id"), eager = false)
      // ONE aggregate (= the round's one action): d_j = <v_j, u1> and
      // G_ij = <v_i, v_j>
      val aggExprs =
        vCols.map(c => sum(col(c) * col("__u"))) ++
        (for (i <- 0 until k; j <- i until k)
          yield sum(col(vCols(i)) * col(vCols(j))))
      val row = joined.agg(aggExprs.head, aggExprs.tail: _*).head()
      if (prevJoined != null) Checkpoints.release(prevJoined)
      prevJoined = joined
      val d = Array.tabulate(k)(row.getDouble)
      val g = Array.ofDim[Double](k, k)
      var p = k
      for (i <- 0 until k; j <- i until k) {
        g(i)(j) = row.getDouble(p); g(j)(i) = g(i)(j); p += 1
      }
      // deflate u1 analytically: G_B = G − d·dᵀ (u1 is unit)
      val gb = Array.tabulate(k, k)((i, j) => g(i)(j) - d(i) * d(j))
      val m = invT(chol(gb))
      // V ← (V − u1·dᵀ) · M: the coefficients arrive via a broadcast
      // one-row frame, so this projection's generated code is
      // identical every round (codegen cache hit, no per-round
      // janino compile)
      vFrame = joined.crossJoin(broadcast(coefFrame(d, m)))
        .select(col("id") +: (0 until k).map { j =>
          (0 until k).map { i =>
            col(s"__m${i}_$j") * (col(vCols(i)) - col(s"__d$i") * col("__u"))
          }.reduce(_ + _).as(vCols(j))
        }: _*)
    }
    // canonical sign per column: smallest id's entry non-negative
    val first = vFrame.orderBy("id").head()
    val flips = (1 to k).map(j =>
      if (first.getDouble(first.fieldIndex(s"v$j")) < 0) -1.0 else 1.0)
    Checkpoints.local(vFrame.select(col("id") +: (1 to k).map(j =>
        round(col(s"v$j") * flips(j - 1), 6).as(s"e$j")): _*))
  }
}
