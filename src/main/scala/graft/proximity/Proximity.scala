package graft.proximity

import graft.core.TopK
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Proximity / KNN operator pack.
  *
  * The reference runs KNN client-side (sklearn NearestNeighbors / chunked
  * sparse Ruzicka — reference: src/workbench/algorithms/dataframe/
  * proximity.py:100-271, feature_space_proximity.py:65-104,
  * fingerprint_proximity.py:19-160). Here the same semantics are expressed
  * as Spark joins so they distribute:
  *
  *  - exact top-k: broadcast the (small) query side, crossJoin against the
  *    reference side, keep each query id's k best with [[graft.core.TopK]]
  *    (distance, then neighbor id, as tie-break). The reference side is never
  *    collected — scales to arbitrarily large reference sets as long as the
  *    query batch is broadcast-able (mirrors the reference's 1024-row query
  *    chunking, fingerprint_proximity.py:32-45).
  *  - approximate: MinHash-LSH banding (see graft.dedup) for Jaccard-like
  *    metrics; random-hyperplane buckets for cosine (simhash-style).
  *
  * Canonical result schema matches the reference: (id, neighbor_id,
  * distance, …) with self-exclusion and near-zero clamp at 1e-6
  * (proximity.py:201-271).
  */
object Proximity {

  /** Every element of a numeric-array column as a double. */
  private[graft] def toD(vec: Column): Column = transform(vec, x => x.cast("double"))

  /** The reference's near-zero clamp: a distance below 1e-6 reads 0. */
  private def clamp(d: Column): Column = when(d < 1e-6, 0.0).otherwise(d)

  /** The query side as (id, __qv) and the reference side as
    * (neighbor_id, __rv), both projecting `vec`. */
  private[proximity] def sides(queries: DataFrame, refs: DataFrame, idCol: String,
                               vec: Column): (DataFrame, DataFrame) =
    (queries.select(col(idCol).as("id"), vec.as("__qv")),
      refs.select(col(idCol).as("neighbor_id"), vec.as("__rv")))

  /** Every (query, reference) pair but self-pairs, scored: the query side
    * is broadcast and the reference side streamed. */
  private def allPairs(q: DataFrame, r: DataFrame, score: Column): DataFrame =
    r.crossJoin(broadcast(q))
      .filter(col("id") =!= col("neighbor_id"))
      .select(col("id"), col("neighbor_id"), score)

  /** Each query id's `k` best candidates by `score`, ties to the lower
    * neighbor id. */
  private[proximity] def keepBest(pairs: DataFrame, score: Column, k: Int): DataFrame =
    TopK(pairs, Seq(col("id")), Seq(score, asc("neighbor_id")), k)

  /** The `nProbe` cells whose centroids are most cosine-similar to each
    * (id, __qv) query, ties to the lower cell id, as (id, __qv, cell).
    * `centroids` is the small (cell id, centroid) frame, in that column
    * order; it is broadcast, and the cell column keeps its name. */
  private[proximity] def probeCells(queries: DataFrame, centroids: DataFrame,
                                    nProbe: Int): DataFrame = {
    val Array(cell, centroid) = centroids.columns
    TopK(queries.crossJoin(broadcast(centroids))
        .withColumn("__sim", cosine(col("__qv"), col(centroid))),
      Seq(col("id")), Seq(desc("__sim"), asc(cell)), nProbe)
      .select(col("id"), col("__qv"), col(cell))
  }

  /** Cosine similarity between two double-array columns. Computed with
    * codegen'd higher-order functions (zip_with/aggregate) — no UDF.
    */
  def cosine(a: Column, b: Column): Column =
    // imperative kernel, bit-identical to the HOF form it replaced
    // (dot/(‖a‖·‖b‖), per-element ops in the array's element type, sums
    // in double): the interpreted aggregate(zip_with(...)) machinery was
    // the dominant cost of every brute-force pair evaluation (guide §4)
    graft.functions.VecKernels.cosineSim(a, b)

  /** Euclidean distance between two numeric-array columns (same-typed
    * elements; float pairs subtract/square in float like the HOF did). */
  def euclidean(a: Column, b: Column): Column =
    graft.functions.VecKernels.euclid(a, b)

  /** Ruzicka (weighted-Tanimoto) distance on count vectors:
    * d = 1 − Σmin(a,b)/Σmax(a,b)
    * (reference identity: fingerprint_proximity.py:27-30 uses
    * 2·L1/(Sq+Sr+L1); equivalent to 1 − Σmin/Σmax for non-negative counts).
    */
  def ruzicka(a: Column, b: Column): Column =
    graft.functions.VecKernels.ruzicka(a, b)

  /** Exact brute-force top-k neighbor join.
    *
    * @param queries  query rows (id + vector); SMALL — gets broadcast
    * @param refs     reference rows (id + vector); arbitrarily large
    * @param distance (queryVec, refVec) => distance column (ascending = closer)
    * @return (id, neighbor_id, distance) — k rows per query id,
    *         self-pairs excluded, distances < 1e-6 clamped to 0 like the
    *         reference (proximity.py near-zero clamp).
    */
  def knnJoin(queries: DataFrame, refs: DataFrame, idCol: String, vecCol: String,
              k: Int, distance: (Column, Column) => Column): DataFrame = {
    val (q, r) = sides(queries, refs, idCol, col(vecCol))
    val d = distance(col("__qv"), col("__rv"))
    keepBest(allPairs(q, r, clamp(d).as("distance")), asc("distance"), k)
  }

  /** Radius variant: all neighbors within `radius`
    * (reference: fingerprint_proximity.py:142-160). */
  def radiusJoin(queries: DataFrame, refs: DataFrame, idCol: String, vecCol: String,
                 radius: Double, distance: (Column, Column) => Column): DataFrame = {
    val (q, r) = sides(queries, refs, idCol, col(vecCol))
    val d = distance(col("__qv"), col("__rv"))
    allPairs(q, r, clamp(d).as("distance")).filter(col("distance") <= radius)
  }

  /** Brute-force cosine top-k similarity search over an embedding column —
    * the ANN baseline. Returns (id, neighbor_id, similarity), most similar
    * first per id.
    */
  def cosineTopK(queries: DataFrame, refs: DataFrame, idCol: String, vecCol: String,
                 k: Int): DataFrame = {
    val (q, r) = sides(queries, refs, idCol, toD(col(vecCol)))
    val sim = cosine(col("__qv"), col("__rv"))
    keepBest(allPairs(q, r, sim.as("similarity")), desc("similarity"), k)
  }

  /** Scaled-Euclidean feature-space KNN — the reference's
    * FeatureSpaceProximity backend (StandardScaler + NearestNeighbors,
    * reference: src/workbench/algorithms/dataframe/
    * feature_space_proximity.py:65-104). Features are z-scored with
    * global mean/std (one aggregate pass → broadcast literals), then the
    * standard knnJoin runs on the standardized vectors.
    */
  def featureSpaceKnn(queries: DataFrame, refs: DataFrame, idCol: String,
                      featureCols: Seq[String], k: Int,
                      bruteMaxQueries: Long = 65536,
                      queryCountHint: Option[Long] = None): DataFrame = {
    val statAggs = featureCols.flatMap(c =>
      Seq(avg(col(c)).as(s"${c}__mu"), stddev(col(c)).as(s"${c}__sd")))
    val stats = refs.agg(statAggs.head, statAggs.tail: _*).head()
    def standardized(df: DataFrame): DataFrame = {
      val vec = array(featureCols.zipWithIndex.map { case (c, i) =>
        val mu = if (stats.isNullAt(2 * i)) 0.0 else stats.getDouble(2 * i)
        val sd = if (stats.isNullAt(2 * i + 1)) 1.0 else stats.getDouble(2 * i + 1)
        ((col(c) - mu) / (if (sd == 0) 1.0 else sd)).cast("double")
      }: _*)
      df.withColumn("__z", vec)
    }
    // adaptive: exact broadcast KNN for query batches, grid-bucketed ANN
    // when the query side is the whole corpus (self-KNN at scale);
    // bruteMaxQueries is pass-through so callers can pin the exact path
    knnJoinAdaptive(standardized(queries), standardized(refs), idCol, "__z", k,
      "euclidean", featureCols.size, bruteMaxQueries, queryCountHint)
  }

  /** IVF-style approximate cosine top-k — the other scale path.
    *
    * A KMeans coarse quantizer (trained on a sample of the reference set)
    * assigns every reference vector to its nearest centroid cell; each
    * query probes only its `nProbe` nearest cells. The candidate join is
    * a hash-partitioned equi-join on cell id — O(|Q|·|R|·nProbe/k) pairs
    * instead of the brute-force |Q|·|R|. Centroids are broadcast (tiny);
    * the reference side is scanned once to assign cells.
    */
  /** Fit the coarse IVF quantizer on a BOUNDED sample of an
    * (id, vec[double]) frame — shared by [[cosineTopKIvf]] and
    * [[IvfIndex.build]], so the sampling rationale lives once:
    * centroid quality saturates long before the corpus does, and an
    * unbounded KMeans fit would iterate over all 100 TB just to place
    * nCells centroids. Hash-ordered top-K (TakeOrderedAndProject:
    * per-partition heaps, no full sort) makes the sample BOTH spread
    * across the corpus and partition-independent — a bare limit()
    * reads the leading row-groups, which biases a storage-ordered
    * corpus AND changes with the physical layout. Returns the fitted
    * model (featuresCol `__vec`, predictionCol `__cell`) and the
    * centroid frame (`__cell`, `__centroid`). */
  private[graft] def fitQuantizer(vecs: DataFrame, nCells: Int, seed: Long)
      : (org.apache.spark.ml.clustering.KMeansModel, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val fitSample = vecs
      .orderBy(hash(col("id"), lit(seed.toInt)), col("id"))
      .limit(math.max(10000, nCells * 256))
      .withColumn("__vec", array_to_vector(col("vec")))
    // maxIter 10 (MLlib default 20): the quantizer only BLOCKS candidates
    // — cell boundaries a few centroid-updates short of convergence move
    // a handful of edge points between cells, which probing nProbe>1
    // cells absorbs; halving the fit's job count matters more (the fit
    // dominates q121/q108-family wall time at bench scale)
    val km = new KMeans().setK(nCells).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("__vec").setPredictionCol("__cell")
      .fit(fitSample)
    val cents = vecs.sparkSession.createDataFrame(
        km.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray.toSeq) }.toSeq)
      .toDF("__cell", "__centroid")
    (km, cents)
  }

  def cosineTopKIvf(queries: DataFrame, refs: DataFrame, idCol: String, vecCol: String,
                    k: Int, nCells: Int = 16, nProbe: Int = 4,
                    seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val (q, r) = sides(queries, refs, idCol, toD(col(vecCol)))
    val (km, cents) = fitQuantizer(
      r.select(col("neighbor_id").as("id"), col("__rv").as("vec")), nCells, seed)
    // assign refs to their cell; queries fan out to their nProbe cells
    val rCells = km.transform(r.withColumn("__vec", array_to_vector(col("__rv"))))
      .select(col("neighbor_id"), col("__rv"), col("__cell"))
    keepBest(probeCells(q, cents, nProbe).join(rCells, Seq("__cell"))
      .filter(col("id") =!= col("neighbor_id"))
      .select(col("id"), col("neighbor_id"), cosine(col("__qv"), col("__rv")).as("similarity")),
      desc("similarity"), k)
  }

  /** LSH-bucketed approximate cosine top-k — the 100 TB scale path.
    *
    * Random-hyperplane signatures (sign of dot with `nPlanes` seeded
    * Gaussian-ish vectors) bucket the space; candidates only join within a
    * bucket, replacing the O(|Q|·|R|) crossJoin with a hash-partitioned
    * equi-join on the signature. Recall is tuned by `nTables` independent
    * signature sets. Deterministic (seeded, no RNG at runtime).
    */
  /** Deterministic random-hyperplane LSH signature: sign bits of the dot
    * products with `nPlanes` hash-seeded pseudo-random planes, packed
    * into one int. Shared by [[cosineTopKLsh]] and
    * [[graft.dedup.Dedup.cosinePairsLsh]] — the seeding scheme MUST stay
    * identical wherever bucketing recall is compared. */
  private[graft] def hyperplaneSignature(vec: Column, t: Int, nPlanes: Int,
                                         dim: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      val plane = array((0 until dim).map { i =>
        // MurmurHash3(t, p, i) → deterministic coefficient in [-1, 1]
        lit(scala.util.hashing.MurmurHash3.productHash((t, p, i)).toDouble
          / Int.MaxValue)
      }: _*)
      // imperative dot kernel (identical double-sum to the HOF form it
      // replaced — every caller projects the vector to array<double>);
      // with nPlanes×nTables signatures per ROW the interpreted lambda
      // machinery was the dominant signature-stage cost (guide §4)
      val dot = graft.functions.VecKernels.dot(vec, plane)
      when(dot >= 0, lit(1)).otherwise(lit(0))
    }
    bits.zipWithIndex.map { case (b, i) => b * lit(1 << i) }.reduce(_ + _)
  }

  /** Metric-dispatching KNN that picks the scale path by query-side size.
    *
    * Below `bruteMaxQueries` query rows the exact broadcast [[knnJoin]]
    * runs — the reference's own query-batch shape (1024-row chunks,
    * fingerprint_proximity.py:32-45), exact results. Above it (the
    * whole-table self-KNN shape: label noise, UQ residual features,
    * target landscape over the full corpus) the broadcast nested loop
    * would ship the entire table to every executor and do O(N²) work, so
    * the bucketed ANN twin takes over: random-projection grid cells for
    * euclidean, banded MinHash for Ruzicka. The count is one columnar
    * scan — noise next to the O(N²) it prevents — and repeat callers on
    * a frame of known size (cross-fold loops, UQ fits) can skip it with
    * `queryCountHint`. The exact→approximate switch is SURFACED via a
    * warn-level log line (ADVICE r4) so a caller silently crossing the
    * threshold can see the recall change; pin `bruteMaxQueries =
    * Long.MaxValue` to force the exact path.
    */
  def knnJoinAdaptive(queries: DataFrame, refs: DataFrame, idCol: String,
                      vecCol: String, k: Int, metric: String, dim: Int,
                      bruteMaxQueries: Long = 65536,
                      queryCountHint: Option[Long] = None): DataFrame = {
    val distance: (Column, Column) => Column = metric match {
      case "euclidean" => euclidean
      case "ruzicka" => ruzicka
      case other => throw new IllegalArgumentException(
        s"unknown metric '$other' (euclidean | ruzicka)")
    }
    val brute = routeBySize("knn-" + metric, "exact", "bucketed", queries,
        bruteMaxQueries, queryCountHint) { n =>
      s"knnJoinAdaptive: $n query rows > bruteMaxQueries=$bruteMaxQueries — " +
        s"routing '$metric' to the bucketed APPROXIMATE path (measured " +
        "recall ~0.7+); pass bruteMaxQueries=Long.MaxValue to pin exact"
    }
    if (brute) knnJoin(queries, refs, idCol, vecCol, k, distance)
    else if (metric == "euclidean")
      knnJoinBucketedEuclidean(queries, refs, idCol, vecCol, k, dim)
    else knnJoinBucketedRuzicka(queries, refs, idCol, vecCol, k)
  }

  /** The size-routing step the adaptive operators share: count the query
    * rows (unless `queryCountHint` gives them), record `op=exact` or
    * `op=approx` in [[graft.core.Routing]], and log `warning(n)` at warn
    * level when the approximate path takes over. Returns whether the
    * exact path runs. */
  private[proximity] def routeBySize(op: String, exact: String, approx: String,
                                     queries: DataFrame, bruteMaxQueries: Long,
                                     queryCountHint: Option[Long])(
                                     warning: Long => String): Boolean = {
    val n = queryCountHint.getOrElse(queries.count())
    val brute = n <= bruteMaxQueries
    graft.core.Routing.record(op, if (brute) exact else approx, n)
    if (!brute) org.slf4j.LoggerFactory.getLogger(getClass).warn(warning(n))
    brute
  }

  /** The hot-bucket guard of the bucketed paths: at most `maxBucket`
    * reference rows per `__key` bucket, lowest neighbor ids first
    * (`maxBucket <= 0` keeps all). */
  private def capBuckets(rb: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket > 0) TopK(rb, Seq(col("__key")), Seq(col("neighbor_id")), maxBucket)
    else rb

  /** Deterministic seeded random projection: dot of `vec` with a
    * MurmurHash3-derived plane. Shares the coefficient scheme of
    * [[hyperplaneSignature]] (coefficients in [-1, 1]) so bucketing
    * behavior is comparable across the cosine/euclidean paths. */
  private def randomProjection(vec: Column, t: Int, j: Int, dim: Int): Column = {
    val plane = array((0 until dim).map { i =>
      lit(scala.util.hashing.MurmurHash3.productHash((t, j, i)).toDouble
        / Int.MaxValue)
    }: _*)
    // same kernel swap as hyperplaneSignature: double-array dot, bit-
    // identical sum order, no per-element lambda interpretation
    graft.functions.VecKernels.dot(vec, plane)
  }

  /** Grid-bucketed approximate euclidean KNN — the whole-table self-KNN
    * scale path (reference semantics: feature_space_proximity.py:65-104;
    * sklearn runs exact KNN client-side at ≤1M rows, this is the shape
    * that survives when queries == refs == the corpus).
    *
    * Each of `nTables` tables projects every vector onto `nProjections`
    * seeded random directions and quantizes each projection to a cell of
    * `cellWidth` (estimated from the reference side's projection spread
    * when not given; each table's grid is deterministically offset so
    * cell-boundary neighbors are split by at most a subset of tables).
    * Candidates join only within a (table, cell) bucket — a
    * hash-partitioned equi-join on an int key instead of the O(|Q|·|R|)
    * broadcast nested loop — then exact euclidean distance ranks top-k.
    *
    * `maxBucket` caps the reference rows per bucket (deterministic by id)
    * so one dense cluster cannot re-create the quadratic blowup — the
    * same hot-bucket guard the dedup LSH paths use.
    */
  /** `tableOffset` shifts which deterministic hyperplane tables are used
    * (tables t ∈ [offset, offset+nTables)) — an independent "seed" for
    * recall validation without changing the default behavior (offset 0). */
  def knnJoinBucketedEuclidean(queries: DataFrame, refs: DataFrame, idCol: String,
                               vecCol: String, k: Int, dim: Int,
                               nProjections: Int = 2, nTables: Int = 4,
                               cellWidth: Option[Double] = None,
                               maxBucket: Int = 10000,
                               tableOffset: Int = 0): DataFrame = {
    val (q, r) = sides(queries, refs, idCol, toD(col(vecCol)))
    // data-derived cell width: stddev of the first projection over the
    // reference side (ONE aggregate → a broadcast literal, the bounded
    // two-phase pattern used throughout)
    val w = cellWidth.getOrElse {
      val sd = r.agg(stddev(randomProjection(col("__rv"), 0, 0, dim)).as("sd"))
        .head().getAs[Any]("sd")
      // 2σ cells: in high dimension the k-NN distance concentrates toward
      // the bulk, so 1σ cells split too many true neighbor pairs (measured
      // recall ~0.49 on 64-dim test embeddings vs ~0.7+ at 2σ)
      sd match { case d: java.lang.Double if d > 0 => 2.0 * d.doubleValue(); case _ => 1.0 }
    }
    def cellKey(vec: Column, t: Int): Column = {
      val cells = (0 until nProjections).map { j =>
        // per-(table, projection) deterministic grid offset in [0, w/2)
        val off = math.abs(scala.util.hashing.MurmurHash3
          .productHash((t, j, 7919)).toDouble / Int.MaxValue) * 0.5 * w
        floor((randomProjection(vec, t, j, dim) + off) / w).cast("long")
      }
      hash(lit(t) +: cells: _*)
    }
    val cand = (tableOffset until tableOffset + nTables).map { t =>
      val rCapped = capBuckets(r.withColumn("__key", cellKey(col("__rv"), t)), maxBucket)
      q.withColumn("__key", cellKey(col("__qv"), t))
        .join(rCapped, Seq("__key"))
        .filter(col("id") =!= col("neighbor_id"))
        .select(col("id"), col("neighbor_id"), col("__qv"), col("__rv"))
    }.reduce(_ unionByName _).dropDuplicates("id", "neighbor_id")
    val d = euclidean(col("__qv"), col("__rv"))
    keepBest(cand.select(col("id"), col("neighbor_id"), clamp(d).as("distance")),
      asc("distance"), k)
  }

  /** Banded-MinHash approximate Ruzicka KNN — the fingerprint self-KNN
    * scale path (reference: fingerprint_proximity.py:19-160 runs chunked
    * sparse Tanimoto client-side; its own scale suggestion is MinHash on
    * the binarized counts).
    *
    * The count vector's support set (indices with count > 0) gets
    * `nHashes` MinHash values (codegen'd `hash` over the index inside a
    * higher-order transform — no UDF); signatures are banded `bandSize`
    * at a time and candidates equi-join on the (band, band-hash) key.
    * Jaccard on the support upper-bounds Ruzicka similarity, so banding
    * recall transfers. Exact Ruzicka then ranks the candidates.
    */
  def knnJoinBucketedRuzicka(queries: DataFrame, refs: DataFrame, idCol: String,
                             vecCol: String, k: Int,
                             nHashes: Int = 12, bandSize: Int = 3,
                             maxBucket: Int = 10000,
                             tableOffset: Int = 0): DataFrame = {
    require(nHashes % bandSize == 0, "nHashes must be a multiple of bandSize")
    val nBands = nHashes / bandSize
    // transform's (element, index) overload exposes the support index;
    // MinHash value h = min over the support of hash(h, index); the
    // tableOffset shifts the hash-function family (an independent "seed")
    def sigIdx(vec: Column): Column = array((0 until nHashes).map { h =>
      array_min(filter(
        transform(vec, (x, i) => when(x > 0, hash(lit(h + tableOffset * nHashes), i))),
        c => c.isNotNull))
    }: _*)
    val (qv, rv) = sides(queries, refs, idCol, toD(col(vecCol)))
    val q = qv.withColumn("__sig", sigIdx(col("__qv")))
    val r = rv.withColumn("__sig", sigIdx(col("__rv")))
    val cand = (0 until nBands).map { b =>
      def bandKey(sigCol: Column): Column =
        hash(lit(b) +: (0 until bandSize).map(j =>
          sigCol.getItem(b * bandSize + j)): _*)
      val rCapped = capBuckets(r.withColumn("__key", bandKey(col("__sig"))), maxBucket)
      q.withColumn("__key", bandKey(col("__sig")))
        .join(rCapped.drop("__sig"), Seq("__key"))
        .filter(col("id") =!= col("neighbor_id"))
        .select(col("id"), col("neighbor_id"), col("__qv"), col("__rv"))
    }.reduce(_ unionByName _).dropDuplicates("id", "neighbor_id")
    val d = ruzicka(col("__qv"), col("__rv"))
    keepBest(cand.select(col("id"), col("neighbor_id"), clamp(d).as("distance")),
      asc("distance"), k)
  }

  def cosineTopKLsh(queries: DataFrame, refs: DataFrame, idCol: String, vecCol: String,
                    k: Int, dim: Int, nPlanes: Int = 8, nTables: Int = 4,
                    tableOffset: Int = 0): DataFrame = {
    def signature(vec: Column, t: Int): Column =
      hyperplaneSignature(vec, t, nPlanes, dim)
    val cand = (tableOffset until tableOffset + nTables).map { t =>
      val (q, r) = sides(queries, refs, idCol, toD(col(vecCol)))
      r.withColumn("__sig", signature(col("__rv"), t))
        .join(q.withColumn("__sig", signature(col("__qv"), t)), Seq("__sig"))
        .filter(col("id") =!= col("neighbor_id"))
        .select(col("id"), col("neighbor_id"), col("__qv"), col("__rv"))
    }.reduce(_ unionByName _).dropDuplicates("id", "neighbor_id")
    keepBest(cand.select(col("id"), col("neighbor_id"),
      cosine(col("__qv"), col("__rv")).as("similarity")), desc("similarity"), k)
  }
}
