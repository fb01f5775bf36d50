package graft.proximity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Embedding-SPACE diagnostics — the health checks a team runs on a
  * vector corpus before trusting retrieval or clustering built on it:
  * anisotropy (is the space collapsing toward a cone?), hubness (do a
  * few points dominate every kNN list?), local intrinsic dimension,
  * class separation per dimension, centroid geometry, norm hygiene.
  * Float discipline: per-row folds ride the array in its stored order
  * (identical in Spark's `aggregate` and DuckDB's `list_sum`); every
  * CROSS-ROW accumulation quantizes at 6dp and sums as DECIMAL, so no
  * result depends on partitioning.
  */
object EmbedDiagnostics {

  private def dec6(c: org.apache.spark.sql.Column) =
    round(c, 6).cast(DecimalType(28, 6))

  /** Exact mean pairwise cosine (anisotropy, Ethayarajh 2019's
    * isotropy read-out) WITHOUT the O(n²) pair join:
    * Σᵢ≠ⱼ cos(vᵢ,vⱼ) = ‖Σᵢ v̂ᵢ‖² − Σᵢ‖v̂ᵢ‖², so one per-dimension sum
    * of the unit-normalized (6dp-quantized) components and one scalar
    * per row give the exact statistic. High mean cosine = the space
    * is a narrow cone and cosine retrieval is saturating. Returns one
    * row: (n, dim, mean_cosine 6dp). */
  def anisotropy(df: DataFrame, vecCol: String): DataFrame = {
    // tight-loop sum-of-squares kernel — identical IEEE sum (cast each
    // element to double, multiply, accumulate in index order) to the
    // interpreted aggregate(transform(...)) it replaces; in anisotropy
    // this expression sits INSIDE the normalize lambda and was being
    // re-evaluated per element (O(d²) interpreted work per row, the
    // whole query's single-task hot spot)
    val norm = sqrt(graft.functions.VecKernels.sqnormCast(col(vecCol)))
    val base = df.filter(col(vecCol).isNotNull)
      .select(transform(col(vecCol),
        x => round(x.cast("double") / norm, 6)).as("__q"))
      .filter(!exists(col("__q"), x => isnan(x) || x.isNull))
    // per-row ‖v̂q‖² folds in array order (deterministic), then the
    // cross-row sum is decimal-exact
    val rowTerm = base.select(dec6(aggregate(col("__q"), lit(0.0),
      (acc, e) => acc + e * e)).as("__t"))
    val scal = rowTerm.agg(count(lit(1)).as("n"),
      sum("__t").cast("double").as("__tt"))
    val dims = base
      .select(posexplode(col("__q")).as(Seq("__p", "__x")))
      .groupBy("__p")
      .agg(sum(col("__x").cast(DecimalType(28, 6))).cast("double")
        .as("__s"))
    val ssq = dims.agg(count(lit(1)).as("dim"),
      sum(col("__s") * col("__s")).as("__ss"))
    val nd = col("n").cast("double")
    scal.crossJoin(broadcast(ssq))
      .select(col("n"), col("dim"),
        round((col("__ss") - col("__tt")) / (nd * (nd - 1)), 6)
          .as("mean_cosine"))
  }

  /** Hubness of the kNN graph: in-degree (k-occurrence) distribution
    * skewness + the max hub and orphan share (Radovanović 2010 — in
    * high dimension a few points appear in EVERYONE's kNN list and
    * retrieval quality collapses onto them). kNN from
    * [[Proximity.knnJoinAdaptive]] (exact at sample scale, bucketed
    * beyond); in-degrees are integer counts, the skew comes from
    * exact integer power sums (the Jarque–Bera kernel).
    * Returns one row:
    * (n, k, max_indegree, n_orphans, indegree_skew 6dp). */
  def hubness(df: DataFrame, idCol: String, vecCol: String,
              k: Int = 5): DataFrame = {
    val e = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
    val nn = Proximity.knnJoinAdaptive(e, e, "__id", "__v", k,
      "euclidean", 64)
    val indeg = e.select(col("__id"))
      .join(nn.groupBy(col("neighbor_id").as("__id"))
        .agg(count(lit(1)).as("__c")), Seq("__id"), "left")
      .select(coalesce(col("__c"), lit(0L)).as("__c"))
    val g = indeg.agg(count(lit(1)).as("n"),
      max("__c").as("max_indegree"),
      sum((col("__c") === 0).cast("long")).as("n_orphans"),
      sum(col("__c")).cast("double").as("__s1"),
      sum(col("__c") * col("__c")).cast("double").as("__s2"),
      sum(col("__c") * col("__c") * col("__c")).cast("double")
        .as("__s3"))
    val nd = col("n").cast("double")
    val m = col("__s1") / nd
    val m2 = col("__s2") / nd - m * m
    val m3 = col("__s3") / nd - lit(3.0) * m * (col("__s2") / nd) +
      lit(2.0) * m * m * m
    g.select(col("n"), lit(k).as("k"), col("max_indegree"),
      col("n_orphans"),
      round(when(m2 > 0, m3 / (sqrt(m2) * m2)), 6).as("indegree_skew"))
  }

  /** Mean local intrinsic dimension per label (Levina–Bickel 2004 MLE
    * over kNN distances): LIDᵢ = (k−1) / Σⱼ₌₁..ₖ₋₁ ln(dₖ/dⱼ),
    * averaged per label — the per-REGION companion to q338's global
    * TwoNN (a mixture of manifolds shows up here, not there). Points
    * with a zero distance in their list (exact duplicates) are
    * dropped. LIDs are quantized at 6dp and decimal-averaged.
    * Returns (label, n_used, mean_lid 6dp). */
  def lidByLabel(df: DataFrame, idCol: String, vecCol: String,
                 labelCol: String, k: Int = 6): DataFrame = {
    val e = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"),
        transform(col(vecCol), x => x.cast("double")).as("__v"),
        col(labelCol).as("__l"))
    val nn = Proximity.knnJoinAdaptive(e, e, "__id", "__v", k,
      "euclidean", 64)
    val agg = nn.groupBy(col("id"))
      .agg(count(lit(1)).as("__kc"), min("distance").as("__dmin"),
        max("distance").as("__dk"),
        sum(log(col("distance"))).as("__slog"))
      .filter(col("__kc") === k && col("__dmin") > 0)
      // Σ ln(dk/dj) over j=1..k-1 = (k-1)·ln(dk) − (Σ ln dj − ln dk)
      .select(col("id"),
        round(lit(k - 1).cast("double") /
          (lit(k.toDouble) * log(col("__dk")) - col("__slog")), 6)
          .as("__lid"))
    e.select(col("__id").as("id"), col("__l"))
      .join(agg, Seq("id"))
      .groupBy(col("__l").as("label"))
      .agg(count(lit(1)).as("n_used"),
        (sum(col("__lid").cast(DecimalType(28, 6))).cast("double") /
          count(lit(1))).as("__m"))
      .select(col("label"), col("n_used"), round(col("__m"), 6)
        .as("mean_lid"))
      .orderBy("label")
  }

  /** Fisher ratio per embedding dimension: between-class variance of
    * the class means over mean within-class variance — which of the d
    * dimensions actually separate the labels (the feature-selection
    * read-out before training a probe on frozen embeddings). Cells
    * quantize at 6dp into DECIMAL(9,6) so the per-(label, dim) power
    * sums are exact; everything after rides the (labels × d) metadata
    * frame. Returns the top-k dims: (dim, fisher_ratio 6dp). */
  def fisherRatio(df: DataFrame, vecCol: String, labelCol: String,
                  topK: Int = 5): DataFrame = {
    val cells = df.filter(col(vecCol).isNotNull)
      .select(col(labelCol).as("__l"),
        posexplode(transform(col(vecCol),
          x => round(x.cast("double"), 6).cast(DecimalType(9, 6))))
          .as(Seq("__p", "__x")))
    val perClass = cells.groupBy("__l", "__p")
      .agg(count(lit(1)).as("__n"),
        sum("__x").cast("double").as("__s1"),
        sum(col("__x") * col("__x")).cast("double").as("__s2"))
    val nc = col("__n").cast("double")
    val mc = col("__s1") / nc
    val withM = perClass.select(col("__l"), col("__p"), col("__n"),
      mc.as("__m"), ((col("__s2") - nc * mc * mc) / nc).as("__vw"))
    val perDim = withM.groupBy("__p")
      .agg(count(lit(1)).as("n_classes"),
        sum("__n").as("__nt"),
        sum(col("__n") * col("__m")).as("__sm"),
        sum(col("__n") * col("__m") * col("__m")).as("__smm"),
        sum(col("__n") * col("__vw")).as("__svw"))
    val nt = col("__nt").cast("double")
    val gm = col("__sm") / nt
    val between = col("__smm") / nt - gm * gm
    val within = col("__svw") / nt
    perDim.select(col("__p").as("dim"), col("n_classes"),
        round(when(within > 0, between / within), 6).as("fisher_ratio"))
      .orderBy(col("fisher_ratio").desc, col("dim")).limit(topK)
  }

  /** Pairwise euclidean distances between label centroids — the k×k
    * geometry summary (which classes sit on top of each other). The
    * centroid table is the metadata output of ONE per-(label, dim)
    * exact-decimal mean; the pair frame is k² rows. Returns
    * (label_a, label_b, dist 6dp), label_a < label_b. */
  def centroidDistances(df: DataFrame, vecCol: String,
                        labelCol: String): DataFrame = {
    val cells = df.filter(col(vecCol).isNotNull)
      .select(col(labelCol).cast("string").as("__l"),
        posexplode(transform(col(vecCol),
          x => round(x.cast("double"), 6).cast(DecimalType(9, 6))))
          .as(Seq("__p", "__x")))
    val cent = cells.groupBy("__l", "__p")
      .agg(round(sum("__x").cast("double") / count(lit(1)), 6)
        .as("__m"))
    val a = cent.select(col("__l").as("label_a"), col("__p"),
      col("__m").as("__ma"))
    val b = cent.select(col("__l").as("label_b"), col("__p"),
      col("__m").as("__mb"))
    a.join(b, Seq("__p")).filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(round(sqrt(sum((col("__ma") - col("__mb")) *
        (col("__ma") - col("__mb")))), 6).as("dist"))
      .orderBy("label_a", "label_b")
  }

  /** Norm hygiene per label: count, decimal-exact mean norm, exact
    * median norm, max norm — unnormalized-embedding drift (a label
    * whose norms run hot dominates dot-product retrieval even when
    * its directions are fine). One per-row fold + one groupBy.
    * Returns (label, n, mean_norm 6dp, p50_norm 6dp, max_norm 6dp). */
  def normProfile(df: DataFrame, vecCol: String,
                  labelCol: String): DataFrame = {
    // tight-loop sum-of-squares kernel — identical IEEE sum (cast each
    // element to double, multiply, accumulate in index order) to the
    // interpreted aggregate(transform(...)) it replaces; here it runs
    // once per row to give that row's L2 norm
    val norm = sqrt(graft.functions.VecKernels.sqnormCast(col(vecCol)))
    df.filter(col(vecCol).isNotNull)
      .select(col(labelCol).as("label"), round(norm, 6).as("__n"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(sum(col("__n").cast(DecimalType(28, 6))).cast("double") /
          count(lit(1)), 6).as("mean_norm"),
        round(element_at(graft.functions.ExactPercentiles
          .exactPercentiles(col("__n"), Seq(0.5)), 1), 6)
          .as("p50_norm"),
        round(max("__n"), 6).as("max_norm"))
      .orderBy("label")
  }
}
