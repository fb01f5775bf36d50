package graft.proximity

import graft.core.{Checkpoints, TopK}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-corpus aggregates for training-data monitoring: per-group
  * centroids and the pairwise centroid-cosine matrix — the cheap
  * "embedding drift" check between corpus slices (sources, shards,
  * snapshot dates) that flags a distribution shift before a model
  * ever trains on it (beyond the reference's operator set — north-star
  * scope; complements the scalar drift pack in eda/Quality).
  *
  * Scale shape: ONE posexplode + one (group, dim) aggregate — the
  * map-side combine reduces every partition to |groups|×dim rows
  * before the shuffle, so 100 TB of vectors arrives at the reducers as
  * metadata. Centroid reassembly is an in-row `array_sort`; the cosine
  * matrix is a crossJoin of the ≤|groups|-row centroid frame.
  */
object Embeddings {

  /** Ragged-length guard: if a group's per-dimension counts disagree
    * (min ≠ max), some vectors are truncated/corrupt — in a module whose
    * job is catching broken shards, silently averaging tail dims over
    * fewer rows would mask exactly the defect being hunted (ADVICE r4).
    * Folded into the n_vecs expression so pruning can't elide it. */
  /** Embedding-space benchmark decontamination: flag corpus vectors
    * whose cosine similarity to ANY benchmark vector reaches
    * `threshold` — the semantic companion to the n-gram overlap
    * decontamination (q106): paraphrased eval items share no shingles
    * but sit next to the benchmark in embedding space.
    *
    * Scale shape: the benchmark side is broadcast (eval suites are
    * thousands of rows, not corpus-scale), so the similarity join is a
    * broadcast nested-loop over the corpus — one scan, no shuffle of
    * the corpus; the per-vector best match is one groupBy with a
    * max(struct) argmax (similarity rounded to 6dp FIRST, so
    * tie-breaks resolve identically in every engine). A corpus-scale
    * benchmark would swap the broadcast for the LSH candidate join
    * ([[graft.dedup.Dedup.cosinePairsLsh]] kernel) — same contract.
    * Returns flagged rows only: (idCol, bench_id, similarity). */
  def benchmarkDecontaminate(corpus: DataFrame, bench: DataFrame,
                             idCol: String, vecCol: String,
                             threshold: Double): DataFrame = {
    // normalize each side ONCE per row (the Pq.unitize caveat: an HOF
    // norm inside the pair projection re-evaluates per element per
    // PAIR); the per-pair work is then a single zip_with dot
    val b = broadcast(bench.select(col(idCol).as("__bid"),
      Pq.unitize(col(vecCol)).as("__bv")))
    val dot = graft.functions.VecKernels.dot(col("__cv"), col("__bv"))
    corpus.select(col(idCol), Pq.unitize(col(vecCol)).as("__cv"))
      .crossJoin(b)
      .select(col(idCol),
        struct(round(dot, 6).as("s"), col("__bid").as("b")).as("__p"))
      .groupBy(col(idCol))
      .agg(max(col("__p")).as("__best"))
      .filter(col("__best.s") >= threshold)
      .select(col(idCol), col("__best.b").as("bench_id"),
        col("__best.s").as("similarity"))
  }

  private def uniformNVecs(groupKey: Column): Column =
    when(min("__n") === max("__n"), max("__n"))
      .otherwise(raise_error(concat(
        lit("ragged vector lengths in group "), groupKey.cast("string"),
        lit(": per-dimension counts span "), min("__n").cast("string"),
        lit(".."), max("__n").cast("string"),
        lit(" — truncated/corrupt embeddings"))).cast("long"))

  /** Per-group mean vector: (groupCol, n_vecs, centroid) — dims
    * averaged in double, rounded to `decimals` (6 by default: enough
    * to be stable across engines' partial-aggregation orders, far
    * below any drift signal). Rows with a null vector are skipped;
    * ragged vector LENGTHS within a group fail fast (see
    * [[uniformNVecs]]). */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String,
                     decimals: Int = 6): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(groupCol).as("__g"),
        posexplode(col(vecCol)).as(Seq("__i", "__v")))
      .groupBy("__g", "__i")
      .agg(round(avg(col("__v").cast("double")), decimals).as("__c"),
        count(lit(1)).as("__n"))
      .groupBy(col("__g"))
      .agg(uniformNVecs(col("__g")).as("n_vecs"),
        transform(array_sort(collect_list(struct(col("__i"), col("__c")))),
          s => s.getField("__c")).as("centroid"))
      .select(col("__g").as(groupCol), col("n_vecs"), col("centroid"))

  /** Per-group embedding SPREAD — the collapse detector: a shard whose
    * vectors bunch up (trace of the per-dimension variance → 0) or
    * whose norms drift is broken upstream (bad encoder checkpoint,
    * zero-vector fill-ins) even when its centroid looks right.
    * Same one-explode shape as [[groupCentroids]]: the (group, dim)
    * aggregate carries var_pop alongside the mean, then one more
    * metadata-sized groupBy sums the trace. Mean vector norm rides the
    * same scan (aggregated per row before the explode would need a
    * second pass — instead ||v||² = Σ v² is just sum(v²)/n_vecs over
    * the exploded rows). Returns
    * (groupCol, n_vecs, trace_var, mean_sq_norm), rounded to 6dp. */
  def groupSpread(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(groupCol).as("__g"),
        posexplode(col(vecCol)).as(Seq("__i", "__v")))
      .groupBy("__g", "__i")
      .agg(var_pop(col("__v").cast("double")).as("__var"),
        sum(col("__v").cast("double") * col("__v").cast("double")).as("__sq"),
        count(lit(1)).as("__n"))
      .groupBy(col("__g"))
      .agg(uniformNVecs(col("__g")).as("n_vecs"),
        round(sum("__var"), 6).as("trace_var"),
        round(sum("__sq") / max("__n"), 6).as("mean_sq_norm"))
      .select(col("__g").as(groupCol), col("n_vecs"),
        col("trace_var"), col("mean_sq_norm"))

  /** Pairwise cosine similarity between group centroids, one row per
    * unordered pair (group_a < group_b): low off-diagonal similarity
    * between two shards of the SAME nominal distribution is the drift
    * alarm. Input frame is [[groupCentroids]]-sized (|groups| rows) —
    * the crossJoin is metadata-on-metadata. */
  def centroidDrift(df: DataFrame, groupCol: String, vecCol: String,
                    decimals: Int = 6): DataFrame = {
    val c = groupCentroids(df, groupCol, vecCol, decimals)
      .select(col(groupCol).as("__g"), col("centroid"))
    val a = c.select(col("__g").as("group_a"), col("centroid").as("__ca"))
    val b = c.select(col("__g").as("group_b"), col("centroid").as("__cb"))
    a.crossJoin(b).filter(col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        round(Proximity.cosine(col("__ca"), col("__cb")), 4).as("cosine"))
  }

  /** TwoNN intrinsic-dimension estimate (Facco et al. 2017): per point
    * the ratio μ = r₂/r₁ of its two nearest-neighbor distances; the
    * MLE is ID = n/Σ ln μ. The answer to "how many of these 64/768
    * embedding dims are real" — retrieval quality, IVF cell counts and
    * UMAP trustworthiness all hinge on intrinsic, not ambient,
    * dimension.
    *
    * Exhaustive harness by design (the q291 pattern): the all-pairs
    * distance join is exact on a REQUIRED-small sample (≤ `maxSample`,
    * loud otherwise) — run it on a uniform sample and extrapolate;
    * ambient scale would route through the KNN kernels. Exact
    * duplicates (r₁ = 0) are excluded (standard). Returns one row:
    * (n_points, n_used, id_mle 6dp). */
  def twoNnIntrinsicDim(df: DataFrame, idCol: String, vecCol: String,
                        maxSample: Int = 2000): DataFrame = Checkpoints.scoped {
    val pts = Checkpoints.local(df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), Proximity.toD(col(vecCol)).as("v")))
    val n = pts.count()
    require(n <= maxSample,
      s"twoNnIntrinsicDim is an exhaustive harness — pass a sample " +
        s"(got $n points > maxSample = $maxSample)")
    val a = pts.select(col("id").as("ia"), col("v").as("va"))
    val b = pts.select(col("id").as("ib"), col("v").as("vb"))
    val d2 = aggregate(
      zip_with(col("va"), col("vb"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    val near = TopK(a.join(b, col("ia") =!= col("ib"))
        .select(col("ia"), col("ib"), d2.as("__d2")),
      Seq(col("ia")), Seq(col("__d2"), col("ib")), 2, Some("__rk"))
    val mu = near.groupBy("ia")
      .agg(min(when(col("__rk") === 1, col("__d2"))).as("__d1"),
        min(when(col("__rk") === 2, col("__d2"))).as("__d2b"))
      .filter(col("__d1") > 0)
      // ln μ = ln sqrt(d2₂/d2₁) = 0.5·ln(d2₂/d2₁)
      .select((lit(0.5) * log(col("__d2b") / col("__d1"))).as("__lnmu"))
    Checkpoints.local(mu.agg(count(lit(1)).as("n_used"),
        sum("__lnmu").as("__s"))
      .select(lit(n).as("n_points"), col("n_used"),
        round(when(col("__s") > 0,
          col("n_used").cast("double") / col("__s")), 6).as("id_mle")))
  }
}
