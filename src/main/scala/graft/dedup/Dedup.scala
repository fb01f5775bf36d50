package graft.dedup

import graft.core.Checkpoints
import graft.proximity.Proximity.toD
import graft.text.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operator pack for large-scale training-data pipelines.
  *
  * Scale design: every variant avoids the O(N²) all-pairs comparison.
  *  - exact: one hash-groupBy (single shuffle on the fingerprint).
  *  - MinHash-LSH: shingle → minhash signature → band keys → equi-join on
  *    band key (shuffle is hash-partitioned on band buckets; only
  *    same-bucket candidates are ever paired) → exact Jaccard verify.
  *  - SimHash: 32-bit signature → band-of-bits blocking → Hamming verify.
  * All hashing is Spark's deterministic murmur3 `hash()` — no RNG at
  * runtime, so results are reproducible across runs/cluster sizes.
  */
object Dedup {

  /** Exact dedup: group identical (normalized) texts, keep the lowest id
    * as the canonical representative. Returns
    * (fingerprint, keeper_id, n_dups).
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(Text.fingerprint(col(textCol)).as("fingerprint"), col(idCol).as("id"))
      .groupBy("fingerprint")
      .agg(min("id").as("keeper_id"), count(lit(1)).as("n_dups"))

  /** Rows with the duplicates removed (keep first occurrence by id). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol).select(col("keeper_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** MinHash signature from an ALREADY-MATERIALIZED shingle-array column:
    * `numHashes` minima of salted murmur3 over the shingle set.
    *
    * Deliberately takes the shingle column, not the text: deriving
    * shingles inside each of the `numHashes` min-expressions would
    * re-tokenize the document numHashes× per row (HOF lambda bodies are
    * evaluated per element, no cross-expression CSE) — measured 50×
    * slowdown. Callers stage: project shingles → persist → project mins.
    */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    graft.functions.Signatures.minhashSignature(shingleCol, numHashes)

  /** Reference combinator form of the signature (32 × array_min over
    * transform) — kept for cross-checking the custom expression; both
    * produce identical values (same murmur3 composition). */
  def minhashSignatureCombinator(shingleCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map { seed =>
      array_min(transform(shingleCol, s => hash(s, lit(seed))))
    }: _*)

  /** MinHash + LSH banding candidate pairs, verified with exact n-gram
    * Jaccard. `bands` × `rowsPerBand` = signature length. Pairs are emitted
    * once (id_a < id_b) with their true Jaccard similarity.
    *
    * The only shuffles are (a) the explode+groupBy on band keys and (b) the
    * band-key self-join — both hash-partitioned and skew-safe for normal
    * corpora (a pathological bucket means near-global duplication, which a
    * pre-count cap could guard; see `maxBucket`).
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
                 threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val rowsPerBand = numHashes / bands
    // Two materialization stages: (1) shingle sets — so the tokenizer
    // runs once per doc and the signature expression reads a materialized
    // array (interpreted projections do no CSE, so deriving shingles in
    // the same projection would tokenize twice); (2) signatures — so
    // CollapseProject can't re-inline the tree into every downstream
    // branch (band explode, both join sides, verify join). At cluster
    // scale these are checkpointed signature tables.
    val shingled = df.select(col(idCol).as("id"),
      graft.functions.Signatures.wordShingles(col(textCol), shingleSize).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val docs = shingled.select(col("id"), col("sh"),
      minhashSignature(col("sh"), numHashes).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = bandedCandidates(docs, bands, rowsPerBand, maxBucket)
    val sets = docs.select(col("id"), col("sh"))
    val jac = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
      size(array_union(col("sh_a"), col("sh_b")))
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), round(jac, 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The LSH candidate stage shared by [[minhashLsh]] and
    * [[minhashLshStats]]: band keys travel as narrow (band, bkey, id)
    * rows — shingle arrays are NOT carried through the band join/dedup;
    * pathological buckets (near-global dup text) are dropped by an
    * aggregated pre-count (map-side combinable, unlike a window). */
  private def bandedCandidates(docs: DataFrame, bands: Int,
                               rowsPerBand: Int, maxBucket: Int): DataFrame = {
    val banded = docs.select(col("id"), explode(
      array((0 until bands).map(b =>
        struct(lit(b).as("band"), hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bkey"))): _*)
    ).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bkey"))
    val bucketSizes = banded.groupBy("band", "bkey").agg(count(lit(1)).as("__n"))
    val counted = banded.join(bucketSizes.filter(col("__n") <= maxBucket), Seq("band", "bkey"))
      .drop("__n")
    val l = counted.select(col("band"), col("bkey"), col("id").as("id_a"))
    val r = counted.select(col("band"), col("bkey"), col("id").as("id_b"))
    l.join(r, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** LSH-tuning harness: on a BOUNDED document sample, grade the
    * banded MinHash pipeline against exhaustive shingle-Jaccard ground
    * truth — the dedup sibling of the q267 ANN-recall harness. The
    * numbers that matter when choosing (numHashes, bands) for a 100 TB
    * dedup run, measured instead of guessed:
    *   recall          = verified LSH pairs / true pairs ≥ threshold
    *   cand_precision  = verified pairs / candidate pairs (wasted
    *                     verification work when low)
    * Verified pairs use the same shingle sets as the truth, so
    * found ⊆ true and recall ≤ 1 structurally.
    *
    * The sample is whatever `df` the caller passes — REQUIRED small
    * (≤ `maxSample` docs, checked) because the truth is an all-pairs
    * join; that is the point of a harness: exhaustive on a sample,
    * extrapolate to the corpus. Returns one row: (n_docs,
    * n_candidates, n_true_pairs, n_found_pairs, recall 6dp,
    * cand_precision 6dp). */
  def minhashLshStats(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 32,
                      bands: Int = 8, threshold: Double = 0.5,
                      maxSample: Int = 2000): DataFrame = Checkpoints.scoped {
    val rowsPerBand = numHashes / bands
    val shingled = df.select(col(idCol).as("id"),
      graft.functions.Signatures.wordShingles(col(textCol), shingleSize).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = shingled.count()
    require(nDocs <= maxSample,
      s"minhashLshStats is an exhaustive harness — pass a sample " +
        s"(got $nDocs docs > maxSample = $maxSample)")
    val docs = shingled.select(col("id"), col("sh"),
      minhashSignature(col("sh"), numHashes).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val jac = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
      size(array_union(col("sh_a"), col("sh_b")))
    val l = shingled.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val r = shingled.select(col("id").as("id_b"), col("sh").as("sh_b"))
    val truth = l.crossJoin(r).filter(col("id_a") < col("id_b"))
      .filter(round(jac, 6) >= threshold)
      .select("id_a", "id_b")
    val candidates = bandedCandidates(docs, bands, rowsPerBand,
      maxBucket = maxSample)
    val found = candidates
      .join(l, Seq("id_a")).join(r, Seq("id_b"))
      .filter(round(jac, 6) >= threshold)
      .select("id_a", "id_b")
    val counts = truth.agg(count(lit(1)).as("n_true_pairs"))
      .crossJoin(candidates.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(found.agg(count(lit(1)).as("n_found_pairs")))
    val out = Checkpoints.local(counts.select(lit(nDocs).as("n_docs"), col("n_candidates"),
      col("n_true_pairs"), col("n_found_pairs"),
      round(when(col("n_true_pairs") > 0,
        col("n_found_pairs").cast("double") / col("n_true_pairs")), 6)
        .as("recall"),
      round(when(col("n_candidates") > 0,
        col("n_found_pairs").cast("double") / col("n_candidates")), 6)
        .as("cand_precision")))
    shingled.unpersist(); docs.unpersist()
    out
  }

  /** 32-bit SimHash from an ALREADY-MATERIALIZED token-hash array column
    * (see `minhashSignature` for why the hashes must be staged): per bit,
    * majority vote of the token-hash bits.
    */
  def simhashFromHashes(hashes: Column): Column = {
    val n = size(hashes)
    val bits = (0 until 32).map { i =>
      val ones = size(filter(hashes, h => shiftright(h, i).bitwiseAND(1) === 1))
      when(ones * 2 >= n, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Convenience single-expression SimHash for ad-hoc use on small data;
    * pipelines should stage token hashes and use `simhashFromHashes`. */
  def simhash(text: Column): Column =
    simhashFromHashes(transform(Text.tokens(text), t => hash(t)))

  /** SimHash near-dup pairs: 64-bit signature blocked on 4 DISJOINT
    * 16-bit bands, verify Hamming ≤ `maxHamming`. Pigeonhole: ≤ 3 bit
    * flips across 4 bands leave at least one band exact, so every
    * hamming ≤ 3 pair IS a candidate — same completeness as the former
    * 32-bit/4×8-bit scheme, but 65,536 keys per band instead of 256:
    * the 256-key ceiling concentrated the 10× ladder into mega-buckets
    * and went quadratic (7.7× time for 10× data in the r6 bench). The
    * hamming filter also runs BEFORE the pair-dedup shuffle: only true
    * near-dups pay the distinct, not every candidate.
    * Returns (id_a, id_b, hamming).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // single-pass custom expression, materialized once for branch reuse
    val docs = df.select(col(idCol).as("id"),
      graft.functions.Signatures.simhash64(Text.tokens(col(textCol))).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = docs.select(col("id"), col("sig"), explode(array(
      (0 until 4).map(b => struct(lit(b).as("band"),
        shiftright(col("sig"), b * 16).bitwiseAND(0xffff).as("bkey"))): _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.bkey"))
    val l = banded.select(col("band"), col("bkey"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = banded.select(col("band"), col("bkey"), col("id").as("id_b"), col("sig").as("sig_b"))
    val ham = bit_count(col("sig_a").bitwiseXOR(col("sig_b")))
    l.join(r, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), ham.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact word-level Jaccard near-dup pairs over a bounded id range —
    * the brute-force baseline (oracle-checkable; LSH variants above are the
    * scale path). Emits (id_a, id_b, jaccard ≥ threshold).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double): DataFrame = {
    val docs = df.select(col(idCol).as("id"),
      array_distinct(Text.tokens(col(textCol))).as("w"))
    val l = docs.select(col("id").as("id_a"), col("w").as("w_a"))
    val r = docs.select(col("id").as("id_b"), col("w").as("w_b"))
    val jac = size(array_intersect(col("w_a"), col("w_b"))).cast("double") /
      size(array_union(col("w_a"), col("w_b")))
    l.crossJoin(r).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(jac, 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT set-similarity join via prefix filtering (AllPairs/PPJoin,
    * Bayardo et al. WWW'07) — completes the jaccard triad: brute
    * [[jaccardPairs]] is the bounded oracle baseline, MinHash-LSH is
    * the approximate scale path, and THIS is the exact scale path.
    * Two sets with Jaccard ≥ t must share a token among each one's
    * first |s| − ⌈t·|s|⌉ + 1 tokens in a GLOBAL canonical order
    * (rarest-first), so candidates come from an equi-join on PREFIX
    * tokens only — corpus-linear in matching prefix postings, never
    * all-pairs — plus the |b| ∈ [t·|a|, |a|/t] length filter before
    * the exact verify. Emits the same (id_a, id_b, jaccard) contract
    * as jaccardPairs, provably identical results.
    */
  def jaccardJoinPrefix(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double): DataFrame = Checkpoints.scoped {
    require(threshold > 0 && threshold <= 1)
    val docs = Checkpoints.local(df.select(col(idCol).as("id"),
        array_distinct(Text.tokens(col(textCol))).as("w"))
      .filter(size(col("w")) > 0))
    val freq = docs.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("__f"))
    // canonical rarest-first ordering, then the t-dependent prefix
    val ordered = docs.select(col("id"), explode(col("w")).as("t"))
      .join(freq, "t")
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("__f"), col("t")))),
        s => s.getField("t")).as("ord"))
      .select(col("id"), col("ord"), size(col("ord")).as("n"))
      .withColumn("__plen",
        (col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int"))
    val prefixes = ordered.select(col("id"), col("n"),
      explode(slice(col("ord"), lit(1), col("__plen"))).as("t"))
    val cand = prefixes.as("a").join(prefixes.as("b"),
        col("a.t") === col("b.t") && col("a.id") < col("b.id") &&
          col("b.n") >= ceil(lit(threshold) * col("a.n")) &&
          col("b.n") * lit(threshold) <= col("a.n"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val l = docs.select(col("id").as("id_a"), col("w").as("w_a"))
    val r = docs.select(col("id").as("id_b"), col("w").as("w_b"))
    val jac = size(array_intersect(col("w_a"), col("w_b"))).cast("double") /
      size(array_union(col("w_a"), col("w_b")))
    Checkpoints.local(cand.join(l, "id_a").join(r, "id_b")
      .select(col("id_a"), col("id_b"), round(jac, 6).as("jaccard"))
      .filter(col("jaccard") >= threshold))
  }

  /** Embedding-cosine near-duplicate pairs — brute-force oracle baseline
    * over a bounded id range (the jaccardPairs analogue for the
    * embedding column): (id_a < id_b, similarity) with
    * round(cosine, 6) ≥ threshold. Rounding BEFORE the threshold makes
    * the boundary deterministic across engines. */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
                  threshold: Double): DataFrame = {
    val l = df.select(col(idCol).as("id_a"), toD(col(vecCol)).as("__va"))
    val r = df.select(col(idCol).as("id_b"), toD(col(vecCol)).as("__vb"))
    l.crossJoin(r).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(graft.proximity.Proximity.cosine(col("__va"), col("__vb")), 6)
          .as("similarity"))
      .filter(col("similarity") >= threshold)
  }

  /** Scale path for [[cosinePairs]]: random-hyperplane signatures bucket
    * the vectors (`nTables` independent sets for recall), candidates
    * verify INSIDE buckets only — a hash-partitioned equi-join instead
    * of the all-pairs crossJoin. Deterministic planes (hash-seeded, no
    * runtime RNG), same output contract as the brute baseline on the
    * pairs both consider. */
  def cosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, dim: Int,
                     nPlanes: Int = 8, nTables: Int = 4): DataFrame = Checkpoints.scoped {
    // stage the signatures once (narrow cached projection — HOF lambdas
    // are interpreted and CollapseProject would inline them per branch)
    val vecs = df.select(col(idCol).as("id"), toD(col(vecCol)).as("__v"))
    val signed = (0 until nTables).foldLeft(vecs) { (d, t) =>
      d.withColumn(s"__sig$t",
        graft.proximity.Proximity.hyperplaneSignature(col("__v"), t, nPlanes, dim))
    }.persist()
    val cand = (0 until nTables).map { t =>
      signed.select(col("id").as("id_a"), col("__v").as("__va"),
          col(s"__sig$t").as("__sig"))
        .join(signed.select(col("id").as("id_b"), col("__v").as("__vb"),
          col(s"__sig$t").as("__sig")), Seq("__sig"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "__va", "__vb")
    }.reduce(_ unionByName _).dropDuplicates("id_a", "id_b")
    // materialize the verified pairs (bounded: near-dup pairs only) so
    // the signature cache can be RELEASED here — persisting across the
    // return would leak storage for the session lifetime
    val out = Checkpoints.local(cand.select(col("id_a"), col("id_b"),
        round(graft.proximity.Proximity.cosine(col("__va"), col("__vb")), 6)
          .as("similarity"))
      .filter(col("similarity") >= threshold))
    signed.unpersist()
    out
  }

  /** Deduplicate by cosine near-dup clusters: pairs → star connected
    * components → keep the canonical (min-id) row per cluster.
    *
    * SCALE-SAFE BY DEFAULT (VERDICT r4): pair generation routes like
    * [[graft.proximity.Proximity.knnJoinAdaptive]] — the exact crossJoin
    * baseline only below `bruteMaxRows` rows, the hyperplane-LSH bucketed
    * join ([[cosinePairsLsh]]) above it, with the vector dimension
    * inferred from the first non-null row when not given. An innocent
    * call on a large corpus can no longer recreate the O(n²) blowup.
    * Pass `dim > 0` to pin the LSH path at any size; pass
    * `bruteForce = true` to pin the exact crossJoin (the explicit
    * opt-in for bounded oracle baselines). */
  def cosineNearDup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, dim: Int = -1,
                    nPlanes: Int = 8, nTables: Int = 4,
                    bruteForce: Boolean = false,
                    bruteMaxRows: Long = 65536): DataFrame = {
    val pairs =
      if (bruteForce) {
        graft.core.Routing.record("cosine-dedup", "brute-pinned", -1)
        cosinePairs(df, idCol, vecCol, threshold)
      } else if (dim > 0) {
        graft.core.Routing.record("cosine-dedup", "lsh", -1)
        cosinePairsLsh(df, idCol, vecCol, threshold, dim, nPlanes, nTables)
      } else if (df.count() <= bruteMaxRows) {
        graft.core.Routing.record("cosine-dedup", "brute", -1)
        cosinePairs(df, idCol, vecCol, threshold)
      } else {
        // one head() row to learn the dimension — metadata-sized next to
        // the quadratic join it routes away from
        val inferred = df.filter(col(vecCol).isNotNull)
          .select(size(col(vecCol)).as("__d")).head().getInt(0)
        require(inferred > 0, s"cannot infer vector dimension from $vecCol")
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"cosineNearDup: > $bruteMaxRows rows — routing to the bucketed " +
            s"LSH path (dim=$inferred); pass bruteForce=true to pin exact")
        graft.core.Routing.record("cosine-dedup", "lsh", -1)
        cosinePairsLsh(df, idCol, vecCol, threshold, inferred, nPlanes, nTables)
      }
    Components.dedupByPairs(df, idCol, pairs)
  }

  /** Dedup-completeness estimate by capture–recapture: run TWO
    * independent-ish exact near-dup detectors (shared rare n-gram
    * anchors at two different n), treat their pair sets as two
    * "captures" of the unknown true duplicate-pair population, and
    * apply the Chapman estimator N̂ = (n₁+1)(n₂+1)/(m+1) − 1 — the
    * Lincoln–Petersen answer to "how many dup pairs did BOTH passes
    * miss?" that no single detector can self-report. The detectors
    * share signal (both are n-gram based), which inflates the overlap
    * m, so N̂ is a LOWER bound on the true pair population and the
    * per-detector recalls are upper bounds — documented semantics.
    *
    * Scale shape: each detector is a df-capped anchor equi-join (the
    * ExactSubstr guard — never all-pairs); the overlap is one
    * pair-keyed join; the estimate is one row of arithmetic. Returns
    * one row: (n_a, n_b, n_both, est_total_pairs, recall_a 6dp,
    * recall_b 6dp). */
  def dedupCompleteness(df: DataFrame, idCol: String, textCol: String,
                        nA: Int = 5, nB: Int = 8,
                        maxDf: Int = 20): DataFrame = Checkpoints.scoped {
    def anchorPairs(n: Int): DataFrame = {
      val sh = df.select(col(idCol).cast("long").as("id"),
          explode(graft.functions.Signatures.wordShingles(col(textCol), n))
            .as("g")).distinct()
      val rare = sh.groupBy("g").agg(count(lit(1)).as("__df"))
        .filter(col("__df") >= 2 && col("__df") <= maxDf).select("g")
      val lk = sh.join(rare, Seq("g"))
      lk.select(col("g"), col("id").as("a"))
        .join(lk.select(col("g"), col("id").as("b")), Seq("g"))
        .filter(col("a") < col("b"))
        .select("a", "b").distinct()
    }
    val pa = Checkpoints.local(anchorPairs(nA))
    val pb = Checkpoints.local(anchorPairs(nB))
    val both = pa.join(pb, Seq("a", "b"))
    Checkpoints.local(pa.agg(count(lit(1)).as("n_a"))
      .crossJoin(pb.agg(count(lit(1)).as("n_b")))
      .crossJoin(both.agg(count(lit(1)).as("n_both")))
      .select(col("n_a"), col("n_b"), col("n_both"),
        (((col("n_a") + 1) * (col("n_b") + 1)).cast("double") /
          (col("n_both") + 1) - 1.0).cast("long").as("est_total_pairs"))
      .select(col("*"),
        round(when(col("est_total_pairs") > 0,
          col("n_a").cast("double") / col("est_total_pairs")), 6)
          .as("recall_a"),
        round(when(col("est_total_pairs") > 0,
          col("n_b").cast("double") / col("est_total_pairs")), 6)
          .as("recall_b")))
  }

  /** Cross-source duplicate share: of the near-dup pairs the anchor
    * detector finds, what fraction CROSSES source boundaries? The
    * sharding question for a 100 TB dedup: a low cross share means the
    * corpus can be deduped per-source in parallel (cheap) with a small
    * residual global pass; a high share means the full cross join of
    * sources is load-bearing. Returns one row: (n_pairs, n_cross,
    * cross_share 6dp). */
  def crossSourceDupShare(df: DataFrame, idCol: String, textCol: String,
                          sourceCol: String, shingleSize: Int = 8,
                          maxDf: Int = 20): DataFrame = {
    val sh = df.select(col(idCol).cast("long").as("id"),
        explode(graft.functions.Signatures.wordShingles(
          col(textCol), shingleSize)).as("g")).distinct()
    val rare = sh.groupBy("g").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf).select("g")
    val lk = sh.join(rare, Seq("g"))
    val pairs = lk.select(col("g"), col("id").as("a"))
      .join(lk.select(col("g"), col("id").as("b")), Seq("g"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val src = df.select(col(idCol).cast("long").as("id"),
      col(sourceCol).as("__src"))
    pairs
      .join(src.select(col("id").as("a"), col("__src").as("__sa")), "a")
      .join(src.select(col("id").as("b"), col("__src").as("__sb")), "b")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L))
          .as("n_cross"))
      .select(col("n_pairs"), col("n_cross"),
        round(when(col("n_pairs") > 0,
          col("n_cross").cast("double") / col("n_pairs")), 6)
          .as("cross_share"))
  }

  /** First-seen duplicate share per group: a doc is a DUPLICATE when
    * an earlier doc (smaller id — ingest order) anywhere in the corpus
    * carries the same exact content hash; the per-source share is the
    * ingest-monitoring read-out ("which feed is re-sending content we
    * already have") that q27's global dedup and q337's cross-source
    * share don't slice by time-of-arrival.
    *
    * Scale shape: one groupBy(md5) for the global first-seen id, one
    * broadcast-size join back keyed on the hash (the duplicate-group
    * frame is #distinct-hashes rows), one integer groupBy per source.
    * All-integer outputs except the final share ratio.
    * Returns (group, n_docs, n_dups, dup_share 6dp). */
  def firstSeenDupShare(docs: DataFrame, idCol: String,
                        textCol: String, groupCol: String): DataFrame = {
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        col(groupCol).as("group"), md5(col(textCol)).as("__fp"))
    val first = base.groupBy("__fp").agg(min("__id").as("__first"))
    base.join(first, Seq("__fp"))
      .groupBy("group")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("__id") > col("__first")).cast("long")).as("n_dups"))
      .withColumn("dup_share",
        round(col("n_dups").cast("double") / col("n_docs"), 6))
      .orderBy("group")
  }

  /** Exact-duplicate cluster-size histogram: group docs by content
    * hash, then count clusters and docs at each cluster size — the
    * dedup-planning read-out (a fat head of size-2 clusters wants
    * hash-groupBy dedup; a long tail of giant clusters wants the
    * q116 span-removal path and predicts connected-components cost
    * for the near-dup families). Two integer groupBys, map-combinable.
    * Returns (cluster_size, n_clusters, n_docs) ascending. */
  def dupClusterSizes(docs: DataFrame, textCol: String): DataFrame = {
    docs.filter(col(textCol).isNotNull)
      .groupBy(md5(col(textCol)).as("__fp"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum("cluster_size").as("n_docs"))
      .orderBy("cluster_size")
  }

  /** Similarity-threshold sweep: exact Jaccard of every candidate
    * pair, banded on the integer lattice (band = ⌊10·J⌋ via
    * (10·inter) div union — no float boundary), with the cumulative
    * pair count at-or-above each band — the table that picks the
    * near-dup threshold BEFORE committing a full dedup run ("how many
    * pairs does τ = 0.8 vs 0.7 actually merge").
    *
    * Scale shape: the same token-postings equi-join as
    * [[jaccardJoinPrefix]]'s verify stage but WITHOUT the prefix cut
    * (every band ≥ minBand/10 is wanted, so there is no threshold to
    * prune with) — bounded by posting-list sizes, same operating
    * contract as q236; the histogram + top-down cumulative ride the
    * ≤10-row band frame. Returns (band, n_pairs, n_at_or_above)
    * ascending. */
  def jaccardBandSweep(df: DataFrame, idCol: String, textCol: String,
                       minBand: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = df.select(col(idCol).as("id"),
        array_distinct(Text.tokens(col(textCol))).as("w"))
      .filter(size(col("w")) > 0)
    val tok = docs.select(col("id"), explode(col("w")).as("t"))
    val sizes = docs.select(col("id"), size(col("w")).cast("long").as("sz"))
    val common = tok.as("a").join(tok.as("b"),
        col("a.t") === col("b.t") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("__ia"), col("b.id").as("__ib"))
      .agg(count(lit(1)).as("__c"))
    val banded = common
      .join(sizes.select(col("id").as("__ia"), col("sz").as("__sa")),
        "__ia")
      .join(sizes.select(col("id").as("__ib"), col("sz").as("__sb")),
        "__ib")
      .select(expr("(10 * __c) div (__sa + __sb - __c)").as("band"))
      .filter(col("band") >= minBand)
    val w = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded.groupBy("band").agg(count(lit(1)).as("n_pairs"))
      .withColumn("n_at_or_above", sum("n_pairs").over(w))
      .orderBy("band")
  }

  /** Dedup savings projection per group: if exact dedup keeps the
    * FIRST doc (smallest id) of every content-hash cluster, how many
    * tokens does each source shed — the pipeline-economics table that
    * turns q435's cluster histogram into a storage/compute number
    * before the dedup job runs. One hash groupBy + one join + one
    * integer aggregate. Returns (group, n_docs, n_tokens,
    * tokens_removed, savings 6dp). */
  def dedupSavings(docs: DataFrame, idCol: String, textCol: String,
                   groupCol: String): DataFrame = {
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        col(groupCol).as("group"), md5(col(textCol)).as("__fp"),
        size(Text.tokens(col(textCol))).cast("long").as("__tok"))
    val first = base.groupBy("__fp").agg(min("__id").as("__first"))
    base.join(first, Seq("__fp"))
      .groupBy("group")
      .agg(count(lit(1)).as("n_docs"),
        sum("__tok").as("n_tokens"),
        sum(when(col("__id") > col("__first"), col("__tok"))
          .otherwise(0L)).as("tokens_removed"))
      .withColumn("savings",
        round(col("tokens_removed").cast("double") / col("n_tokens"),
          6))
      .orderBy("group")
  }

  /** Directed duplicate-ATTRIBUTION matrix: under keep-first dedup
    * (global min doc id wins its fingerprint cluster), how many rows
    * does each source LOSE, attributed to the source that keeps the
    * canonical copy — the "who copies whom" read that
    * [[crossSourceDupShare]]'s symmetric share can't answer
    * (a mirror that re-hosts src0 shows up as (src0, mirror) mass,
    * not the reverse).
    *
    * Scale shape: the corpus collapses to (fingerprint, source) CELLS
    * with count + min id in the one corpus-scale groupBy; the winner
    * per fingerprint is a min-struct over those cells and the join
    * back is cell-sized. Returns (winner_source, dup_source,
    * n_dup_rows > 0) ordered.
    *
    * `prefixChars > 0` switches the cluster key to the normalized
    * first-k-character fingerprint — TEMPLATE-family attribution (the
    * [[graft.text.Templates.sharedPrefixes]] families, directed):
    * who keeps the canonical copy of each shared header. */
  def dupAttribution(docs: DataFrame, idCol: String, srcCol: String,
                     textCol: String, prefixChars: Int = 0): DataFrame = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val fp = if (prefixChars > 0) md5(substring(norm, 1, prefixChars))
             else graft.text.Text.fingerprint(col(textCol))
    val cells = docs
      .select(fp.as("__fp"),
        col(srcCol).as("__src"), col(idCol).cast("long").as("__id"))
      .groupBy("__fp", "__src")
      .agg(count(lit(1)).as("__n"), min("__id").as("__mid"))
    val w = cells.groupBy("__fp")
      .agg(min(struct(col("__mid"), col("__src"))).as("__w"))
      .select(col("__fp"), col("__w.__src").as("winner_source"))
    cells.join(w, Seq("__fp"))
      .select(col("winner_source"), col("__src").as("dup_source"),
        (col("__n") - when(col("__src") === col("winner_source"), 1L)
          .otherwise(0L)).as("__losers"))
      .groupBy("winner_source", "dup_source")
      .agg(sum("__losers").as("n_dup_rows"))
      .filter(col("n_dup_rows") > 0)
      .orderBy("winner_source", "dup_source")
  }
}
