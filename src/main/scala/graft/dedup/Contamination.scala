package graft.dedup

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark-contamination audit — the decontamination step every
  * training-data pipeline runs before reporting eval numbers: how
  * much of each EVAL document's n-gram mass already appears in the
  * TRAIN split? (The GPT-3 appendix-C / FineWeb convention: a doc is
  * contaminated when a large share of its shingles collide with the
  * eval set — here measured symmetrically, per eval doc against the
  * train shingle universe.)
  *
  * Scale shape: one explode to DISTINCT (doc, shingle) per side; the
  * train side collapses to its distinct-shingle universe (the shuffle
  * unit, vocabulary-sized); the hit test is a LEFT SEMI-shaped join
  * (left join + flag) on the shingle key; per-doc shares are one
  * groupBy. Identical plan family to q129 novelty — no all-pairs
  * anything at any corpus size.
  */
object Contamination {

  /** Top-k most contaminated eval docs: (doc_id, n_shingles, n_hit,
    * overlap 4dp), overlap = hit share of the doc's distinct
    * word n-grams, ordered (overlap desc, doc_id). `isEval` splits
    * the corpus; train = everything else. */
  def evalOverlap(docs: DataFrame, idCol: String, textCol: String,
                  isEval: Column, n: Int = 8,
                  topK: Int = 20): DataFrame = {
    val sh = docs.select(col(idCol).as("__id"), isEval.as("__e"),
        explode(graft.functions.Signatures.wordShingles(col(textCol), n))
          .as("__sh"))
      .distinct()
    val trainSh = sh.filter(!col("__e")).select(col("__sh")).distinct()
      .withColumn("__hit", lit(1L))
    sh.filter(col("__e"))
      .join(trainSh, Seq("__sh"), "left")
      .groupBy(col("__id").as("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("overlap",
        round(col("n_hit").cast("double") / col("n_shingles"), 4))
      .orderBy(col("overlap").desc, col("doc_id")).limit(topK)
  }

  /** Asymmetric shingle CONTAINMENT on a bounded candidate set:
    * c(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| — the sub-document-duplication
    * measure symmetric Jaccard misses (a doc quoted whole inside a
    * longer doc has c ≈ 1 but Jaccard ≪ 1). Pairs come from the
    * shared-shingle join (only docs sharing ≥ 1 shingle meet), the
    * exact-oracle baseline of the banded LSH scale path (the q28
    * convention). Returns pairs with containment ≥ minC and
    * jaccard < containment: (doc_a, doc_b, n_a, n_b, inter,
    * containment 4dp, jaccard 4dp), doc_a ≠ doc_b, both directions.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, minC: Double = 0.8): DataFrame = {
    val sh = docs.select(col(idCol).as("__id"),
        explode(graft.functions.Signatures.wordShingles(col(textCol), n))
          .as("__sh"))
      .distinct()
    val sizes = sh.groupBy("__id").agg(count(lit(1)).as("__sz"))
    val inter = sh.select(col("__id").as("doc_a"), col("__sh"))
      .join(sh.select(col("__id").as("doc_b"), col("__sh")), Seq("__sh"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("__id").as("doc_a"), col("__sz").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("__id").as("doc_b"), col("__sz").as("n_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("inter"),
        round(col("inter").cast("double") / col("n_a"), 4)
          .as("containment"),
        round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")), 4).as("jaccard"))
      .filter(col("containment") >= minC &&
        col("jaccard") < col("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** Benchmark-contamination sweep: [[evalOverlap]] for SEVERAL
    * benchmark predicates at once — "which eval set leaks most into
    * the training pool", summarized to one row per benchmark. The
    * shingle pass runs ONCE; each benchmark contributes a tag column
    * and its own train-universe semi-join. A doc is CONTAMINATED when
    * half or more of its shingles already sit in that benchmark's
    * train split (integer-lattice gate 2·hit ≥ n). Mean overlap is a
    * 9dp-quantized decimal mean. Returns (benchmark, n_eval,
    * mean_overlap 6dp, n_contaminated) ordered. */
  def contaminationSweep(docs: DataFrame, idCol: String,
                         textCol: String,
                         benchmarks: Seq[(String, Column)],
                         n: Int = 8): DataFrame = Checkpoints.scoped {
    import org.apache.spark.sql.types.DecimalType
    require(benchmarks.nonEmpty)
    val sh = Checkpoints.local(docs.select(
        (col(idCol).as("__id") +:
          benchmarks.map { case (nm, pred) => pred.as(s"__e_$nm") }) :+
          explode(graft.functions.Signatures
            .wordShingles(col(textCol), n)).as("__sh"): _*)
      .distinct())
    val perBench = benchmarks.map { case (nm, _) =>
      val e = col(s"__e_$nm")
      val train = sh.filter(!e).select("__sh").distinct()
        .withColumn("__hit", lit(1L))
      sh.filter(e)
        .join(train, Seq("__sh"), "left")
        .groupBy(col("__id"))
        .agg(count(lit(1)).as("__n"),
          sum(coalesce(col("__hit"), lit(0L))).as("__h"))
        .agg(count(lit(1)).as("n_eval"),
          round(sum(round(col("__h").cast("double") / col("__n"), 9)
            .cast(DecimalType(28, 9))).cast("double") /
            count(lit(1)), 6).as("mean_overlap"),
          sum((col("__h") * 2 >= col("__n")).cast("long"))
            .as("n_contaminated"))
        .select(lit(nm).as("benchmark"), col("n_eval"),
          col("mean_overlap"), col("n_contaminated"))
    }
    Checkpoints.local(perBench.reduce(_ unionByName _).orderBy("benchmark"))
  }
}
