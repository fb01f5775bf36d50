package graft.dedup

import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Leakage-safe train/test assignment: documents linked by shared
  * content must land in the SAME split, or the held-out set silently
  * contains near-copies of training rows and every eval number is
  * inflated (the train/test contamination failure mode of Lee et al.
  * 2022 §6.2 — splitting AFTER dedup-linking, not before, is the fix).
  *
  * Linking relation: two docs share a rare anchor shingle
  * (`shingleSize`-gram with corpus doc-frequency in [2, maxDf] — the
  * df cap drops boilerplate exactly like the ExactSubstr kernel's
  * guard). Components come from `iters` rounds of synchronous
  * MIN-LABEL propagation (label(v) ← min(label(v), min over
  * neighbors)), so two docs within `iters` hops share a label — a
  * k-HOP CLOSURE, the practical contamination radius, not full
  * connected components (chains longer than `iters` can still split;
  * the returned `n_cross_pairs` audits exactly that residue, and 0
  * certifies the split leak-free under the link relation).
  *
  * Scale shape: one shingle explode + one df-capped self-join build
  * the edge list (≤ maxDf² pairs per anchor); each propagation round
  * is one keyed join + one min-groupBy (PageRank-round budget); the
  * fold draw is the repo-standard portable md5 predicate on the
  * component label, so the assignment is reproducible on any engine
  * and any rerun. Returns per split: (split, n_docs, n_components,
  * n_cross_pairs) with n_cross_pairs the global linked-pair count
  * crossing splits (same value on both rows — an audit column).
  */
object LeakageSplit {

  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 8, maxDf: Int = 5,
                       iters: Int = 4, trainFraction: Double = 0.8,
                       seed: Long = 42L): DataFrame = Checkpoints.scoped {
    require(iters >= 1 && iters <= 8, s"iters $iters out of range")
    require(trainFraction > 0 && trainFraction < 1)
    val docs = df.select(col(idCol).cast("long").as("id"),
      col(textCol).as("__text"))
    // checkpointed: rare and linked both read the exploded shingle
    // frame, and the pair self-join reads linked twice — without the
    // checkpoints the corpus explode+distinct ran three times
    val sh = Checkpoints.local(docs.select(col("id"), explode(
        graft.functions.Signatures.wordShingles(col("__text"), shingleSize))
        .as("g"))
      .distinct())
    val rare = sh.groupBy("g").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
      .select("g")
    val linked = Checkpoints.local(sh.join(rare, Seq("g")))
    val edges = Checkpoints.local(linked.select(col("g"), col("id").as("a"))
      .join(linked.select(col("g"), col("id").as("b")), Seq("g"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct())
    val symEdges = edges.union(edges.select(col("b").as("a"),
      col("a").as("b")))
    var lab = Checkpoints.local(docs.select(col("id"), col("id").as("label")))
    for (_ <- 1 to iters) {
      val nbrMin = symEdges.join(lab, symEdges("b") === lab("id"))
        .groupBy(col("a")).agg(min("label").as("__nl"))
      val next = Checkpoints.local(lab.join(nbrMin, lab("id") === nbrMin("a"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("__nl"), col("label")))
            .as("label")))
      lab = next
    }
    // portable md5 fold on the component label (stratifiedSplit scheme)
    val cut = f"${math.min((trainFraction * 4294967296L).toLong, 4294967295L)}%08x"
    val draw = substring(md5(concat_ws(":",
      col("label").cast("string"), lit(seed.toString))), 1, 8)
    val assigned = Checkpoints.local(lab.withColumn("split",
      when(draw < lit(cut), "train").otherwise("test")))
    val cross = edges
      .join(assigned.select(col("id").as("a"), col("split").as("__sa")), "a")
      .join(assigned.select(col("id").as("b"), col("split").as("__sb")), "b")
      .agg(sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L))
        .as("n_cross_pairs"))
    Checkpoints.local(assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("label").as("n_components"))
      .crossJoin(broadcast(cross))
      .select(col("split"), col("n_docs"), col("n_components"),
        coalesce(col("n_cross_pairs"), lit(0L)).as("n_cross_pairs")))
  }
}
