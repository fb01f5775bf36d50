package graft.dedup

import graft.core.Checkpoints
import graft.text.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * SIGMOD 2003 — the MOSS algorithm): slide a window of `w` consecutive
  * k-gram hashes over each document and record the MINIMUM hash of each
  * window (rightmost position on ties). The selected set is a local
  * fingerprint sketch with a hard guarantee the minhash family lacks:
  * any shared substring of at least w + k - 1 tokens is ALWAYS caught
  * (at least one window inside it selects the same k-gram in both
  * documents), at an expected density of 2/(w+1) of the k-grams.
  *
  * Cross-engine determinism: the k-gram "hash" is its md5 hex string —
  * 32 lowercase hex chars on Spark and DuckDB alike, so lexicographic
  * string order IS the order on the 128-bit value. The rightmost-min
  * tie rule rides along by appending `(10^10 - 1) - position` zero-padded
  * to 10 digits: larger positions sort smaller, so one plain `array_min`
  * per window implements argmin-with-rightmost-tie exactly, identically
  * on both engines.
  *
  * Scale shape at 100 TB: k-gram hashes explode to instance rows and the
  * sliding min runs as ONE window partitioned by document (per-partition
  * work is a doc's own k-grams — thousands of tiny partitions, O(m·w)
  * row work, codegen'd WindowExec; an array-of-windows formulation was
  * rejected because the optimizer inlines the key array into every
  * window lambda, an O(m²) re-expansion per document). Only the selected
  * sketch (≈ 2/(w+1) of k-grams) survives past the window. Candidate
  * pairing joins on the fingerprint hash with a document-frequency cap,
  * the same bounded-bucket shape as the MinHash band join in
  * [[Dedup.minhashLsh]].
  *
  * Reference behavior anchor: the reference's whole-doc content hashing
  * (workbench: src/workbench/utils/pandas_utils.py dataframe-hash
  * helpers) only catches EXACT duplicates; winnowing is the
  * position-robust extension a crawl-scale pipeline pairs with it.
  */
object Winnowing {

  private[graft] val posPad = 9999999999L // 10^10 - 1: inverted-position suffix

  /** Per-document token staging: (__id, keepCols…, __ws, __m) with
    * __m = k-gram count; documents shorter than k + w - 1 tokens have
    * no complete window and drop. */
  private def staged(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, w: Int, keepCols: Seq[String]): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select((col(idCol).as("__id") +: keepCols.map(col)) :+
        Text.tokens(col(textCol)).as("__ws"): _*)
      .withColumn("__m", (size(col("__ws")) - (k - 1)).cast("long"))
      .filter(col("__m") >= w)

  /** Selected fingerprint keys, one row per (doc, distinct key): the
    * k-gram hashes explode to instance rows and each window start takes
    * its min over a per-doc sliding frame (ROWS CURRENT..w-1 FOLLOWING)
    * — O(m·w) row work inside one partition-by-doc window, never the
    * O(m²) re-expansion an array-of-windows formulation costs when the
    * optimizer inlines the key array into every window lambda. */
  private def selectedKeys(st: DataFrame, k: Int, w: Int,
                           carry: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inst = st.select(col("__id") +: col("__m") +: carry.map(col) :+
        posexplode(transform(sequence(lit(1L), col("__m")), i =>
          md5(concat_ws(" ",
            slice(col("__ws"), i.cast("int"), lit(k)))))): _*)
      .select(col("__id") +: col("__m") +: carry.map(col) :+
        (col("pos") + 1).as("__p") :+
        concat(col("col"),
          lpad((lit(posPad) - col("pos") - 1).cast("string"), 10, "0"))
          .as("__key"): _*)
    val win = Window.partitionBy("__id").orderBy("__p")
      .rowsBetween(Window.currentRow, w - 1)
    inst.withColumn("__fp", min("__key").over(win))
      .filter(col("__p") <= col("__m") - (w - 1))
      .select(col("__id") +: col("__m") +: carry.map(col) :+
        col("__fp"): _*)
      .distinct()
  }

  /** Fingerprint-density read per source: how many k-grams each source
    * contributes, how many winnow fingerprints were selected, and the
    * realized density (theory: 2/(w+1) for random hashes — a source
    * whose density sits far above it is template-heavy: repeated
    * minima get re-selected across windows). Returns
    * (source, n_docs, n_kgrams, n_fingerprints, density 6dp). */
  def densityBySource(docs: DataFrame, idCol: String, srcCol: String,
                      textCol: String, k: Int = 3, w: Int = 4): DataFrame =
    selectedKeys(staged(docs, idCol, textCol, k, w, Seq(srcCol)),
        k, w, carry = Seq(srcCol))
      // (srcCol, __m) ride the fingerprint rows (functionally dependent
      // on __id), so per-doc and per-source rollups need no join back
      .groupBy("__id", srcCol, "__m")
      .agg(count(lit(1)).as("__nfp"))
      .groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum("__m").as("n_kgrams"),
        sum("__nfp").as("n_fingerprints"))
      .withColumn("density",
        round(col("n_fingerprints").cast("double") / col("n_kgrams"), 6))
      .orderBy("source")

  /** Near-duplicate candidate pairs: documents sharing at least
    * `minShared` distinct winnow fingerprint HASHES (position stripped —
    * a match anywhere in either document counts). Fingerprints seen in
    * more than `maxDf` documents are dropped before pairing — they are
    * corpus boilerplate, and keeping them would square the join output
    * on exactly the buckets that carry no dedup signal (the standard
    * prefix-filter discipline). Returns (id_a, id_b, n_shared). */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 3, w: Int = 4, minShared: Int = 2,
                     maxDf: Int = 10): DataFrame = Checkpoints.scoped {
    // materialize once: both sides of the pair join read this frame,
    // and it is the SMALL post-winnowing sketch (~2/(w+1) of k-grams)
    val fpd = Checkpoints.local(selectedKeys(staged(docs, idCol, textCol, k, w, Nil), k, w)
      .select(col("__id"), substring(col("__fp"), 1, 32).as("__h"))
      .distinct())
    val dfq = fpd.groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
    val keep = fpd.join(dfq, Seq("__h"))
    keep.as("a").join(keep.as("b"),
        col("a.__h") === col("b.__h") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("id_a", "id_b")
  }

  /** Operating curve for the [[candidatePairs]] threshold: how many
    * pairs survive each n_shared cut. Returns one row per observed
    * n_shared value — (n_shared, n_pairs, n_pairs_at_least) with the
    * cumulative count from the top — so a pipeline owner reads off the
    * pair volume (and thus the verify-stage cost) of any minShared
    * choice before committing to one. The cumulative window runs on
    * the spectrum frame: distinct-n_shared-sized, metadata not corpus. */
  def sharedSpectrum(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 3, w: Int = 4, maxDf: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spec = candidatePairs(docs, idCol, textCol, k, w,
        minShared = 1, maxDf = maxDf)
      .groupBy("n_shared")
      .agg(count(lit(1)).as("n_pairs"))
    spec.withColumn("n_pairs_at_least",
        sum("n_pairs").over(Window.orderBy(col("n_shared").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("n_shared")
  }
}
