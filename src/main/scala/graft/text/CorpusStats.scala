package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-composition statistics beyond per-document signals (beyond
  * the reference's operator set — north-star scope): n-gram novelty
  * per document and the Zipf rank-frequency slope per corpus slice —
  * the two diagnostics a data team reads before deciding what another
  * crawl increment is worth.
  */
object CorpusStats {

  /** Per-document n-gram NOVELTY under first-seen attribution: a
    * document's distinct shingles are "novel" iff no earlier document
    * (lower id) contains them. Returns (idCol, n_shingles, n_novel,
    * novelty = n_novel / n_shingles, 4dp). The head of a crawl scores
    * ~1; a late near-copy scores ~0 — the marginal-value curve of a
    * data source is the novelty trend over ingest order.
    *
    * Scale shape: one explode to DISTINCT (id, shingle), one groupBy
    * per shingle for its first-seen id (map-side-combined min), one
    * equi-join back on the shingle, one groupBy per document. No
    * all-pairs anything; the shingle frequency table is the shuffle
    * unit, exactly like [[Text.vocabulary]]. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol),
        explode(graft.functions.Signatures.wordShingles(col(textCol), n)).as("__sh"))
      .distinct()
    val firstSeen = sh.groupBy("__sh").agg(min(col(idCol)).as("__first"))
    sh.join(firstSeen, Seq("__sh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum((col(idCol) === col("__first")).cast("long")).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 4))
  }

  /** Zipf rank-frequency diagnostics per corpus slice: fit
    * log(freq) = a + b·log(rank) by least squares over the term
    * frequency table and report the slope b (natural text ≈ −1;
    * template/boilerplate-heavy slices flatten, synthetic word soup
    * steepens), plus vocab size and token count.
    * Returns (groupCol, n_terms, n_tokens, zipf_slope 4dp).
    *
    * Scale shape: term frequencies are one map-side-combined groupBy;
    * ranks come from a window PARTITIONED BY the slice (each slice's
    * vocabulary is bounded — the window never sees the corpus, only
    * a slice's term table); the regression is a closed-form aggregate.
    * Rank ties break by term for determinism. */
  def zipfSlope(docs: DataFrame, groupCol: String, textCol: String,
                minCount: Long = 1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col(groupCol), explode(Text.tokens(col(textCol))).as("__t"))
      .groupBy(col(groupCol), col("__t")).agg(count(lit(1)).as("__f"))
      .filter(col("__f") >= minCount)
    val ranked = tf.withColumn("__r",
      row_number().over(Window.partitionBy(col(groupCol))
        .orderBy(desc("__f"), asc("__t"))))
    val x = log(col("__r").cast("double"))
    val y = log(col("__f").cast("double"))
    ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("__f")).as("n_tokens"),
        // slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        round(
          (count(lit(1)) * sum(x * y) - sum(x) * sum(y)) /
            (count(lit(1)) * sum(x * x) - sum(x) * sum(x)), 4)
          .as("zipf_slope"))
  }

  /** Corpus novelty curve over ingest order: bucket the doc-id axis
    * into `grid` equal ranges (exact long math, the q327 bucketing)
    * and report, per bucket, how many of its distinct word-shingles
    * were NEVER seen in an earlier bucket — the "is new data still
    * adding new content or just repeats" read-out that tells a
    * pipeline when another crawl of the same sources stops paying.
    * One shingle pass; new-per-bucket is a min-bucket groupBy (the
    * heaps-law plan at shingle granularity). Returns
    * (bucket, n_distinct, n_new, novelty 6dp) ascending. */
  def noveltyCurve(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, grid: Int = 16): DataFrame = {
    require(grid >= 2 && grid <= 1024)
    val ids = docs.agg(min(col(idCol).cast("long")),
      max(col(idCol).cast("long"))).head()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val span = hi - lo + 1
    val bucket = expr(
      s"((CAST(`$idCol` AS BIGINT) - ${lo}L) * ${grid}L) div ${span}L")
      .as("__b")
    val sh = docs.select(bucket,
        explode(graft.functions.Signatures.wordShingles(col(textCol), n))
          .as("__sh"))
      .groupBy("__b", "__sh").agg(count(lit(1)).as("__dummy"))
      .select("__b", "__sh")
    val firstB = sh.groupBy("__sh").agg(min("__b").as("__fb"))
    sh.join(firstB, Seq("__sh"))
      .groupBy(col("__b").as("bucket"))
      .agg(count(lit(1)).as("n_distinct"),
        sum((col("__b") === col("__fb")).cast("long")).as("n_new"))
      .withColumn("novelty",
        round(col("n_new").cast("double") / col("n_distinct"), 6))
      .orderBy("bucket")
  }

  /** Boilerplate mass per source: the share of each source's shingle
    * INSTANCES that belong to high-document-frequency shingles
    * (df ≥ minDf distinct docs) — how much of a feed is navigation
    * chrome, license footers and templates rather than content; the
    * mass-weighted companion to q103's line dedup (which counts
    * lines, not the share of text they occupy). "Instances" are
    * per-doc DISTINCT shingles (the wordShingles contract). One
    * shingle pass; doc-frequency re-aggregates from the same
    * frame; all-integer counts. Returns (source, n_instances,
    * n_boilerplate, boilerplate_share 6dp). */
  def boilerplateMass(docs: DataFrame, idCol: String, srcCol: String,
                      textCol: String, n: Int = 3,
                      minDf: Long = 5L): DataFrame = {
    val inst = docs.select(col(idCol).as("__id"),
      col(srcCol).as("source"),
      explode(graft.functions.Signatures.wordShingles(col(textCol), n))
        .as("__sh"))
    val dfreq = inst.select("__id", "__sh").distinct()
      .groupBy("__sh").agg(count(lit(1)).as("__df"))
    inst.join(dfreq, Seq("__sh"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_instances"),
        sum((col("__df") >= minDf).cast("long")).as("n_boilerplate"))
      .withColumn("boilerplate_share",
        round(col("n_boilerplate").cast("double") / col("n_instances"),
          6))
      .orderBy("source")
  }

  /** Mixture reweighting: given TARGET token shares per source (the
    * training-mix recipe), the per-source sampling weight that turns
    * the current corpus composition into the target —
    * weight = target_share / current_share, capped (a rare source
    * cannot be upsampled without bound), plus the expected post-sample
    * token count. The knob every multi-source pretraining pipeline
    * tunes (pile/ROOTS-style mixture tables). One integer token
    * aggregate per source; the share arithmetic is metadata. Sources
    * missing from `targetShares` get target 0 (dropped from the mix).
    * Returns (source, n_docs, n_tokens, current_share 6dp,
    * target_share 6dp, weight 6dp, expected_tokens) ordered. */
  def mixtureReweight(docs: DataFrame, srcCol: String, textCol: String,
                      targetShares: Map[String, Double],
                      cap: Double = 3.0): DataFrame = {
    val per = docs.filter(col(textCol).isNotNull)
      .groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Text.tokens(col(textCol))).cast("long")).as("n_tokens"))
    val tot = per.agg(sum("n_tokens").as("__t"))
    val target = targetShares.foldLeft(lit(0.0)) { case (acc, (s, p)) =>
      when(col("source") === s, lit(p)).otherwise(acc) }
    per.crossJoin(broadcast(tot))
      .withColumn("current_share",
        round(col("n_tokens").cast("double") / col("__t"), 6))
      .withColumn("target_share", round(target, 6))
      .withColumn("weight", round(least(
        try_divide(col("target_share"), col("current_share")),
        lit(cap)), 6))
      .withColumn("expected_tokens",
        round(col("weight") * col("n_tokens"), 0).cast("long"))
      .select("source", "n_docs", "n_tokens", "current_share",
        "target_share", "weight", "expected_tokens")
      .orderBy("source")
  }

  /** Materialize the [[mixtureReweight]] plan: deterministically keep,
    * per source, the hash-ranked prefix of documents whose cumulative
    * token count fits the source's token budget
    * (weight × current tokens, weight computed exactly as
    * mixtureReweight does). Down-weighting drops the hash-rank tail;
    * weight ≥ 1 keeps the whole source (up-sampling is a repeat
    * factor at training time, not row duplication here).
    *
    * Scale shape: one per-source window (partitioned by source,
    * ordered by md5(id) — the q411 deterministic-sample convention)
    * carrying a running token sum; everything else is the ≤|sources|
    * summary frame. Returns (source, n_docs, n_tokens, n_kept,
    * tokens_kept, realized_share 6dp) ordered. */
  def mixtureApply(docs: DataFrame, srcCol: String, idCol: String,
                   textCol: String, targetShares: Map[String, Double],
                   cap: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("source"), col(idCol).as("__id"),
        size(Text.tokens(col(textCol))).cast("long").as("__tok"))
    val per = base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("__tok").as("n_tokens"))
    val tot = per.agg(sum("n_tokens").as("__t"))
    val target = targetShares.foldLeft(lit(0.0)) { case (acc, (s, p)) =>
      when(col("source") === s, lit(p)).otherwise(acc) }
    val budgets = per.crossJoin(broadcast(tot))
      .withColumn("__share",
        round(col("n_tokens").cast("double") / col("__t"), 6))
      .withColumn("__w", round(least(
        try_divide(round(target, 6), col("__share")), lit(cap)), 6))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("__w") * col("n_tokens")).as("__budget"))
    val w = Window.partitionBy("source")
      .orderBy(md5(col("__id").cast("string")), col("__id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = base.withColumn("__cum", sum("__tok").over(w))
      .join(budgets, Seq("source"))
      .withColumn("__keep", col("__cum") <= col("__budget"))
    val summary = kept.groupBy("source")
      .agg(first("n_docs").as("n_docs"), first("n_tokens").as("n_tokens"),
        sum(col("__keep").cast("long")).as("n_kept"),
        sum(when(col("__keep"), col("__tok")).otherwise(0L))
          .as("tokens_kept"))
    val keptTot = summary.agg(sum("tokens_kept").as("__kt"))
    summary.crossJoin(broadcast(keptTot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_kept"), col("tokens_kept"),
        round(try_divide(col("tokens_kept").cast("double"),
          col("__kt").cast("double")), 6).as("realized_share"))
      .orderBy("source")
  }

  /** Per-source token-FERTILITY profile: word-length distribution
    * summarized as mean / type-1 p50 / p90 word length plus tokens per
    * document — the chars-per-token read a tokenizer team checks before
    * pointing a BPE train at a new source (long-word sources inflate
    * fertility; a shifted p90 flags code or URL contamination).
    *
    * Scale shape: one explode to (source, word_len) CELLS — the cell
    * frame is at most #sources x max word length rows, so the prefix
    * windows that extract the percentiles sort cells, never tokens.
    * Integer-lattice percentiles (least length with cum*k >= n*q) and
    * exact integer sums for the means, same kernel as
    * [[graft.operators.Events.latencyPercentiles]]. */
  def tokenFertility(docs: DataFrame, srcCol: String,
                     textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.filter(col(textCol).isNotNull)
    val nd = base.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val cells = base
      .select(col(srcCol).as("source"),
        explode(Text.tokens(col(textCol))).as("__tok"))
      .select(col("source"), length(col("__tok")).cast("long").as("__len"))
      .groupBy("source", "__len")
      .agg(count(lit(1)).as("__c"))
    val wc = Window.partitionBy("source").orderBy("__len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy("source")
    val per = cells
      .withColumn("__cum", sum("__c").over(wc))
      .withColumn("__n", sum("__c").over(wt))
      .withColumn("__chars", sum(col("__len") * col("__c")).over(wt))
      .groupBy("source")
      .agg(first("__n").as("n_tokens"),
        round(first("__chars").cast("double") / first("__n"), 4)
          .as("mean_word_len"),
        min(when(col("__cum") * 2 >= col("__n"), col("__len")))
          .as("p50_word_len"),
        min(when(col("__cum") * 10 >= col("__n") * 9, col("__len")))
          .as("p90_word_len"))
    nd.join(per, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("mean_word_len"), col("p50_word_len"), col("p90_word_len"),
        round(col("n_tokens").cast("double") / col("n_docs"), 4)
          .as("tokens_per_doc"))
      .orderBy("source")
  }

  /** Length x quality occupancy GRID: documents bucketed by char
    * length (equi-width `lenWidth`, top bucket open) and by stopword
    * ratio (tenths, integer-exact `(10*n_stop) div n_tokens`), with
    * per-cell doc count, pooled stopword ratio, and mean length — the
    * 2-D curation heatmap that shows WHERE a length or quality cut
    * would bite before anyone commits to thresholds.
    *
    * Scale shape: one scan, one groupBy on (len_bucket, q_bucket) —
    * at most (maxBucket+1)^2 cells. All bucket math on the integer
    * lattice (floor division via pmod), so cell membership is
    * bit-identical on every engine. */
  def lengthQualityGrid(docs: DataFrame, textCol: String,
                        lenWidth: Int = 100, maxBucket: Int = 9,
                        lang: String = "en"): DataFrame = {
    val t = col(textCol)
    val sw = array(Text.stopwords(lang).map(lit): _*)
    val base = docs.filter(t.isNotNull)
      .select(length(t).cast("long").as("__nc"), Text.tokens(t).as("__t"))
      .select(col("__nc"),
        size(col("__t")).cast("long").as("__nt"),
        size(filter(col("__t"), x => array_contains(sw, x))).cast("long")
          .as("__ns"))
    val lw = lit(lenWidth.toLong)
    val lenB = least((col("__nc") - pmod(col("__nc"), lw)) / lw,
      lit(maxBucket.toLong)).cast("long")
    val tenNs = col("__ns") * 10
    val qB = when(col("__nt") === 0, lit(0L))
      .otherwise(least((tenNs - pmod(tenNs, col("__nt"))) / col("__nt"),
        lit(maxBucket.toLong)).cast("long"))
    base
      .select(lenB.as("len_bucket"), qB.as("q_bucket"),
        col("__nc"), col("__nt"), col("__ns"))
      .groupBy("len_bucket", "q_bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(when(sum("__nt") === 0, lit(0.0))
          .otherwise(sum("__ns").cast("double") / sum("__nt")), 4)
          .as("stopword_ratio"),
        round(sum("__nc").cast("double") / count(lit(1)), 4)
          .as("mean_chars"))
      .orderBy("len_bucket", "q_bucket")
  }

  /** WHERE in the document does duplicated text sit? Per doc-THIRD
    * (leading / middle / trailing, by shingle start position), the
    * share of n-gram instances whose shingle appears in >= 2 documents
    * — boilerplate concentrates at the edges (headers, footers,
    * signatures), plagiarized cores in the middle; the positional
    * profile tells a curation team whether span REMOVAL
    * ([[graft.dedup.Substrings.removeSharedSpans]]) or whole-doc
    * dedup is the right tool. Documents shorter than `n` tokens drop.
    *
    * Scale shape: instances aggregate to (shingle, third) CELLS in the
    * one corpus-scale shuffle (the q486 lesson — never join
    * instance-sized frames); the doc-frequency table joins those cells
    * at cell size. Returns (third 0|1|2, n_instances, n_dup_instances,
    * dup_share 6dp). */
  def dupSpanPosition(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    val staged = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), Text.tokens(col(textCol)).as("__t"))
      .select(col("__id"), col("__t"),
        (size(col("__t")) - (n - 1)).cast("long").as("__m"))
      .filter(col("__m") > 0)
    val inst = staged.select(col("__id"), col("__m"),
        posexplode(transform(sequence(lit(0L), col("__m") - 1),
          i => concat_ws(" ",
            slice(col("__t"), (i + 1).cast("int"), lit(n))))))
      .select(col("__id"), col("col").as("__sh"),
        ((col("pos") * 3 - pmod(col("pos") * 3, col("__m"))) / col("__m"))
          .cast("long").as("third"))
    val cells = inst.groupBy("__sh", "third")
      .agg(count(lit(1)).as("__n"))
    val dfreq = inst.select("__id", "__sh").distinct()
      .groupBy("__sh").agg(count(lit(1)).as("__df"))
    cells.join(dfreq, Seq("__sh"))
      .groupBy("third")
      .agg(sum("__n").as("n_instances"),
        sum(when(col("__df") >= 2, col("__n")).otherwise(lit(0L)))
          .as("n_dup_instances"))
      .withColumn("dup_share",
        round(col("n_dup_instances").cast("double") / col("n_instances"),
          6))
      .orderBy("third")
  }

  /** Document-frequency SPECTRUM of n-gram shingles: how many distinct
    * shingles (and what share of total instance mass) live at df=1,
    * df=2, 3–5, 6–10, 11+ — the full boilerplate-economics curve that
    * [[boilerplateMass]]'s single threshold samples one point of. A
    * healthy crawl is df=1-heavy; a template farm shows an 11+ hump.
    *
    * Scale shape: instances collapse to (doc, shingle) cells in the
    * one corpus-scale shuffle, then to one row per shingle (df +
    * instance count), then to <= 5 bucket rows; the total for the
    * share column is a 1-row broadcast. */
  def ngramDfHistogram(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3): DataFrame = {
    val per = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(graft.functions.Signatures.wordNgrams(col(textCol), n))
          .as("__sh"))
      .groupBy("__id", "__sh")
      .agg(count(lit(1)).as("__c"))
    val sh = per.groupBy("__sh")
      .agg(count(lit(1)).as("__df"), sum("__c").as("__inst"))
    val bucket = when(col("__df") === 1, "1")
      .when(col("__df") === 2, "2")
      .when(col("__df") <= 5, "3-5")
      .when(col("__df") <= 10, "6-10")
      .otherwise("11+")
    val ord = when(col("__df") === 1, 0).when(col("__df") === 2, 1)
      .when(col("__df") <= 5, 2).when(col("__df") <= 10, 3).otherwise(4)
    val b = sh.select(ord.as("bucket_order"), bucket.as("df_bucket"),
        col("__inst"))
      .groupBy("bucket_order", "df_bucket")
      .agg(count(lit(1)).as("n_shingles"), sum("__inst").as("n_instances"))
    b.crossJoin(b.agg(sum("n_instances").as("__t")))
      .select(col("bucket_order"), col("df_bucket"), col("n_shingles"),
        col("n_instances"),
        round(col("n_instances").cast("double") / col("__t"), 6)
          .as("instance_share"))
      .orderBy("bucket_order")
  }
}
