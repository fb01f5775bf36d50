package graft.text

import graft.core.{Checkpoints, TopK}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-source distinctive vocabulary via log-odds with a Dirichlet
  * prior (Monroe, Colaresi & Quinn 2008, "Fightin' Words") — the
  * corpus-comparison read-out a curation pipeline uses to see WHAT a
  * source over-represents before weighting it (complements the DSIR
  * importance weights, which hash terms into buckets and can't name
  * them).
  *
  * Scale shape: token counts are the [[Text.vocabulary]] two-stage
  * groupBy (per-doc combine first, so the wide shuffle carries
  * (source, term) rows, not tokens); per-source totals and the vocab
  * size are metadata aggregates broadcast back; z-scores are a pure
  * projection over the (source, term) count table; the final top-k is
  * a window PARTITIONED by source. Nothing all-pairs, nothing
  * single-partition.
  */
object Distinctive {

  /** Returns the `topK` highest-z terms per source:
    * (source, term, n_source, n_rest, log_odds, z). Terms with fewer
    * than `minCount` in-source occurrences are gated out before
    * ranking. `priorWeight` is the per-term pseudo-count α. */
  def distinctiveTerms(docs: DataFrame, sourceCol: String, textCol: String,
                       topK: Int = 5, minCount: Long = 5L,
                       priorWeight: Double = 0.5): DataFrame = Checkpoints.scoped {
    val perSource = Checkpoints.local(docs
      .select(col(sourceCol).as("source"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("y_sw")))
    val perTerm = perSource.groupBy("term").agg(sum("y_sw").as("y_w"))
    val totals = perSource.groupBy("source").agg(sum("y_sw").as("n_s"))
    val corpus = perSource.agg(sum("y_sw").as("n"),
      count_distinct(col("term")).as("v"))
    val a = lit(priorWeight)
    val scored = perSource
      .join(perTerm, "term")
      .join(broadcast(totals), "source")
      .crossJoin(broadcast(corpus))
      .withColumn("__a0", col("v") * a)
      .withColumn("__yr", col("y_w") - col("y_sw"))
      .withColumn("__nr", col("n") - col("n_s"))
      .withColumn("__lo",
        log((col("y_sw") + a) /
            (col("n_s") + col("__a0") - col("y_sw") - a)) -
        log((col("__yr") + a) /
            (col("__nr") + col("__a0") - col("__yr") - a)))
      // rank on the 6dp-ROUNDED z with a term tiebreak: a last-ulp
      // float divergence between engines cannot reorder the cut
      .withColumn("__z", round(col("__lo") /
        sqrt(lit(1.0) / (col("y_sw") + a) + lit(1.0) / (col("__yr") + a)), 6))
    Checkpoints.local(TopK(scored.filter(col("y_sw") >= minCount),
        Seq(col("source")), Seq(col("__z").desc, col("term")), topK)
      .select(col("source"), col("term"), col("y_sw").as("n_source"),
        col("__yr").as("n_rest"), round(col("__lo"), 6).as("log_odds"),
        col("__z").as("z")))
  }

  /** Per-source lexical-richness profile: token volume, vocabulary
    * size, type-token ratio, hapax-legomenon share, and length-weighted
    * mean token length — the vocabulary-health cut of the corpus
    * report (a source whose TTR collapses is template spam; one whose
    * hapax share explodes is OCR noise). Same two-stage vocabulary
    * groupBy as [[distinctiveTerms]]; the profile is one aggregate of
    * the (source, term) count table plus a doc-count join. Returns
    * (source, n_docs, n_tokens, n_types, ttr, hapax_frac,
    * mean_token_len). */
  def lexicalRichness(docs: DataFrame, sourceCol: String,
                      textCol: String): DataFrame = {
    val perSource = docs
      .select(col(sourceCol).as("source"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
    val nDocs = docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    perSource.groupBy("source")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("__hapax"),
        sum(length(col("term")) * col("c")).as("__len"))
      .join(broadcast(nDocs), "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_types"),
        round(col("n_types") / col("n_tokens").cast("double"), 6)
          .as("ttr"),
        round(col("__hapax") / col("n_types").cast("double"), 6)
          .as("hapax_frac"),
        round(col("__len") / col("n_tokens").cast("double"), 6)
          .as("mean_token_len"))
  }

  /** Bigram collocation mining by Dunning's log-likelihood ratio
    * (Dunning 1993 G²) — the statistically-sound "these two words
    * belong together" detector (raw PMI over-rewards rare pairs; the
    * 2×2 G² does not). Finds multiword terms worth protecting in
    * tokenization and templated boilerplate worth scrubbing.
    *
    * Scale shape: ONE tokenize pass emits adjacent-pair instances
    * (arrays_zip of the shifted token array — no self-join); the pair
    * groupBy is map-combinable; positional unigram margins (as first
    * word / as second word) are re-aggregated FROM the pair table, so
    * the corpus is read once. G² = 2·Σ k·ln(k/E) over the 2×2 with
    * xlogx(0) = 0. Returns the top-`topK` by (g2 desc, w1, w2) among
    * pairs with count ≥ `minCount`: (w1, w2, n_pair, n_w1, n_w2,
    * g2 6dp). */
  def collocations(docs: DataFrame, textCol: String, minCount: Long = 5,
                   topK: Int = 20): DataFrame = Checkpoints.scoped {
    val toks = Text.tokens(col(textCol))
    val pairs0 = docs.select(arrays_zip(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0)))).as("__z"))
      .select(explode(col("__z")).as("__p"))
      .select(col("__p.0").as("w1"), col("__p.1").as("w2"))
    val pc = Checkpoints.local(pairs0.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair")))
    val c1 = pc.groupBy("w1").agg(sum("n_pair").as("n_w1"))
    val c2 = pc.groupBy("w2").agg(sum("n_pair").as("n_w2"))
    val nTot = pc.agg(sum("n_pair").as("__N"))
    def xlx(k: Column, e: Column): Column =
      when(k > 0, k * log(k / e)).otherwise(lit(0.0))
    val n = col("__N").cast("double")
    val k11 = col("n_pair").cast("double")
    val k12 = (col("n_w1") - col("n_pair")).cast("double")
    val k21 = (col("n_w2") - col("n_pair")).cast("double")
    val k22 = n - col("n_w1") - col("n_w2") + col("n_pair")
    val r1 = col("n_w1").cast("double")
    val r2 = n - r1
    val s1 = col("n_w2").cast("double")
    val s2 = n - s1
    val g2 = lit(2.0) * (
      xlx(k11, r1 * s1 / n) + xlx(k12, r1 * s2 / n) +
      xlx(k21, r2 * s1 / n) + xlx(k22, r2 * s2 / n))
    pc.filter(col("n_pair") >= minCount)
      .join(c1, Seq("w1")).join(c2, Seq("w2"))
      .crossJoin(broadcast(nTot))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"),
        col("n_w2"), round(g2, 6).as("g2"))
      .orderBy(col("g2").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Heaps'-law fit: vocabulary growth V(n) ≈ K·n^β along the corpus
    * in doc-id order — the exponent that answers "how much NEW
    * vocabulary will the next 10× of data bring," the scaling question
    * behind tokenizer-vocab and dedup planning. β ≈ 0.5 for natural
    * text; β → 1 is id-like noise, β → 0 is a closed vocabulary.
    *
    * Scale shape: the doc axis is bucketed into `grid` equal-width
    * doc-id ranges in EXACT long arithmetic (portable), so the
    * cumulative frames are grid-sized — never #docs-sized (a per-doc
    * cumulative vocabulary would be a corpus-length window). One
    * tokenize pass yields (bucket, term); new-vocab-per-bucket is a
    * min-bucket groupBy; ln-ln OLS runs over ≤grid points. Returns one
    * row: (n_buckets, beta 6dp, k_coef 6dp, r2 6dp). */
  def heapsLaw(docs: DataFrame, idCol: String, textCol: String,
               grid: Int = 32): DataFrame = {
    require(grid >= 4 && grid <= 1024)
    val ids = docs.agg(min(col(idCol).cast("long")).as("__lo"),
      max(col(idCol).cast("long")).as("__hi")).head()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val span = hi - lo + 1
    // integer `div`, not double `/`: a correctly-rounded double ratio
    // can land ON the next integer when the true ratio is just below it
    val bucket = expr(
      s"((CAST(`$idCol` AS BIGINT) - ${lo}L) * ${grid}L) div ${span}L")
      .as("__b")
    val longF = docs.select(bucket,
        explode(Text.tokens(col(textCol))).as("__t"))
    val tokPerB = longF.groupBy("__b").agg(count(lit(1)).as("__tok"))
    val newPerB = longF.groupBy("__t").agg(min("__b").as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__new"))
    val w = Window.orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ln points quantize to integer NANO-UNITS (ln·10⁹, exactly the 9dp
    // decimal quantization, held as an integer) before the OLS power
    // sums: raw-double sums over the grid frame are order-dependent and
    // drift across engines/partitionings (round-10 lesson), and — the
    // q327 r10–r13 driver hash failure — casting the exact DECIMAL
    // second-order sums (unscaled ≈ 5·10²¹ ≫ 2⁵³) to double is itself
    // NOT portable (DuckDB's int128→double→÷10^scale path can
    // double-round where Spark's BigDecimal rounds once; the q366
    // lesson recorded in [[graft.core.Lattice]]). Integer sums +
    // Lattice's split-at-2⁵⁰ conversion + one power-of-ten divide give
    // the identical IEEE sequence on both engines.
    import org.apache.spark.sql.types.DecimalType
    val nano = lit(1000000000L).cast(DecimalType(10, 0))
    def nanoLn(c: Column): Column =
      (round(log(c.cast("double")), 9).cast(DecimalType(18, 9)) * nano)
        .cast(DecimalType(13, 0))
    val pts = tokPerB.join(newPerB, Seq("__b"), "left")
      .withColumn("__N", sum("__tok").over(w))
      .withColumn("__V", sum(coalesce(col("__new"), lit(0L))).over(w))
      .filter(col("__N") > 0 && col("__V") > 0)
      .select(nanoLn(col("__N")).as("__xi"), nanoLn(col("__V")).as("__yi"))
    val gi = pts.agg(count(lit(1)).as("n_buckets"),
      sum("__xi").as("__sxi"), sum("__yi").as("__syi"),
      sum(col("__xi") * col("__xi")).as("__sxxi"),
      sum(col("__yi") * col("__yi")).as("__syyi"),
      sum(col("__xi") * col("__yi")).as("__sxyi"))
    def pd(c: String, scale: String) = expr(
      s"${graft.core.Lattice.sparkPortableDoubleSigned(c)} / $scale")
    val g = gi.select(col("n_buckets"),
      pd("__sxi", "1.0e9").as("__sx"), pd("__syi", "1.0e9").as("__sy"),
      pd("__sxxi", "1.0e18").as("__sxx"),
      pd("__syyi", "1.0e18").as("__syy"),
      pd("__sxyi", "1.0e18").as("__sxy"))
    val n = col("n_buckets").cast("double")
    val sxx = col("__sxx") - col("__sx") * col("__sx") / n
    val syy = col("__syy") - col("__sy") * col("__sy") / n
    val sxy = col("__sxy") - col("__sx") * col("__sy") / n
    val beta = sxy / sxx
    g.select(col("n_buckets"),
      round(beta, 6).as("beta"),
      round(exp(col("__sy") / n - beta * col("__sx") / n), 6)
        .as("k_coef"),
      round(when(sxx > 0 && syy > 0, sxy * sxy / (sxx * syy)), 6)
        .as("r2"))
  }

  /** Corpus predictability: unigram entropy H(w), bigram conditional
    * entropy H(w₂|w₁) and the redundancy 1 − H(w₂|w₁)/H(w) — the
    * entropy-rate read-out that separates templated/boilerplate text
    * (next word nearly determined → high redundancy) from natural
    * prose, corpus-level twin of q102's per-doc repetition signals.
    *
    * Scale shape: same single tokenize pass as [[collocations]]
    * (adjacent pairs via arrays_zip); H(w₂|w₁) = H(w₁,w₂) − H(w₁)
    * where both entropies are aggregates of the pair-count table and
    * its first-word margin — no second corpus pass; unigram positions
    * use the pair table's first-word margin (all tokens but each
    * text's last — documented). Natural-log entropies. Returns one
    * row: (n_pairs, h_unigram 6dp, h_cond 6dp, redundancy 6dp). */
  def entropyRate(docs: DataFrame, textCol: String): DataFrame = Checkpoints.scoped {
    val toks = Text.tokens(col(textCol))
    val pairs0 = docs.select(arrays_zip(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0)))).as("__z"))
      .select(explode(col("__z")).as("__p"))
      .select(col("__p.0").as("w1"), col("__p.1").as("w2"))
    val pc = Checkpoints.local(pairs0.groupBy("w1", "w2").agg(count(lit(1)).as("n")))
    val tot = pc.agg(sum("n").as("__N"))
    val nD = col("__N").cast("double")
    val hJoint = pc.crossJoin(broadcast(tot))
      .agg(sum(-(col("n") / nD) * log(col("n") / nD)).as("__hj"),
        first("__N").as("n_pairs"))
    val hUni = pc.groupBy("w1").agg(sum("n").as("__c1"))
      .crossJoin(broadcast(tot))
      .agg(sum(-(col("__c1") / nD) * log(col("__c1") / nD)).as("__hu"))
    hJoint.crossJoin(hUni)
      .select(col("n_pairs"),
        round(col("__hu"), 6).as("h_unigram"),
        round(col("__hj") - col("__hu"), 6).as("h_cond"),
        round(when(col("__hu") > 0,
          lit(1.0) - (col("__hj") - col("__hu")) / col("__hu")), 6)
          .as("redundancy"))
  }

  /** Per-source unigram KL divergence vs the corpus: KL(p_s ‖ q) over
    * a capped vocabulary with add-one smoothing — ONE number per
    * source for "how far does this feed's language drift from the
    * pool", the summary the q210 distinctive-terms ranking doesn't
    * give; the mixture-design companion to q136 DoReMi (sources with
    * high KL deserve their own domain weight).
    *
    * Scale shape: one tokenize pass; the vocabulary caps at `topK`
    * corpus terms (count-desc, term-asc — deterministic), so the
    * scoring grid is #sources × topK rows with broadcast joins, never
    * corpus-sized. KL terms quantize to DECIMAL(20,12) before the
    * per-source sum — order-free on any engine. Returns
    * (source, n_tokens, kl 6dp). */
  def sourceKl(docs: DataFrame, srcCol: String, textCol: String,
               topK: Int = 2000): DataFrame = Checkpoints.scoped {
    import org.apache.spark.sql.types.DecimalType
    val tok = docs.select(col(srcCol).as("source"),
      explode(Text.tokens(col(textCol))).as("__t"))
    val vocab = Checkpoints.local(tok.groupBy("__t").agg(count(lit(1)).as("__cn"))
      .orderBy(col("__cn").desc, col("__t")).limit(topK))
    val vStats = vocab.agg(count(lit(1)).as("__V"),
      sum("__cn").as("__N"))
    val perSrc = tok.join(broadcast(vocab.select("__t")), Seq("__t"))
      .groupBy("source", "__t").agg(count(lit(1)).as("__cs"))
    val srcTot = perSrc.groupBy("source").agg(sum("__cs").as("__ns"))
    val grid = srcTot.crossJoin(broadcast(vocab))
      .join(perSrc, Seq("source", "__t"), "left")
      .na.fill(0L, Seq("__cs"))
      .crossJoin(broadcast(vStats))
    val p = (col("__cs") + 1).cast("double") /
      (col("__ns") + col("__V")).cast("double")
    val q = (col("__cn") + 1).cast("double") /
      (col("__N") + col("__V")).cast("double")
    grid.select(col("source"), col("__ns"),
        round(p * log(p / q), 12).cast(DecimalType(20, 12)).as("__kl"))
      .groupBy("source")
      .agg(first("__ns").as("n_tokens"),
        round(sum("__kl").cast("double"), 6).as("kl"))
      .orderBy("source")
  }

  /** [[entropyRate]] PER SOURCE: unigram entropy, bigram conditional
    * entropy and redundancy for every feed in one pipeline — "which
    * source is templated" as a table instead of one corpus number.
    * Same single tokenize pass (adjacent pairs via arrays_zip); all
    * margins re-aggregate from the per-source pair table; the −p·ln p
    * terms quantize to DECIMAL(20,12) before the per-source sums.
    * Returns (source, n_pairs, h_unigram 6dp, h_cond 6dp,
    * redundancy 6dp) ordered. */
  def entropyBySource(docs: DataFrame, srcCol: String,
                      textCol: String): DataFrame = Checkpoints.scoped {
    import org.apache.spark.sql.types.DecimalType
    val toks = Text.tokens(col(textCol))
    val pairs0 = docs.select(col(srcCol).as("source"), arrays_zip(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0)))).as("__z"))
      .select(col("source"), explode(col("__z")).as("__p"))
      .select(col("source"), col("__p.0").as("w1"), col("__p.1").as("w2"))
    val pc = Checkpoints.local(pairs0.groupBy("source", "w1", "w2")
      .agg(count(lit(1)).as("n")))
    val tot = pc.groupBy("source").agg(sum("n").as("__N"))
    def hTerm(cnt: org.apache.spark.sql.Column) = {
      val p = cnt.cast("double") / col("__N").cast("double")
      round(-p * log(p), 12).cast(DecimalType(20, 12))
    }
    val hJoint = pc.join(tot, Seq("source"))
      .groupBy("source")
      .agg(first("__N").as("n_pairs"),
        sum(hTerm(col("n"))).cast("double").as("__hj"))
    val hUni = pc.groupBy("source", "w1").agg(sum("n").as("__c1"))
      .join(tot, Seq("source"))
      .groupBy("source")
      .agg(sum(hTerm(col("__c1"))).cast("double").as("__hu"))
    Checkpoints.local(hJoint.join(hUni, Seq("source"))
      .select(col("source"), col("n_pairs"),
        round(col("__hu"), 6).as("h_unigram"),
        round(col("__hj") - col("__hu"), 6).as("h_cond"),
        round(when(col("__hu") > 0,
          lit(1.0) - (col("__hj") - col("__hu")) / col("__hu")), 6)
          .as("redundancy"))
      .orderBy("source"))
  }

  /** FUNCTION-WORD fingerprint cosine between source pairs: each
    * source's frequency vector over a fixed stopword list, pairwise
    * cosine — function-word profiles survive topic shifts (the classic
    * authorship/stylometry signal), so two "different" sources with
    * near-1 cosine are usually the same upstream feed relabeled; a
    * topic-vocabulary overlap (q124) cannot tell that apart. Sources
    * with ZERO stopword tokens drop (no direction to compare).
    *
    * Exactness: the vectors are integer counts, the dot product and
    * squared norms are integer sums, and the single
    * dot / (sqrt(na2) * sqrt(nb2)) division is evaluated in the same
    * order on both engines — no float accumulation.
    *
    * Scale shape: one corpus-scale explode filtered to the stoplist
    * collapses to (source, word) cells (#sources x |stoplist| rows);
    * the pair grid and dot join live entirely on that cell frame. */
  def functionWordCosine(docs: DataFrame, srcCol: String,
                         textCol: String,
                         lang: String = "en"): DataFrame = {
    val swArr = array(Text.stopwords(lang).map(lit): _*)
    val cells = docs.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("source"),
        explode(filter(Text.tokens(col(textCol)),
          t => array_contains(swArr, t))).as("__w"))
      .groupBy("source", "__w")
      .agg(count(lit(1)).as("__c"))
    val norms = cells.groupBy("source")
      .agg(sum(col("__c") * col("__c")).as("__n2"))
    val dots = cells.as("a").join(cells.as("b"),
        col("a.__w") === col("b.__w") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(sum(col("a.__c") * col("b.__c")).as("__dot"))
    norms.as("x").join(norms.as("y"),
        col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"),
        col("y.source").as("source_b"),
        col("x.__n2").as("__na"), col("y.__n2").as("__nb"))
      .join(dots, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        round(coalesce(col("__dot"), lit(0L)).cast("double") /
          (sqrt(col("__na").cast("double")) *
            sqrt(col("__nb").cast("double"))), 6).as("cosine"))
      .orderBy("source_a", "source_b")
  }
}
