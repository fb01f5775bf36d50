package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gopher quality rules (Rae et al. 2021, table A1) as a per-source
  * funnel — the third preset next to q120 C4 and q128 FineWeb, with
  * the rules THOSE presets don't carry: mean-word-length bounds,
  * symbol-to-word ratio, bullet/ellipsis line shares, alphabetic-word
  * share, and the ≥2-stopword floor. Every rule is a per-row flag
  * (codegen string ops), the funnel one integer groupBy — no UDF.
  */
object Gopher {

  private[graft] val stopWords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Count of non-overlapping occurrences of `sub` in `c`. */
  private def occurrences(c: Column, sub: String): Column =
    ((length(c) - length(regexp_replace(c, java.util.regex.Pattern
      .quote(sub), ""))) / sub.length).cast("long")

  /** The seven rule flags as row-level Columns over `t`, in funnel
    * order — shared by [[annotate]] and the one-projection composers
    * ([[graft.text.FilterAgreement]]) so the rule text exists once. */
  def ruleCols(t: Column): Seq[Column] = {
    val toks = Text.tokens(t)
    val nWords = size(toks).cast("long")
    val sumLen = aggregate(toks, lit(0L), (acc, w) => acc + length(w))
    val symbols = occurrences(t, "#") + occurrences(t, "...") +
      occurrences(t, "…")
    val lines = filter(split(t, "\n"), l => length(trim(l)) > 0)
    val nLines = greatest(size(lines).cast("long"), lit(1L))
    val bulletLines = size(filter(lines, l =>
      trim(l).startsWith("-") || trim(l).startsWith("*") ||
        trim(l).startsWith("•"))).cast("long")
    val ellipsisLines = size(filter(lines, l =>
      trim(l).endsWith("...") || trim(l).endsWith("…")))
      .cast("long")
    val alphaWords = size(filter(toks, w => w.rlike("[a-z]")))
      .cast("long")
    val nStop = size(filter(array(stopWords.map(lit): _*),
      sw => array_contains(toks, sw))).cast("long")
    // every ratio rule compares on the integer lattice (10·x ≤ 9·n
    // instead of x/n ≤ 0.9): immune to float-division and
    // float-boundary drift across engines and engine versions
    Seq(
      nWords >= 50 && nWords <= 100000,
      nWords > 0 && sumLen >= lit(3L) * nWords &&
        sumLen <= lit(10L) * nWords,
      nWords > 0 && lit(10L) * symbols <= nWords,
      lit(10L) * bulletLines <= lit(9L) * nLines,
      lit(10L) * ellipsisLines <= lit(3L) * nLines,
      nWords > 0 && lit(5L) * alphaWords >= lit(4L) * nWords,
      nStop >= 2)
  }

  /** All seven rules as one boolean Column (the page-level verdict). */
  def passAll(t: Column): Column = ruleCols(t).reduce(_ && _)

  /** Per-document rule flags:
    * (idCol, srcCol, n_words, r_wordcount, r_wordlen, r_symbol,
    * r_bullet, r_ellipsis, r_alpha, r_stopwords, pass_all). */
  def annotate(docs: DataFrame, idCol: String, srcCol: String,
               textCol: String): DataFrame = {
    val t = col(textCol)
    val r = ruleCols(t)
    docs.select(col(idCol), col(srcCol),
        size(Text.tokens(t)).cast("long").as("n_words"),
        r(0).as("r_wordcount"), r(1).as("r_wordlen"),
        r(2).as("r_symbol"), r(3).as("r_bullet"),
        r(4).as("r_ellipsis"), r(5).as("r_alpha"),
        r(6).as("r_stopwords"))
      .withColumn("pass_all",
        col("r_wordcount") && col("r_wordlen") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") &&
          col("r_stopwords"))
  }

  /** Per-source Gopher funnel: how many docs each rule kills.
    * Returns (source, n_docs, pass_wordcount, pass_wordlen,
    * pass_symbol, pass_bullet, pass_ellipsis, pass_alpha,
    * pass_stopwords, pass_all, pass_rate 6dp). */
  def funnel(docs: DataFrame, idCol: String, srcCol: String,
             textCol: String): DataFrame = {
    val a = annotate(docs, idCol, srcCol, textCol)
    a.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("r_wordcount").cast("long")).as("pass_wordcount"),
        sum(col("r_wordlen").cast("long")).as("pass_wordlen"),
        sum(col("r_symbol").cast("long")).as("pass_symbol"),
        sum(col("r_bullet").cast("long")).as("pass_bullet"),
        sum(col("r_ellipsis").cast("long")).as("pass_ellipsis"),
        sum(col("r_alpha").cast("long")).as("pass_alpha"),
        sum(col("r_stopwords").cast("long")).as("pass_stopwords"),
        sum(col("pass_all").cast("long")).as("pass_all"))
      .withColumn("pass_rate",
        round(col("pass_all").cast("double") / col("n_docs"), 6))
      .orderBy("source")
  }
}
