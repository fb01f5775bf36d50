package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII detection and redaction for training-data curation (beyond the
  * reference's operator set — north-star scope; every large-corpus
  * ingest pipeline scrubs contact strings before training).
  *
  * Patterns are deliberately RE2-compatible (no lookarounds, no
  * backreferences) so the same regex text runs identically under
  * Spark's Java regex and the DuckDB oracle — and would port to any
  * RE2-based scan pushdown.
  *
  * Scale shape: every operator is a codegen'd projection
  * (`regexp_count` / `regexp_replace`) — one scan, no shuffle, no UDFs.
  * Redaction order matters and is fixed: emails first (their local part
  * can contain digit runs), then phones (dotted phones would otherwise
  * half-match the IPv4 pattern), then IPv4.
  */
object Scrub {

  /** Email addresses — the usual pragmatic pattern, not RFC 5322. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** North-American phone shapes `ddd-ddd-dddd` / `ddd.ddd.dddd`. */
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** Dotted-quad IPv4 (permissive: no 0-255 range check — scrubbing
    * a false positive like `999.1.1.1` is the safe direction). */
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Any PII pattern present? Null text → false. The ONE predicate
    * both [[piiSignals]] and [[graft.text.CorpusReport]] share — a new
    * pattern added here reaches every consumer. */
  def hasPii(text: Column): Column =
    coalesce(regexp_count(text, lit(EmailRe)), lit(0)) +
      coalesce(regexp_count(text, lit(PhoneRe)), lit(0)) +
      coalesce(regexp_count(text, lit(Ipv4Re)), lit(0)) > 0

  /** Per-document PII counts + a `has_pii` flag, appended to `df`.
    * One codegen'd scan. Null text → zero counts, `has_pii` false (a
    * null row carries no PII; propagating null here would poison
    * downstream `sum(has_pii)` dashboards). */
  def piiSignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", coalesce(regexp_count(t, lit(EmailRe)), lit(0)))
      .withColumn("n_phones", coalesce(regexp_count(t, lit(PhoneRe)), lit(0)))
      .withColumn("n_ipv4", coalesce(regexp_count(t, lit(Ipv4Re)), lit(0)))
      .withColumn("has_pii",
        col("n_emails") + col("n_phones") + col("n_ipv4") > 0)
  }

  /** Redacted text: PII spans replaced with typed sentinels
    * (`<EMAIL>`, `<PHONE>`, `<IP>`). Spark's `regexp_replace` is
    * global, matching the oracle's `'g'` flag. */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  /** `df` with `textCol` replaced by its redacted form — the in-place
    * scrub a curation funnel applies between quality gating and dedup
    * (redaction BEFORE fingerprinting, so documents differing only in
    * contact strings collapse as duplicates). */
  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn(textCol, redact(col(textCol)))

  /** Encoding cleanup for scraped corpora (the ftfy-lite pass every
    * web-scale ingest runs before tokenization):
    *  - strip C0/C1 control characters (except `\n`, `\t`)
    *  - map typographic unicode to ASCII (curly quotes, en/em dashes,
    *    ellipsis, NBSP/zero-width spaces)
    *  - squeeze runs of spaces/tabs (newlines preserved — they carry
    *    line-dedup structure)
    * One codegen'd `regexp_replace`/`translate` chain; no UDFs. */
  def normalizeText(text: Column): Column = {
    val noCtl = regexp_replace(text, "[\\x00-\\x08\\x0B-\\x1F\\x7F-\\x9F]", "")
    val noZw = regexp_replace(noCtl, "[\\u200B\\u200C\\u200D\\uFEFF]", "")
    val ascii = translate(noZw,
      "\u2018\u2019\u201A\u201C\u201D\u201E\u2013\u2014\u00A0\u3000",
      "'',\"\"\"--  ")
    val ellipsis = regexp_replace(ascii, "\\u2026", "...")
    regexp_replace(ellipsis, "[ \\t]{2,}", " ")
  }

  /** `df` with `textCol` normalized in place. */
  def normalize(df: DataFrame, textCol: String): DataFrame =
    df.withColumn(textCol, normalizeText(col(textCol)))

  /** Encoding/extraction defect scan per source: replacement
    * characters (mojibake), ASCII control bytes, 100+-char unbroken
    * "words" (extraction glue), digit-heavy docs (tables scraped as
    * prose, 2·digits ≥ chars), and whitespace-only docs — the ingest
    * triage table that says WHICH feed needs its extractor fixed
    * before any quality model sees the text. Per-row flags are plain
    * string ops (portable RE2-safe patterns); one integer groupBy.
    * Returns (source, n_docs, n_replacement, n_control, n_long_word,
    * n_digit_heavy, n_blank, defect_rate 6dp). */
  def defectScan(docs: DataFrame, srcCol: String,
                 textCol: String): DataFrame = {
    val t = col(textCol)
    val repl = t.contains("\ufffd")
    val ctrl = t.rlike("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]")
    val longWord = t.rlike("[^\\s]{100}")
    val digits = length(t) - length(regexp_replace(t, "[0-9]", ""))
    val digitHeavy = length(t) > 0 && lit(2) * digits >= length(t)
    val blank = length(trim(coalesce(t, lit("")))) === 0
    val anyDefect = repl || ctrl || longWord || digitHeavy || blank
    docs.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(repl.cast("long")).as("n_replacement"),
        sum(ctrl.cast("long")).as("n_control"),
        sum(longWord.cast("long")).as("n_long_word"),
        sum(digitHeavy.cast("long")).as("n_digit_heavy"),
        sum(blank.cast("long")).as("n_blank"),
        round(sum(anyDefect.cast("long")).cast("double") /
          count(lit(1)), 6).as("defect_rate"))
      .orderBy("source")
  }
}
