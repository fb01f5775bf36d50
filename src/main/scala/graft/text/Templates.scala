package graft.text

import graft.core.TopK
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Template / boilerplate-HEADER detection by shared document prefixes
  * (beyond the reference's operator set — north-star 100 TB scope).
  *
  * Scraped corpora carry machine-stamped headers ("terms of service",
  * forum signatures, license preambles): many documents in one source
  * open with the SAME first bytes. Grouping on the normalized first-k
  * characters finds those template families without any pairwise
  * comparison — the cheap precursor to [[graft.dedup.Substrings]]'
  * exact-substring machinery (run this first; strip the headers it
  * finds; only then pay for n-gram blocking).
  */
object Templates {

  /** Per-source shared-prefix audit: group documents by the normalized
    * (lowercase, whitespace-collapsed) first `k` characters, count
    * prefix families with >= `minDocs` members, the share of documents
    * sitting inside such a family, and the largest family's prefix
    * (tiebreak: count desc, then prefix desc — deterministic on both
    * engines). Returns (source, n_docs, n_dup_prefixes,
    * docs_in_dup_groups, dup_share 6dp, top_prefix, top_count).
    *
    * Scale shape: ONE groupBy on (source, prefix) — the prefix-family
    * frame is at most one row per document and collapses fast when
    * templates exist; the ranking window partitions by source over
    * that family frame, never over corpus text. */
  def sharedPrefixes(docs: DataFrame, srcCol: String, textCol: String,
                     k: Int = 8, minDocs: Long = 2L): DataFrame = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val base = docs.filter(col(textCol).isNotNull)
    val g = base
      .select(col(srcCol).as("source"), substring(norm, 1, k).as("__p"))
      .groupBy("source", "__p")
      .agg(count(lit(1)).as("__c"))
    val nd = base.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val top = TopK(g, Seq(col("source")), Seq(col("__c").desc, col("__p").desc), 1)
      .select(col("source"), col("__p").as("top_prefix"),
        col("__c").as("top_count"))
    val agg = g.groupBy("source")
      .agg(count(when(col("__c") >= minDocs, 1)).as("n_dup_prefixes"),
        sum(when(col("__c") >= minDocs, col("__c")).otherwise(lit(0L)))
          .as("docs_in_dup_groups"))
    nd.join(agg, "source").join(top, "source")
      .select(col("source"), col("n_docs"), col("n_dup_prefixes"),
        col("docs_in_dup_groups"),
        round(col("docs_in_dup_groups").cast("double") / col("n_docs"), 6)
          .as("dup_share"),
        col("top_prefix"), col("top_count"))
      .orderBy("source")
  }

  /** Template-family PURITY: for every shared-prefix family of >= 2
    * documents, is it one source stamping its own template
    * (single-source — strip and move on) or cross-source syndication
    * (a contamination signal — the same feed ingested twice under
    * different labels)? Families bucket by size; purity is the pooled
    * top-source share Σ max_s(count) / Σ size — INTEGER sums, one
    * division, so the read is bit-exact on every engine (no float
    * accumulation across families).
    *
    * Scale shape: one groupBy to (prefix, source) cells, one groupBy
    * to per-family rows, one <= 3-row bucket rollup. Returns
    * (bucket_order, size_bucket, n_families, n_cross_source,
    * cross_share 6dp, pooled_top_share 6dp). */
  def templatePurity(docs: DataFrame, srcCol: String, textCol: String,
                     k: Int = 8): DataFrame = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val cells = docs.filter(col(textCol).isNotNull)
      .select(substring(norm, 1, k).as("__p"), col(srcCol).as("__s"))
      .groupBy("__p", "__s")
      .agg(count(lit(1)).as("__c"))
    val fam = cells.groupBy("__p")
      .agg(sum("__c").as("__size"), count(lit(1)).as("__nsrc"),
        max("__c").as("__top"))
      .filter(col("__size") >= 2)
    val bucket = when(col("__size") === 2, "2")
      .when(col("__size") <= 5, "3-5").otherwise("6+")
    val ord = when(col("__size") === 2, 0)
      .when(col("__size") <= 5, 1).otherwise(2)
    fam.select(ord.as("bucket_order"), bucket.as("size_bucket"),
        col("__size"), col("__nsrc"), col("__top"))
      .groupBy("bucket_order", "size_bucket")
      .agg(count(lit(1)).as("n_families"),
        count(when(col("__nsrc") >= 2, 1)).as("n_cross_source"),
        round(count(when(col("__nsrc") >= 2, 1)).cast("double") /
          count(lit(1)), 6).as("cross_share"),
        round(sum("__top").cast("double") / sum("__size"), 6)
          .as("pooled_top_share"))
      .orderBy("bucket_order")
  }
}
