package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus snapshot diffing — the data-versioning read-outs a refresh
  * pipeline needs between two ingestion runs (beyond the reference's
  * operator set — north-star 100 TB scope; the reference tracks
  * artifact freshness by modified-stamp in its registry, this is the
  * row-level equivalent for corpus snapshots).
  *
  * All three operators key on a document id and compare content by
  * md5 (cross-engine-stable hex), so the whole family is hash
  * equi-joins + groupBys — corpus-linear, shuffle-partitioned by id,
  * no windows, no pairwise work. At 100 TB the diff join is the only
  * full-corpus exchange, and [[incrementalStats]] shows the payoff:
  * refreshed per-source stats from OLD STATS + THE DIFF ONLY, never
  * rescanning unchanged documents.
  */
object SnapshotDiff {

  private def keyed(df: DataFrame, idCol: String, contentCol: String,
                    srcCol: String, suffix: String): DataFrame =
    df.select(col(idCol).as("id"),
      col(srcCol).as(s"src_$suffix"),
      md5(col(contentCol)).as(s"h_$suffix"),
      length(col(contentCol)).cast("long").as(s"c_$suffix"))

  private def statusCol: Column =
    when(col("h_o").isNull, "added")
      .when(col("h_n").isNull, "removed")
      .when(col("h_o") =!= col("h_n"), "changed")
      .otherwise("unchanged")

  /** Row-level snapshot diff rolled up per (source, status):
    * status ∈ added/removed/changed/unchanged by id-join + content
    * hash. Returns (source, status, n_docs, chars_old, chars_new) —
    * char sums are exact BIGINTs (absent side counted 0). Source
    * attribution: the new side's, falling back to the old side's for
    * removed docs. */
  def diff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
           contentCol: String, srcCol: String): DataFrame = {
    val o = keyed(oldDf, idCol, contentCol, srcCol, "o")
    val n = keyed(newDf, idCol, contentCol, srcCol, "n")
    o.join(n, Seq("id"), "full_outer")
      .groupBy(coalesce(col("src_n"), col("src_o")).as("source"),
        statusCol.as("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("c_o"), lit(0L))).cast("long").as("chars_old"),
        sum(coalesce(col("c_n"), lit(0L))).cast("long").as("chars_new"))
      .orderBy("source", "status")
  }

  /** Incremental stats merge: per-source (n_docs, chars) for the NEW
    * snapshot computed two ways — directly, and as OLD stats + the
    * diff's delta (added: +1/+c_n; removed: −1/−c_o; changed:
    * 0/c_n−c_o). Returns (source, n_direct, n_merged, chars_direct,
    * chars_merged, consistent). `consistent` is the self-check; the
    * merged path is the one a 100 TB refresh runs (old stats are
    * metadata, the delta frame is diff-sized). */
  def incrementalStats(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                       contentCol: String, srcCol: String): DataFrame = {
    val o = keyed(oldDf, idCol, contentCol, srcCol, "o")
    val n = keyed(newDf, idCol, contentCol, srcCol, "n")
    val oldStats = o.groupBy(col("src_o").as("source"))
      .agg(count(lit(1)).as("n_old"), sum("c_o").as("ch_old"))
    val delta = o.join(n, Seq("id"), "full_outer")
      .select(coalesce(col("src_n"), col("src_o")).as("source"),
        when(col("h_o").isNull, 1L).when(col("h_n").isNull, -1L)
          .otherwise(0L).as("dn"),
        coalesce(col("c_n"), lit(0L)) - coalesce(col("c_o"), lit(0L)))
      .toDF("source", "dn", "dc")
      .groupBy("source")
      .agg(sum("dn").as("dn"), sum("dc").as("dc"))
    val direct = n.groupBy(col("src_n").as("source"))
      .agg(count(lit(1)).as("n_direct"),
        sum("c_n").cast("long").as("chars_direct"))
    direct
      .join(oldStats, Seq("source"), "full_outer")
      .join(delta, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("n_direct"), lit(0L)).as("n_direct"),
        (coalesce(col("n_old"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .cast("long").as("n_merged"),
        coalesce(col("chars_direct"), lit(0L)).as("chars_direct"),
        (coalesce(col("ch_old"), lit(0L)) + coalesce(col("dc"), lit(0L)))
          .cast("long").as("chars_merged"))
      .withColumn("consistent",
        col("n_direct") === col("n_merged") &&
          col("chars_direct") === col("chars_merged"))
      .orderBy("source")
  }

  /** How much did the CHANGED documents actually change? Per source:
    * count of changed docs and the mean word-set Jaccard between the
    * old and new text, on the exact millionths lattice
    * (j_ppm = (10⁶·|∩|) div |∪| per doc, mean = Σ div n — integer
    * arithmetic end to end). Linear in changed-doc tokens only: the
    * unchanged corpus is filtered out by the hash equi-join before
    * any tokenization. Returns (source, n_changed, mean_jaccard_ppm). */
  def changedSimilarity(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                        contentCol: String, srcCol: String): DataFrame = {
    val toks = (c: Column) => array_distinct(graft.text.Text.tokens(c))
    val o = oldDf.select(col(idCol).as("id"),
      md5(col(contentCol)).as("h_o"), toks(col(contentCol)).as("w_o"))
    val n = newDf.select(col(idCol).as("id"), col(srcCol).as("source"),
      md5(col(contentCol)).as("h_n"), toks(col(contentCol)).as("w_n"))
    o.join(n, Seq("id"))
      .filter(col("h_o") =!= col("h_n"))
      .select(col("source"),
        (lit(1000000L) * size(array_intersect(col("w_o"), col("w_n"))))
          .as("__num"),
        size(array_union(col("w_o"), col("w_n"))).cast("long")
          .as("__den"))
      .select(col("source"),
        expr("__num div nullif(__den, 0)").as("__j"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_changed"), sum("__j").as("__sj"))
      .select(col("source"), col("n_changed"),
        expr("__sj div n_changed").as("mean_jaccard_ppm"))
      .orderBy("source")
  }
}
