package graft.views

import graft.core.TopK
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** View layer — the reference's `{base}___{view}` derived-table system
  * re-expressed as DataFrame combinators (register with
  * `createOrReplaceTempView` / `saveAsTable` for a persistent catalog).
  */
object Views {

  /** AWS bookkeeping columns dropped at every egress
    * (reference: src/workbench/core/artifacts/feature_set_core.py:302-306). */
  val bookkeepingCols: Seq[String] =
    Seq("write_time", "api_invocation_time", "is_deleted", "event_time")

  /** Column-subset view: SELECT c1..cN with a default 30-column cap,
    * bookkeeping columns dropped
    * (reference: src/workbench/core/views/column_subset_view.py:56-90).
    */
  def columnSubset(df: DataFrame, cols: Seq[String] = Nil, cap: Int = 30): DataFrame = {
    val wanted = (if (cols.nonEmpty) cols else df.columns.toSeq)
      .filterNot(bookkeepingCols.contains).take(cap)
    df.select(wanted.map(col): _*)
  }

  /** Left equi-join of a base table with a supplemental table on id;
    * overlapping non-id columns come from the supplement
    * (reference: src/workbench/core/views/pandas_to_view.py:61-138).
    * Small supplements should be broadcast — Spark's AQE does this
    * automatically below the broadcast threshold; `hintBroadcast` forces it.
    */
  def joinView(base: DataFrame, supplement: DataFrame, idColumn: String,
               hintBroadcast: Boolean = false): DataFrame = {
    val overlap = base.columns.toSet.intersect(supplement.columns.toSet) - idColumn
    val cleanBase = base.drop(overlap.toSeq: _*)
    val supp = if (hintBroadcast) broadcast(supplement) else supplement
    cleanBase.join(supp, Seq(idColumn), "left")
  }

  /** Model-training view: base LEFT JOIN sparse roles table with COALESCE
    * defaults and `WHERE NOT COALESCE(exclude, false)`
    * (reference: src/workbench/core/views/view_utils.py:154-215, SQL at
    * 193-212). The roles table is tiny relative to the base → broadcast.
    */
  def trainingView(base: DataFrame, roles: DataFrame, idColumn: String): DataFrame = {
    val joined = base.join(broadcast(roles), Seq(idColumn), "left")
    joined
      .withColumn("sample_weight", coalesce(col("sample_weight"), lit(1.0)))
      .withColumn("validation", coalesce(col("validation"), lit(false)))
      .filter(!coalesce(col("exclude"), lit(false)))
      .drop("exclude")
  }

  /** Whole-word rewrite of logical artifact names to physical table names
    * in user SQL — the reference's FeatureSet name-resolution shim
    * (reference: src/workbench/core/artifacts/feature_set_core.py:270-284).
    * View registration makes this mostly unnecessary here; kept for SQL
    * that must address physical tables directly.
    */
  def resolveNames(sql: String, mapping: Map[String, String]): String = {
    if (mapping.isEmpty) return sql
    // single-pass simultaneous substitution: sequential folding would let
    // one mapping's output be re-rewritten by a later mapping (cascade),
    // with hash-order-dependent results
    val pattern = java.util.regex.Pattern.compile(
      mapping.keys.toSeq.sortBy(-_.length)
        .map(k => "\\b" + java.util.regex.Pattern.quote(k) + "\\b")
        .mkString("|"))
    val m = pattern.matcher(sql)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      m.appendReplacement(sb,
        java.util.regex.Matcher.quoteReplacement(mapping(m.group())))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** Feature-Store snapshot semantics: latest record per id by event time
    * with deterministic tiebreakers, deleted rows dropped
    * (reference: src/workbench/core/artifacts/feature_set_core.py:370-391).
    */
  def snapshot(df: DataFrame, idColumn: String, orderCols: Seq[Column]): DataFrame = {
    val deleted = if (df.columns.contains("is_deleted")) col("is_deleted") else lit(false)
    TopK(df, Seq(col(idColumn)), orderCols, 1).filter(!deleted)
  }
}
