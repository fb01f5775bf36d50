package graft.stores

import graft.core.Lattice
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance — the materialized-rollup pattern
  * for append-only data at 100 TB: keep a small partial-aggregate STATE
  * table per group, fold each new batch into it, and never rescan
  * history. Works because count/sum/min/max are commutative monoids;
  * avg is derived at read time (sum/count), never stored.
  *
  * Sums accumulate in DECIMAL(18,2) (`Lattice.centsSum`: exact cents
  * in a 128-bit sum) — distributed addition is then order-independent,
  * so base+delta merging reproduces the full-rescan answer bit-for-bit
  * (the Encoders.targetEncode determinism trick).
  */
object IncrementalAgg {

  /** Partial-aggregate state of a batch:
    * (keys…, n, sum_v decimal, min_v, max_v). */
  def aggState(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(col(valueCol)).as("n"),
        Lattice.centsSum(col(valueCol)).as("sum_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))

  /** Fold a new batch's state into the existing state — a groupBy over
    * the UNION of two state tables (state-cardinality rows, not the
    * corpus). Associative: merge(merge(a,b),c) == merge(a,merge(b,c)).
    */
  def merge(state: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame =
    state.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum("n").as("n"), sum("sum_v").as("sum_v"),
        min("min_v").as("min_v"), max("max_v").as("max_v"))

  /** Read-time view: adds avg (6dp) and presents sum as double. */
  def finalizeState(state: DataFrame): DataFrame =
    state.select(state.columns.filterNot(
        Seq("n", "sum_v", "min_v", "max_v").contains).map(col) ++ Seq(
      col("n"),
      col("sum_v").cast("double").as("sum_v"),
      col("min_v"), col("max_v"),
      round(col("sum_v").cast("double") / col("n"), 6).as("avg_v")): _*)
}
