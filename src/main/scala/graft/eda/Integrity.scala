package graft.eda

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Referential-integrity audit: for each declared FK edge, how many
  * child rows point at a parent key that doesn't exist (or at NULL)?
  * The first question a warehouse asks of a new feed — and the
  * prerequisite sanity gate before every join view the catalog builds
  * (an orphan rate > 0 silently shrinks q12's inner joins).
  *
  * Scale shape: child keys COLLAPSE first (one map-combinable groupBy
  * to the distinct-key frame carrying row counts), then one left join
  * against the parent's distinct keys decides orphan-ness per KEY and
  * the row counts sum — the corpus is never joined row-by-row, and the
  * distinct-key frames are the small side AQE broadcasts. */
object Integrity {

  /** Audit one FK edge child.childKey → parent.parentKey. NULL child
    * keys count separately (`n_null_rows` — SQL FK semantics ignore
    * them; they are reported, not counted as orphans). Returns one
    * row: (edge, n_rows, n_null_rows, n_orphan_rows, n_orphan_keys,
    * orphan_rate 6dp over non-null rows). */
  def fkAudit(child: DataFrame, childKey: String, parent: DataFrame,
              parentKey: String, edge: String): DataFrame = {
    val keys = child.groupBy(col(childKey).as("__k"))
      .agg(count(lit(1)).as("__c"))
    val pk = parent.select(col(parentKey).as("__pk")).distinct()
    val joined = keys.join(pk, col("__k") === col("__pk"), "left")
    val isNullKey = col("__k").isNull
    val isOrphan = !isNullKey && col("__pk").isNull
    joined.agg(
      sum("__c").cast("long").as("n_rows"),
      sum(when(isNullKey, col("__c")).otherwise(0L)).cast("long")
        .as("n_null_rows"),
      sum(when(isOrphan, col("__c")).otherwise(0L)).cast("long")
        .as("n_orphan_rows"),
      sum(when(isOrphan, 1L).otherwise(0L)).cast("long")
        .as("n_orphan_keys"),
      round(
        sum(when(isOrphan, col("__c")).otherwise(0L)).cast("double") /
          sum(when(!isNullKey, col("__c")).otherwise(0L)), 6)
        .as("orphan_rate"))
      .select(lit(edge).as("edge"), col("n_rows"), col("n_null_rows"),
        col("n_orphan_rows"), col("n_orphan_keys"), col("orphan_rate"))
  }

  /** Denormalized-total RECONCILIATION audit: recompute each order's
    * total from its line items as sum(extendedprice x (1-discount) x
    * (1+tax)) and grade it against the stored `o_totalprice`, rolled
    * up per order status — the "does the header agree with the detail"
    * check every warehouse runs on a new feed (headers drift when
    * upstream mutates lines without re-stamping totals).
    *
    * Exactness: every term moves to the integer lattice first
    * (price cents x (100 - discount bp) x (100 + tax bp), units of
    * 1e-6 dollars), so the per-order sum is EXACT integer math on both
    * engines — no float-sum order sensitivity. A mismatch is an
    * absolute gap > `tolUsd`. Headers with no lines report separately
    * (`n_no_lines`), not as mismatches.
    *
    * Scale shape: one map-combinable groupBy of the detail to per-key
    * totals, one key equi-join against the header (AQE-broadcastable
    * side is the smaller), one tiny groupBy on status. */
  def reconcileOrderTotals(orders: DataFrame, lineitem: DataFrame,
                           tolUsd: Double = 0.01): DataFrame = {
    val ep = round(col("l_extendedprice") * 100).cast("long")
    val db = round(col("l_discount") * 100).cast("long")
    val tb = round(col("l_tax") * 100).cast("long")
    val per = lineitem
      .select(col("l_orderkey"),
        (ep * (lit(100L) - db) * (lit(100L) + tb)).as("__term"))
      .groupBy("l_orderkey")
      .agg(sum("__term").as("__recon"))
    val tolUnits = math.round(tolUsd * 1e6)
    orders
      .select(col("o_orderkey"), col("o_orderstatus"),
        (round(col("o_totalprice") * 100).cast("long") * lit(10000L))
          .as("__stated"))
      .join(per, col("o_orderkey") === col("l_orderkey"), "left")
      .withColumn("__ad", abs(col("__recon") - col("__stated")))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        count(when(col("__recon").isNull, 1)).as("n_no_lines"),
        count(when(col("__ad") > tolUnits, 1)).as("n_mismatch"),
        round(try_divide(sum("__ad").cast("double"),
          count(col("__ad")).cast("double")) / 1e6, 4)
          .as("mean_abs_diff_usd"),
        round(max("__ad").cast("double") / 1e6, 4).as("max_abs_diff_usd"))
      .orderBy("o_orderstatus")
  }
}
