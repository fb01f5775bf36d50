package graft.operators

import graft.core.TopK
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CDC merge-apply — the lakehouse `MERGE INTO` kernel: fold a
  * change-log frame (insert / update / delete ops with a sequence
  * order) into a keyed base snapshot, producing the next snapshot.
  * Complements the SCD2 builder (`Events.scd2Intervals`, which KEEPS
  * history) with the current-state variant the reference's
  * snapshot-supplement flow approximates by whole-table rewrite
  * (reference: api/df_store.py upsert + views/view_utils.py snapshot
  * row_number pattern).
  *
  * Scale shape: ONE keyed shuffle of the change log (keep-last window
  * partitioned by key — the log is incremental-batch-sized, not
  * corpus-sized), one anti-join of the base against the touched keys,
  * and a union. The base is never windowed or re-sorted; at 100 TB the
  * cost is proportional to base + changes, matching Delta's
  * merge-on-read expectations. Ties on `seqCol` break by op precedence
  * D < U < I (an insert-after-delete at the same sequence lands as the
  * insert); rows that still tie after that (same key, seq, AND op but
  * different payloads) get an engine-arbitrary winner — supply a
  * per-key-unique (seq, op) for full reproducibility.
  */
object Cdc {

  /** Apply `changes` to `base`. `changes` must carry `keyCol`, `opCol`
    * (values 'I' / 'U' / 'D'), `seqCol` (per-key ordering), and every
    * base column (payload for I/U; ignored on D). Returns the next
    * snapshot with exactly the base schema. */
  def mergeChanges(base: DataFrame, changes: DataFrame, keyCol: String,
                   opCol: String, seqCol: String): DataFrame = {
    val baseCols = base.columns.toSeq
    require(baseCols.contains(keyCol), s"base is missing key '$keyCol'")
    val missing = baseCols.filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"changes frame is missing base columns: ${missing.mkString(", ")}")
    val opRank = when(col(opCol) === "I", 3)
      .when(col(opCol) === "U", 2).otherwise(1)
    val latest = TopK(changes, Seq(col(keyCol)), Seq(col(seqCol).desc, opRank.desc), 1)
    val touched = latest.select(col(keyCol))
    val upserts = latest.filter(col(opCol) =!= "D")
      .select(baseCols.map(col): _*)
    base.join(touched, Seq(keyCol), "left_anti")
      .unionByName(upserts)
  }
}
