package graft.ml

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-fold out-of-fold (OOF) runner — the reference's cross-fold
  * inference loop (endpoint_core.py:593-700 `cross_fold_inference` /
  * `_capture_inference_results` assembly; the fold loop itself lives in
  * the model templates' `xgboost_pull_cv`): deterministic folds, train
  * on k−1 folds, predict the held-out fold, stitch the k prediction
  * frames into one OOF frame covering every row exactly once.
  *
  * Scale shape: the fold id is a pure column expression (no shuffle to
  * assign), each fold's train/infer runs distributed, and the stitch is
  * a unionByName (no shuffle). The input is persisted once and released
  * after the loop, so k passes don't re-read the source.
  */
object CrossFold {

  /** Deterministic fold id from an id column: a Knuth multiplicative
    * hash kept inside Long range (ids folded to < 2²⁰ before the
    * multiply so BOTH engines — Spark's wrapping Long and the oracle's
    * overflow-checked BIGINT — compute identical values). Null ids land
    * in fold 0 — a null-propagating fold would silently drop the row
    * from BOTH the train and test side of every fold.
    *
    * Caveat: the odd multiplier preserves the id's low bit, so k=2 over
    * ids that all share parity (e.g. all multiples of an even number)
    * collapses every row into one fold. Use k >= 3, or ids with mixed
    * parity, for degenerate-id fixtures. (The constant can't change —
    * it's pinned by the cross-engine oracle queries q56/q82.) */
  def foldColumn(id: Column, k: Int): Column =
    coalesce(
      pmod((id.cast("long") % 1000003L) * 2654435761L, lit(k.toLong)),
      lit(0L)).cast("int")

  /** Run `trainInfer(trainRows, testRows)` for each of the k folds and
    * stitch the per-fold outputs. The returned frame carries the `fold`
    * column; every input row appears in exactly one fold's output
    * (provided `trainInfer` preserves rows of its second argument). */
  def run(df: DataFrame, idCol: String, k: Int)(
      trainInfer: (DataFrame, DataFrame) => DataFrame): DataFrame = Checkpoints.scoped {
    require(k >= 2, s"cross-fold needs k >= 2, got $k")
    require(!df.columns.contains("fold"),
      "cross-fold input already has a 'fold' column — rename it first")
    val withFold = df.withColumn("fold", foldColumn(col(idCol), k))
    withFold.persist()
    try {
      val folds = (0 until k).map { i =>
        trainInfer(
          withFold.filter(col("fold") =!= i).drop("fold"),
          withFold.filter(col("fold") === i))
      }
      // allowMissingColumns: fold outputs can legitimately differ in
      // label-derived columns (a rare class absent from one fold's
      // training data produces no {label}_proba there) — missing columns
      // null-fill instead of failing the stitch. The stitched OOF frame
      // is materialized so the persisted input can be released before
      // return (k MLlib fits already forced it).
      Checkpoints.local(folds.reduce(_.unionByName(_, allowMissingColumns = true)))
    } finally withFold.unpersist()
  }
}
