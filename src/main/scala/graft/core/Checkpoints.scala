package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Freeing local checkpoints. `localCheckpoint` persists the
  * checkpointed RDD directly, not through the CacheManager, so
  * `df.unpersist()` on the returned frame leaves its blocks in place
  * until the RDD is garbage-collected. [[release]] unpersists the RDD
  * itself. */
object Checkpoints {

  /** Unpersist (non-blocking) every checkpointed RDD in `df`'s plan.
    * Call it only on a frame whose blocks nothing will read again: a
    * local checkpoint has no lineage to recompute them from. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd }
      .foreach(_.unpersist(blocking = false))
}
