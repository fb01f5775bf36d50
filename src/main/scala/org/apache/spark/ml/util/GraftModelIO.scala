package org.apache.spark.ml.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Driver-side MLlib model persistence: the one place the library saves
  * and loads an MLlib model.
  *
  * A fitted model is metadata-sized, but MLlib's default writer stores
  * every piece of it (params JSON, coefficients, tree nodes) as a
  * one-row DataFrame written by a Spark job, and its reader reads each
  * back with more jobs: 6–9 jobs per pipeline save and 11–13 per load.
  * Spark 4.1's local saving mode (`ReadWriteUtils.localSavingModeState`,
  * a `private[spark]` thread-local, hence this shim's package) makes the
  * same writers and readers use `java.nio` files on the driver instead,
  * with no Spark job. The flag is set only around the one call and the
  * previous value is restored, whatever the call throws.
  *
  * Local mode opens the path with `Paths.get`, so it applies only when
  * the path resolves to the local filesystem; a `file:` URI is handed
  * over as its plain path. Any other filesystem keeps MLlib's own,
  * job-based writer and reader. The two layouts differ: a directory
  * written in one mode is not readable in the other.
  */
object GraftModelIO {

  /** Save `model` at `path`, replacing what is there. */
  def save(model: MLWritable, path: String): Unit = localPath(path) match {
    case Some(local) => inLocalMode(model.write.overwrite().save(local))
    case None => model.write.overwrite().save(path)
  }

  /** Load the model [[save]] wrote at `path` with `reader` (e.g.
    * `PipelineModel.read`). */
  def load[M](reader: MLReader[M], path: String): M = localPath(path) match {
    case Some(local) => inLocalMode(reader.load(local))
    case None => reader.load(path)
  }

  /** `path` as a plain local path when it resolves to the local
    * filesystem (a `file:` URI, or a scheme-less path under a local
    * default filesystem); `None` for any other scheme. */
  private def localPath(path: String): Option[String] = {
    val p = new Path(path)
    val uri = p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
      .makeQualified(p).toUri
    if (uri.getScheme == "file") Some(uri.getPath) else None
  }

  private def inLocalMode[T](f: => T): T = {
    val state = ReadWriteUtils.localSavingModeState
    val previous = state.get()
    state.set(true)
    try f finally state.set(previous)
  }
}
