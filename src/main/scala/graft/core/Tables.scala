package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.NumericType

/** Table access over the driver-provided parquet directories.
  *
  * The reference keeps named tables in a Glue catalog queried through
  * Athena (reference: src/workbench/core/artifacts/athena_source.py:23-59);
  * here a "DataSource" is simply a parquet-backed DataFrame handle and the
  * catalog role is played by the Spark session catalog.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Inferred-schema cache per parquet path (metadata only, the catalog
  // role): without it every query CONSTRUCTION re-reads a parquet footer
  // to infer the schema — pure per-call driver latency that a catalog
  // would never pay twice. The schema is a function of the files; row
  // data is still scanned from parquet on every action (Spark's own
  // session FileStatusCache already memoizes the directory listing the
  // same way).
  // The key carries the directory's modification stamp, so files
  // regenerated in-place in the same JVM (e.g. a rebuilt scale-ladder
  // replica) can never be served a stale schema.
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The tables store `ts`, `l_shipdate` and `o_orderdate` as parquet
    // timestamp[us] without UTC adjustment, which Spark 4 reads as
    // TIMESTAMP_NTZ; kernels that need an instant (watermarks, epoch
    // arithmetic) convert with `ltzTs`.
    val path = s"$dir/$name.parquet"
    val key = (path, modificationTime(spark, path))
    val cached = schemaCache.get(key)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val d = spark.read.parquet(path)
      schemaCache.put(key, d.schema)
      d
    }
  }

  /** The Hadoop modification stamp of `path` (0 when it does not exist;
    * the read then fails as usual). Unlike `java.io.File.lastModified`,
    * it resolves `file:` URIs and non-local filesystems. */
  private def modificationTime(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** Normalize an event-time column to TimestampType: parquet written as
    * timestamp-without-UTC-adjustment lands as TIMESTAMP_NTZ in Spark 4,
    * and epoch arithmetic (unix_micros) plus watermarks want LTZ. The
    * session TZ is UTC everywhere in this engine, so the cast is
    * value-preserving. Shared by the join/event/streaming kernels. */
  def ltzTs(df: DataFrame, tsCol: String): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol,
          org.apache.spark.sql.functions.col(tsCol)
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Numeric-column predicate mirroring the reference's "numeric" type set
    * (reference: src/workbench/algorithms/sql/descriptive_stats.py:53) —
    * in Spark terms, any NumericType.
    */
  def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }

  /** String/boolean columns — the value-counts scope
    * (reference: src/workbench/algorithms/sql/value_counts.py:31).
    */
  def categoricalCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType.typeName == "string" || f.dataType.typeName == "boolean" => f.name
    }
}
