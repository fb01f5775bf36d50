package graft.stores

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Storage layer — the reference's four stores re-based on parquet dirs.
  *
  * All stores are path-keyed directories of parquet (the reference keys
  * S3 prefixes the same way). Data stores never materialize on the
  * driver; the metadata-sized ones ([[ParameterStore]], [[Registry]])
  * are [[MetaTable]]s, read and written on the driver.
  */
object Stores {
  /** Coerce a frame to a fixed schema: shared columns cast, missing
    * columns null, extra columns dropped — the canonical-dtype guard
    * shared by [[InferenceStore.append]] and the inference cache. */
  def coerceToSchema(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)

  /** Per-root JVM mutation lock for the shared append table
    * ([[InferenceStore]]): lifecycle operators may drive several
    * endpoints' inferences CONCURRENTLY (guide §2.6 — overlap
    * independent jobs), and two unsynchronized appends on the same root
    * collide in _temporary. The metadata stores ([[Registry]],
    * [[ParameterStore]]) carry [[MetaTable]]'s file-based lock instead;
    * this is the cheap in-process form (cross-process safety is out of
    * scope exactly as it is for the reference's parquet store). */
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[stores] def lockFor(root: String): Object =
    // normalize the key: two store instances built from unnormalized
    // variants of the same root (trailing slash, relative vs absolute)
    // must resolve to ONE lock object or the mutual exclusion is void
    rootLocks.computeIfAbsent(
      new org.apache.hadoop.fs.Path(root).toUri.normalize.toString
        .stripSuffix("/"),
      _ => new Object)
}

/** Path-keyed store of DataFrames
  * (reference: src/workbench/api/df_store.py:12-52). */
class DFStore(spark: SparkSession, root: String) {
  private def pathFor(key: String): String =
    root + "/" + key.stripPrefix("/")

  /** Filesystem location of a key (for metadata-level inspection —
    * e.g. InferenceCache's mutation-detection stamp). */
  def path(key: String): String = pathFor(key)

  def upsert(key: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(pathFor(key))

  /** Append rows to an existing key (one distributed parquet job with an
    * atomic `_SUCCESS` commit — the incremental-write path the pandas
    * reference approximates by rewriting the whole frame per chunk). */
  def append(key: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(pathFor(key))

  /** The key's rows, with the schema read from one footer on the driver
    * ([[DriverParquet.read]]) instead of Spark's inference job. */
  def get(key: String): DataFrame = DriverParquet.read(spark, pathFor(key))

  /** True only when the key holds READABLE data (at least one committed
    * parquet file). A bare directory left by an aborted first write —
    * the committer mkdirs the path, the job dies, abort removes only
    * `_temporary` — must read as absent, or every later `get` throws
    * and the key is wedged until a manual delete. */
  def check(key: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(pathFor(key))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  def delete(key: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(pathFor(key))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** `list()` — recursive keys under the root
    * (reference df_store lists the S3 prefix). */
  def list(): Seq[String] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) Seq.empty
    else {
      def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
        val (dirs, files) = fs.listStatus(p).toSeq.partition(_.isDirectory)
        val isLeaf = files.exists(_.getPath.getName.endsWith(".parquet")) ||
          files.exists(_.getPath.getName == "_SUCCESS")
        if (isLeaf) Seq(p) else dirs.flatMap(s => walk(s.getPath))
      }
      walk(rootPath).map(_.toString.stripPrefix(fs.makeQualified(rootPath).toString))
        .map(_.stripPrefix("/"))
    }
  }
}

/** Published analysis reports: a [[DFStore]] scoped to the `/reports`
  * subtree (reference: src/workbench/api/reports.py:7-36 — writers
  * publish result frames, dashboards list/get them; reads are uncached).
  */
class Reports(spark: SparkSession, dfStoreRoot: String)
  extends DFStore(spark, dfStoreRoot + "/reports")

/** One parameter: a key and its JSON value. */
case class ParamRow(key: String, value: String)

/** Key-value JSON parameter store
  * (reference: src/workbench/api/parameter_store.py:1-92, AWS SSM-backed).
  * A [[MetaTable]] of (key, value) rows, values JSON strings: the same
  * generation protocol, lock and generation cache as [[Registry]], so
  * `get`, `listKeys` and the read inside `upsert` cost no Spark job once
  * this JVM has written or read the current generation.
  */
class ParameterStore(spark: SparkSession, root: String) {
  import spark.implicits._
  private val table = new MetaTable[ParamRow](spark, root + "/_parameters")

  def upsert(key: String, jsonValue: String): Unit =
    table.update(_.filterNot(_.key == key) :+ ParamRow(key, jsonValue))

  def get(key: String): Option[String] = table.rows().find(_.key == key).map(_.value)

  def delete(key: String): Unit = table.update(_.filterNot(_.key == key))

  def listKeys(): Seq[String] = table.rows().map(_.key)
}

/** Append-only inference results table with the reference's fixed schema
  * [id, model, pred_label, pred_value, tags, meta, timestamp]
  * (reference: src/workbench/api/inference_store.py:33-101).
  */
class InferenceStore(spark: SparkSession, root: String) {
  private val path = root + "/_inference"

  val schema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("model", StringType),
    StructField("pred_label", StringType), StructField("pred_value", DoubleType),
    StructField("tags", ArrayType(StringType)), StructField("meta", StringType),
    StructField("timestamp", TimestampType)))

  /** Append predictions, enforcing/coercing to the fixed schema
    * (missing columns → null, extra columns dropped, types cast). */
  def append(df: DataFrame): Unit = Stores.lockFor(path).synchronized {
    Stores.coerceToSchema(df, schema).write.mode(SaveMode.Append).parquet(path)
  }

  def read(): DataFrame = spark.read.schema(schema).parquet(path)

  def byModel(model: String): DataFrame = read().filter(col("model") === model)
}

/** Vertex/edge DataFrame pairs persisted as parquet
  * (reference: src/workbench/api/graph_store.py:12-43 stores NetworkX
  * node-link JSON; here graphs are columnar from the start).
  */
class GraphStore(spark: SparkSession, root: String) {
  private def p(key: String, part: String) = s"$root/${key.stripPrefix("/")}/$part"

  def upsert(key: String, vertices: DataFrame, edges: DataFrame): Unit = {
    vertices.write.mode(SaveMode.Overwrite).parquet(p(key, "vertices"))
    edges.write.mode(SaveMode.Overwrite).parquet(p(key, "edges"))
  }

  def vertices(key: String): DataFrame = spark.read.parquet(p(key, "vertices"))
  def edges(key: String): DataFrame = spark.read.parquet(p(key, "edges"))
}
