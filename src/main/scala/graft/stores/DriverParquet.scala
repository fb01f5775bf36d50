package graft.stores

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Driver-side parquet I/O for metadata-sized tables: the shared helper
  * behind [[MetaTable]]'s generations, the monitor's statistics and
  * constraints tables and the captured inference metrics.
  *
  *  - [[writeFile]] writes one part file through Spark's own parquet
  *    writer (`ParquetUtils.prepareWrite` + the `OutputWriterFactory`):
  *    the file a one-task `coalesce(1).write.parquet` would produce,
  *    footer schema metadata included, without the job.
  *  - [[schemaOf]] resolves a catalog-written dir's schema from ONE
  *    footer, the file `spark.read.parquet` would infer from (the first
  *    summary file, else the first data file by path), without Spark's
  *    footer-reading schema-inference job. [[read]] hands that schema to
  *    the reader.
  */
object DriverParquet {

  /** One part file at `file` (+ the codec's extension) holding `rows`,
    * written on the driver for `schema`. */
  def writeFile(spark: SparkSession, file: Path, schema: StructType,
                rows: Iterator[InternalRow]): Unit = {
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
    val sqlConf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val writer = factory.newInstance(
      file.toString + factory.getFileExtension(ctx), schema, ctx)
    try rows.foreach(writer.write) finally writer.close()
  }

  /** Replace `dir` with one part file holding `rows` plus the `_SUCCESS`
    * marker — `mode("overwrite")` of a one-partition frame, on the
    * driver. The new content is built in a hidden sibling and renamed
    * into place. */
  def writeTable(spark: SparkSession, dir: String, schema: StructType,
                 rows: Seq[Row]): Unit = {
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val uuid = java.util.UUID.randomUUID().toString
    val tmp = new Path(target.getParent, s".${target.getName}.tmp-$uuid")
    val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    try {
      writeFile(spark, new Path(tmp, s"part-00000-$uuid-c000"), schema,
        rows.iterator.map(r => toInternal(r).asInstanceOf[InternalRow]))
      fs.create(new Path(tmp, "_SUCCESS")).close()
    } catch { case e: Throwable => fs.delete(tmp, true); throw e }
    if (fs.exists(target)) fs.delete(target, true)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, true)
      throw new java.io.IOException(s"could not install $dir: rename from $tmp failed")
    }
  }

  /** The schema `spark.read.parquet(dir)` infers, read from one footer on
    * the driver. `None` when `dir` holds no top-level parquet file (a
    * missing, empty or partitioned dir) or the session merges parquet
    * schemas, where only Spark's own inference gives the right schema or
    * error. */
  def schemaOf(spark: SparkSession, dir: String): Option[StructType] = {
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) return None
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val p = new Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    val listing =
      try fs.listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty[FileStatus] }
    def name(s: FileStatus) = s.getPath.getName
    // the names Spark's file index hides (`_`/`.` prefixes, except the
    // summary files and `_key=value` partition dirs)
    def hidden(s: FileStatus) =
      (name(s).startsWith("_") && !name(s).contains("=")) ||
        name(s).startsWith(".") || name(s).endsWith("._COPYING_")
    // a visible subdir (a partition) is more than one footer describes
    if (listing.exists(s => s.isDirectory && !hidden(s))) return None
    val files = listing.filter(_.isFile).sortBy(_.getPath.toString)
    val summary = Seq("_common_metadata", "_metadata")
      .flatMap(n => files.find(s => name(s).startsWith(n)))
    val data = files.filterNot(hidden)
    (summary ++ data).headOption.map { st =>
      val footer = ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
      // a file-source relation reads every field as nullable
      asNullable(ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(st.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
        .asInstanceOf[StructType]
    }
  }

  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(asNullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(asNullable(k), asNullable(v), valueContainsNull = true)
    case other => other
  }

  /** `spark.read.parquet(dir)` with the schema taken from [[schemaOf]]. */
  def read(spark: SparkSession, dir: String): DataFrame =
    schemaOf(spark, dir) match {
      case Some(s) => spark.read.schema(s).parquet(dir)
      case None => spark.read.parquet(dir)
    }
}
