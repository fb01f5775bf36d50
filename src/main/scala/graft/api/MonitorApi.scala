package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** Monitor artifact: endpoint data-capture + baseline + drift, composing
  * [[graft.sources.DataCapture]] with the quality pack
  * (reference: api/monitor.py:14-108, core/artifacts/monitor_core.py —
  * enable_data_capture :159-175, create_baseline :195-258 writing
  * baseline/statistics/constraints, get_* :260-289 — and
  * data_capture_core.py:28-60).
  *
  * The SageMaker machinery (processing jobs, schedules, CloudWatch)
  * collapses into: capture = JSONL records the endpoint writes on
  * inference; baseline = parquet + statistics and constraints tables;
  * checks = one aggregate pass over current data joined against the
  * persisted constraints. Everything lives under the catalog root, so a
  * new session reopens the monitor by name.
  *
  * Every result here is metadata-sized (one row per column), so each
  * call runs one aggregate pass per frame it scans and finishes on the
  * driver: the statistics and constraints tables are written by
  * [[graft.stores.DriverParquet]], drift and constraint reports come back
  * as local relations, and stored tables are read with their schema from
  * one footer.
  */
class Monitor(val catalog: Catalog, val endpointName: String) {
  private def spark: SparkSession = catalog.spark
  private def reg = catalog.registry

  def baselineDir: String = s"${catalog.root}/monitor/$endpointName/baseline"
  def captureDir: String = s"${catalog.root}/monitor/$endpointName/capture"

  private def exists(p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  // ── data capture switch (monitor_core.enable_data_capture) ──
  def enableDataCapture(capturePercentage: Int = 100): Unit =
    reg.upsertMeta(endpointName, Map(
      "graft_data_capture" -> "true",
      "graft_capture_percentage" -> capturePercentage.toString))
  def disableDataCapture(): Unit =
    reg.upsertMeta(endpointName, Map("graft_data_capture" -> "false"))
  def captureEnabled: Boolean =
    reg.getMeta(endpointName).get("graft_data_capture").contains("true")
  def capturePercentage: Int =
    reg.getMeta(endpointName).get("graft_capture_percentage")
      .map(_.toInt).getOrElse(100)

  /** Summary like data_capture_core.summary (:47-60). */
  def summary: Map[String, String] = Map(
    "endpoint" -> endpointName,
    "data_capture_enabled" -> captureEnabled.toString,
    "capture_percentage" -> capturePercentage.toString,
    "baseline_exists" -> baselineExists.toString)

  // ── baseline (monitor_core.create_baseline :195-258) ──
  def baselineExists: Boolean = exists(s"$baselineDir/baseline")

  /** Persist the baseline rows, their descriptive statistics, and
    * suggested constraints (per column: completeness + observed
    * [min, max] range — the useful core of SageMaker's
    * suggest_baseline constraints.json). The statistics and the
    * constraints come from ONE aggregate pass (the statistics'
    * expressions are [[graft.eda.Eda.descriptiveStats]]'), whose single
    * row is reshaped and written on the driver. */
  def createBaseline(df: DataFrame, cols: Seq[String],
                     recreate: Boolean = false): Unit = {
    if (baselineExists && !recreate) return
    // two consumers of the same input (baseline write, the statistics
    // pass) — materialize the upstream plan once
    val src = df.persist()
    try {
      src.write.mode("overwrite").parquet(s"$baselineDir/baseline")
      val n = count(lit(1))
      val aggs = graft.eda.Eda.statsAggs(cols) ++ cols.flatMap(c => Seq(
        (count(col(c)) / n).cast("double").as(s"${c}__completeness"),
        min(col(c)).cast("double").as(s"${c}__lower"),
        max(col(c)).cast("double").as(s"${c}__upper")))
      val row = graft.eda.Eda.statsFinish(
        graft.eda.Eda.statsInput(src, cols).agg(aggs.head, aggs.tail: _*), cols)
        .collect().head
      for ((table, metrics) <- Seq("statistics" -> graft.eda.Eda.StatNames,
          "constraints" -> Seq("completeness", "lower", "upper"))) {
        val (schema, rows) = longForm(cols, row, metrics)
        graft.stores.DriverParquet.writeTable(spark, s"$baselineDir/$table", schema, rows)
      }
    } finally df.unpersist(false)
  }

  /** Long-form (column_name, metric…) rows from one wide agg row whose
    * `<c>__<metric>` fields are doubles — a metadata-sized driver
    * reshape, no extra scans. */
  private def longForm(cols: Seq[String], row: Row,
                       metrics: Seq[String]): (StructType, Seq[Row]) = {
    def g(c: String, k: String): Any = {
      val i = row.fieldIndex(s"${c}__$k")
      if (row.isNullAt(i)) null else row.getDouble(i)
    }
    (StructType(StructField("column_name", StringType) +:
      metrics.map(m => StructField(m, DoubleType))),
      cols.map(c => Row.fromSeq(c +: metrics.map(g(c, _)))))
  }

  private def readIf(p: String): Option[DataFrame] =
    if (exists(p)) Some(graft.stores.DriverParquet.read(spark, p)) else None
  def getBaseline(): Option[DataFrame] = readIf(s"$baselineDir/baseline")
  def getStatistics(): Option[DataFrame] = readIf(s"$baselineDir/statistics")
  def getConstraints(): Option[DataFrame] = readIf(s"$baselineDir/constraints")

  /** Constraint check of `current` against the persisted baseline
    * constraints — the monitoring job's violations report. One aggregate
    * pass over current joined to the (column-count-sized) constraints
    * table; `violated` when completeness dropped or values escaped the
    * baseline range. */
  def checkConstraints(current: DataFrame): DataFrame = {
    val cons = getConstraints().getOrElse(
      throw new IllegalStateException(s"no baseline for $endpointName — run createBaseline"))
    val cols = cons.select("column_name").collect().map(_.getString(0)).toSeq
    val n = count(lit(1))
    val aggs = cols.flatMap(c => Seq(
      (count(col(c)) / n).cast("double").as(s"${c}__completeness"),
      min(col(c)).cast("double").as(s"${c}__min"),
      max(col(c)).cast("double").as(s"${c}__max")))
    val row = current.agg(aggs.head, aggs.tail: _*).head()
    val (schema, rows) = longForm(cols, row, Seq("completeness", "min", "max"))
    val observed = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .withColumnRenamed("completeness", "observed_completeness")
      .withColumnRenamed("min", "observed_min")
      .withColumnRenamed("max", "observed_max")
    cons.join(observed, Seq("column_name"))
      .withColumn("violated",
        col("observed_completeness") < col("completeness") ||
          col("observed_min") < col("lower") ||
          col("observed_max") > col("upper"))
      .orderBy("column_name")
  }

  // ── captured data (data_capture_core get_captured_data) ──

  /** Parse one side of the endpoint's captured JSONL with a supplied
    * payload schema (headers are guarded — see DataCapture). */
  def capturedData(payloadSchema: StructType, side: String = "Input"): DataFrame =
    graft.sources.DataCapture.parseSideWithSchema(
      spark.read.schema(graft.sources.DataCapture.captureSchema)
        .json(captureDir),
      side, payloadSchema)

  /** Streaming variant over the same capture dir — AvailableNow drains
    * what's there; a live trigger keeps parsing as capture lands. */
  def capturedStream(payloadSchema: StructType, side: String = "Input"): DataFrame =
    graft.streaming.Streaming.captureStreamParsed(
      spark, captureDir, side, payloadSchema)

  /** Drift report of `current` against the persisted baseline: PSI per
    * column plus the min/max/mean drift flags — the capture-vs-baseline
    * comparison the reference's monitoring schedule runs
    * (monitor_core.py:414-489 surfaces these results). */
  def driftReport(current: DataFrame, cols: Seq[String],
                  bins: Int = 10, threshold: Double = 0.1): DataFrame = {
    val base = getBaseline().getOrElse(
      throw new IllegalStateException(s"no baseline for $endpointName — run createBaseline"))
    // three aggregate passes (baseline edges + stats, baseline bucket
    // counts, current bucket counts + stats), finished on the driver
    graft.eda.Quality.driftReport(current, base, cols, bins, threshold)
  }
}
