package graft.api

import graft.core.Checkpoints
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.util.GraftModelIO
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model + Endpoint artifact lifecycle — the reference's main user
  * journey (`FeatureSet.to_model() → Model.to_endpoint() →
  * Endpoint.inference(df)`, api/model.py:36-130, api/endpoint.py:14-70,
  * core/artifacts/model_core.py, endpoint_core.py:452-596).
  *
  * Both artifacts are THIN handles over the catalog: all state lives in
  * the registry row (type/target/features/labels/runs/metrics meta) and
  * on disk (the MLlib pipeline under `models/`, written and read on the
  * driver in MLlib's local layout by `GraftModelIO`, which falls back to
  * MLlib's job-based persistence on a non-`file` root; capture parquet under
  * `inference/<model>/<capture>/`), so a brand-new SparkSession pointed
  * at the same catalog root reopens them with `catalog.model(name)` /
  * `catalog.endpoint(name)` — the SageMaker model-package + endpoint
  * plumbing of the reference collapses into registry metadata.
  *
  * Inference itself is `PipelineModel.transform` — a distributed narrow
  * map at any scale; the reference's 100-row HTTP batching, retry and
  * error-row machinery (endpoint_core.py:598-750) disappears by
  * construction.
  */
class Model(val catalog: Catalog, val name: String) {
  // memoized per handle: one inference() touches a dozen meta accessors
  // (modelType, target, features, labels, formula …) and each re-read
  // is a full registry-parquet scan + collect. Mutations through THIS
  // handle invalidate; cross-session writers are picked up by a fresh
  // handle (catalog.model(name)) like every other artifact reopen.
  @volatile private var metaCache: Map[String, String] = null
  private def meta: Map[String, String] = {
    var m = metaCache
    if (m == null) { m = catalog.registry.getMeta(name); metaCache = m }
    m
  }
  /** Drop the memoized registry meta (picks up external writers). */
  def refreshMeta(): Unit = metaCache = null

  def exists: Boolean = catalog.registry.get(name).exists(_.artifact_type == "model")
  def flavor: String = meta.getOrElse("graft_model_flavor", "mllib")
  def modelType: String = meta.getOrElse("graft_model_type", "regressor")
  /** Estimator family ("linear" | "rf" | "gbt") — the reference's default
    * model scripts are XGBoost ensembles, so the algo is model-defining
    * meta, and a cross-fold refit must reuse it, not silently downgrade
    * to linear. */
  def algo: String = meta.getOrElse("graft_model_algo", "linear")
  def target: String = meta.getOrElse("graft_target", "target")
  def features: Seq[String] =
    meta.get("graft_features").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
  def classLabels: Seq[String] =
    meta.get("graft_class_labels").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  /** The fitted MLlib pipeline (loaded lazily on the driver from the
    * catalog's model dir, no Spark job on a local root; `None` for
    * formula models). */
  lazy val pipeline: Option[PipelineModel] =
    if (flavor == "mllib")
      Some(GraftModelIO.load(PipelineModel.read, catalog.modelPath(name)))
    else None

  /** Run the model over a frame with (a superset of) the feature
    * columns — the in-cluster replacement for endpoint HTTP predict. */
  def transform(df: DataFrame): DataFrame = flavor match {
    case "formula" =>
      val spec = meta.getOrElse("graft_formula", "0.0;")
      val parts = spec.split(";", 2)
      val icept = parts(0)
      val coefs = parts.drop(1).filter(_.nonEmpty).toSeq
        .flatMap(_.split(",")).map { t =>
          val cw = t.split(":"); (cw(0), cw(1).toDouble)
        }
      // try_cast: a non-numeric feature value yields a null prediction
      // for that row, not an ANSI cast crash of the whole inference
      df.withColumn("prediction",
        coefs.foldLeft(lit(icept.toDouble))((acc, cw) =>
          acc + col(cw._1).try_cast("double") * lit(cw._2)))
    case _ => pipeline.get.transform(df)
  }

  // ── comma-list registry meta (ordered, duplicate-free, like tags) ──
  private def listMeta(key: String): Seq[String] =
    meta.get(key).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
  private def appendListMeta(key: String, value: String): Unit = {
    // atomic inside the registry lock — a local read-modify-write here
    // would race a concurrent appender and lose one entry
    catalog.registry.appendMetaList(name, key, value)
    refreshMeta()
  }

  /** Create (or refresh) an endpoint artifact serving this model and
    * register it back on the model row (model_core.py:456-505
    * register_endpoint / endpoints). */
  def toEndpoint(endpointName: String = name + "-end",
                 owner: String = "unknown"): Endpoint = {
    val clean = catalog.sanitize(endpointName)
    catalog.registry.onboardRow(clean, "endpoint", name, owner)
    appendListMeta("graft_endpoints", clean)
    new Endpoint(catalog, clean)
  }
  def endpoints: Seq[String] = listMeta("graft_endpoints")

  // ── inference-run capture bookkeeping (model_core.py:241-378) ──
  def listInferenceRuns(): Seq[String] = listMeta("graft_inference_runs")
  private[api] def recordInferenceRun(capture: String): Unit =
    appendListMeta("graft_inference_runs", capture)

  private def readRun(capture: String, file: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(
      catalog.inferencePath(name, capture) + "/" + file)
    val fs = p.getFileSystem(catalog.spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(graft.stores.DriverParquet.read(catalog.spark, p.toString))
    else None
  }
  /** Stored metrics for a capture (model_core.py:305-345). */
  def getInferenceMetrics(capture: String = "default"): Option[DataFrame] =
    readRun(capture, "metrics")
  /** Stored predictions for a capture (endpoint_core._save_target_inference). */
  def getInferencePredictions(capture: String = "default"): Option[DataFrame] =
    readRun(capture, "predictions")
  /** Stored confusion matrix for a classifier capture (model_core.py:346-378). */
  def getConfusionMatrix(capture: String = "default"): Option[DataFrame] =
    readRun(capture, "cm")

  /** Per-feature importance read-back (reference: utils/shap_utils.py:1-60
    * retrieves per-feature SHAP importance published as a model artifact).
    * Persisted into registry meta at onboard time
    * ([[graft.ml.Models.featureImportance]]), so this is a pure meta read —
    * no model reload. Columns (feature, importance, rank); tree ensembles
    * carry impurity importances, linear families signed coefficients, so
    * rank orders by |importance| descending. None for models without an
    * importance notion. */
  def getFeatureImportance(): Option[DataFrame] =
    meta.get("graft_feature_importance").map { s =>
      val pairs = s.split(",").toSeq.filter(_.nonEmpty).map { kv =>
        val i = kv.lastIndexOf(':')
        (kv.substring(0, i), kv.substring(i + 1).toDouble)
      }.sortBy { case (f, v) => (-math.abs(v), f) }
      val rows = pairs.zipWithIndex.map { case ((f, v), i) =>
        org.apache.spark.sql.Row(f, v, i + 1)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("feature",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("importance",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType)))
      // a local relation: collecting it runs no Spark job
      catalog.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }
}

/** Endpoint artifact: a registry row of type `endpoint` whose `input` is
  * the model it serves. `inference` mirrors endpoint_core.inference
  * (:452-596): predict → residuals/metrics pack → optional capture
  * (predictions + metrics + confusion matrix persisted, run recorded on
  * the model, a row-per-prediction appended to the shared
  * InferenceStore). */
class Endpoint(val catalog: Catalog, val name: String) {
  private def spark: SparkSession = catalog.spark

  def exists: Boolean = catalog.registry.get(name).exists(_.artifact_type == "endpoint")
  def modelName: String = catalog.registry.get(name).map(_.input).getOrElse("unknown")
  def model: Model = catalog.model(modelName)

  /** "No frills" transform-only inference — the floating-endpoint path
    * (endpoint_core.py:476-479). */
  def fastInference(df: DataFrame): DataFrame = model.transform(df)

  /** Endpoint → Model → FeatureSet lineage walk
    * (utils/endpoint_utils.py:136-157). None when any link is missing. */
  def backtrackToFeatureSet: Option[FeatureSet] = {
    val m = model
    if (!m.exists) None
    else catalog.registry.get(m.name).map(_.input)
      .map(catalog.sanitize)
      .filter(in => catalog.registry.get(in).exists(_.artifact_type == "feature_set"))
      .map(catalog.featureSet)
  }

  /** Feature data for inference testing — the backtracked FeatureSet's
    * snapshot pull; an EMPTY frame when the lineage is broken
    * (utils/endpoint_utils.py:116-134). */
  def evaluationData: DataFrame =
    backtrackToFeatureSet.map(_.snapshot()).getOrElse(spark.emptyDataFrame)

  // ── registered input/output column lists (endpoint_utils.py:176-345):
  //    ParameterStore-cached with freshness against the endpoint's
  //    registry modified stamp (the reference compares the parameter's
  //    LastModifiedDate; here the stamp rides in the stored value) ──
  private def columnsKey(kind: String) = s"/graft/endpoints/$name/${kind}_columns"
  private def modifiedMs: Long =
    catalog.registry.get(name).map(_.modified.getTime).getOrElse(0L)

  /** Register the endpoint's input columns (model features unless given
    * explicitly). */
  def registerInputColumns(cols: Seq[String] = Nil): Seq[String] =
    registerColumns("input", if (cols.nonEmpty) cols else model.features)

  /** Register the endpoint's output columns: prediction plus, for
    * classifiers, the per-class proba columns. */
  def registerOutputColumns(cols: Seq[String] = Nil): Seq[String] = {
    val derived =
      if (cols.nonEmpty) cols
      else {
        val m = model
        if (m.modelType == "classifier")
          "prediction" +: m.classLabels.map(l => s"${l}_proba")
        else Seq("prediction")
      }
    registerColumns("output", derived)
  }

  private def registerColumns(kind: String, cols: Seq[String]): Seq[String] = {
    catalog.paramStore.upsert(columnsKey(kind),
      s"$modifiedMs:${cols.mkString(",")}")
    cols
  }

  /** Cached input columns — re-derived when the endpoint has been
    * modified since registration (lookup_cached_columns semantics). */
  def inputColumns: Seq[String] = cachedColumns("input", registerInputColumns())
  def outputColumns: Seq[String] = cachedColumns("output", registerOutputColumns())

  private def cachedColumns(kind: String, register: => Seq[String]): Seq[String] =
    catalog.paramStore.get(columnsKey(kind)) match {
      case Some(v) =>
        val (ts, cols) = v.span(_ != ':')
        if (ts.toLongOption.exists(_ >= modifiedMs))
          cols.drop(1).split(",").toSeq.filter(_.nonEmpty)
        else register
      case None => register
    }

  /** The endpoint's monitor artifact (api/monitor.py: `Endpoint(name)
    * .monitor()`): data-capture switch, baseline, drift checks. */
  def monitor: Monitor = new Monitor(catalog, name)

  /** Full inference: predict, compute the standard metrics pack when the
    * target column is present, and — when `captureName` is given —
    * persist the run like `_capture_inference_results`
    * (endpoint_core.py:1033-1148). Returns the prediction frame. */
  def inference(df: DataFrame, captureName: Option[String] = None,
                idColumn: Option[String] = None): DataFrame = Checkpoints.scoped {
    val m = model
    val raw = m.transform(df)
    // classifier post-processing: per-label proba columns + confidence
    // from the probability vector; index→label when labels are known
    val preds =
      if (m.modelType == "classifier")
        graft.ml.Models.labelPredictions(raw, m.classLabels, confidence = true)
      else raw
    val withRes0 = withResiduals(m, preds)
    val mon = monitor
    // a captured run has 4-5 consumers (predictions write, metrics,
    // confusion matrix, InferenceStore append, data capture) plus the
    // caller — materialize ONCE instead of re-running the transform/
    // residual plan per consumer. The returned frame reads the
    // checkpoint, so it passes to the caller's scope; the outermost
    // caller frees it with Checkpoints.release
    val withRes =
      if (captureName.isDefined || mon.captureEnabled) Checkpoints.local(withRes0)
      else withRes0

    captureName.foreach { capture =>
      captureRun(m, capture, withRes, metricsPack(m, withRes), idColumn,
        cm = if (withRes.columns.contains(m.target) && m.modelType == "classifier")
          Some(graft.ml.Metrics.confusionMatrix(withRes, m.target, "prediction"))
        else None)
    }
    if (mon.captureEnabled) writeDataCapture(m, withRes, mon)
    withRes
  }

  /** Write SageMaker-shaped capture JSONL for this inference: chunks of
    * `CaptureChunkRows` rows become one record each, holding the input
    * features and the predictions as header-led CSV payloads (the
    * capture record shape DataCapture parses —
    * data_capture_core.py:28-60). Chunking happens INSIDE each
    * partition (`mapPartitions` over the narrow (in, out) line
    * projection) — capture is a shuffle-free narrow pass at any scale,
    * and record payloads stay bounded at ~chunk size instead of one
    * multi-MB string per partition. */
  private def writeDataCapture(m: Model, preds: DataFrame, mon: Monitor): Unit = {
    val cols = preds.columns
    val inCols = m.features.filter(cols.contains)
    if (inCols.isEmpty || !cols.contains("prediction")) return
    val pct = mon.capturePercentage
    val sampled = if (pct >= 100) preds else preds.sample(pct / 100.0, 42L)
    // CSV-safe cell: newlines flattened (the payload is a line-based
    // protocol — the parse side explodes on \n before from_csv), and
    // cells containing separators/quotes get quoted with backslash
    // escapes, matching from_csv's default quote/escape options.
    // Numeric/boolean cells skip the escape machinery outright: their
    // string forms ([-+0-9.Ee], NaN/Infinity, true/false) can never
    // contain a separator, quote, backslash or newline, so the three
    // per-cell regex evaluations are the identity on them — dropping
    // them is bit-identical and removes the dominant per-row cost of
    // the capture write (millions of regex executions per inference).
    def cell(c: String): Column = preds.schema(c).dataType match {
      case _: org.apache.spark.sql.types.NumericType |
           org.apache.spark.sql.types.BooleanType =>
        coalesce(col(c).cast("string"), lit(""))
      case _ =>
        val s = regexp_replace(
          coalesce(col(c).cast("string"), lit("")), "[\\n\\r]", " ")
        when(s.rlike("[,\"\\\\]"),
          concat(lit("\""), regexp_replace(s, "([\\\\\"])", "\\\\$1"), lit("\"")))
          .otherwise(s)
    }
    def lineOf(cs: Seq[String]) = concat_ws(",", cs.map(cell): _*)
    val spark = preds.sparkSession
    import spark.implicits._
    val header = inCols.mkString(",")
    val ts = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
      .format(java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC))
    val chunkRows = Endpoint.CaptureChunkRows
    // ONE (in, out) pair per row keeps both sides row-aligned
    sampled
      .select(lineOf(inCols).as("in"), lineOf(Seq("prediction")).as("out"))
      .as[(String, String)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        it.grouped(chunkRows).zipWithIndex.map { case (chunk, i) =>
          Endpoint.CaptureRecord(
            Endpoint.CaptureData(
              Endpoint.CaptureSide(
                header + "\n" + chunk.iterator.map(_._1).mkString("\n")),
              Endpoint.CaptureSide(
                "prediction\n" + chunk.iterator.map(_._2).mkString("\n"))),
            Endpoint.CaptureMeta(s"cap-$pid-$i", ts), "1.0")
        }
      }
      .write.mode("append").json(mon.captureDir)
  }

  /** Cross-fold OOF inference (endpoint_core.py:593-700): deterministic
    * hash folds over `idColumn`, per-fold train (the model's standard
    * pipeline recipe; formula models need no refit) + held-out predict,
    * stitched OOF frame. When `capture` is set the stitched frame is
    * persisted as the `full_cross_fold` run — metrics, predictions, and
    * InferenceStore rows, exactly like a live capture. */
  def crossFoldInference(df: DataFrame, idColumn: String, k: Int = 5,
                         capture: Boolean = true): DataFrame = {
    val m = model
    val oof = graft.ml.CrossFold.run(df, idColumn, k) { (tr, te) =>
      m.flavor match {
        case "formula" => m.transform(te)
        case _ =>
          val p = graft.ml.Models.train(tr, m.modelType, m.features, m.target, m.algo)
          val out = p.transform(te)
          // classifier: map the prediction index (and the proba vector's
          // positions) back through THIS fold's StringIndexer labels —
          // each fold fits its own frequency-ordered indexer, so raw
          // indices/vector slots from different folds are NOT comparable
          // and must never be stitched; label-NAMED columns are
          if (m.modelType == "classifier")
            graft.ml.Models.labelPredictions(out, graft.ml.Models.classLabels(p),
              confidence = false)
          else out
      }
    }
    val withRes = withResiduals(m, oof)
    if (capture) {
      val metrics = metricsPack(m,
        if (m.modelType == "classifier")
          withRes.withColumn("prediction", col("prediction").cast("string"))
        else withRes)
      captureRun(m, "full_cross_fold", withRes, metrics, Some(idColumn), cm = None)
    }
    withRes
  }

  /** A regressor's residual columns, when its target is present. */
  private def withResiduals(m: Model, preds: DataFrame): DataFrame =
    if (preds.columns.contains(m.target) && m.modelType != "classifier")
      graft.ml.Metrics.withResiduals(preds, m.target, "prediction")
    else preds

  /** The standard metrics pack over scored predictions; `None` without
    * the target. A classifier is scored over its stored labels, or the
    * frame's own sorted distinct targets when it has none. */
  private def metricsPack(m: Model, scored: DataFrame): Option[DataFrame] =
    if (!scored.columns.contains(m.target)) None
    else if (m.modelType == "classifier")
      Some(graft.ml.Metrics.classificationMetricsFull(scored, m.target, "prediction",
        if (m.classLabels.nonEmpty) m.classLabels
        else scored.select(m.target).distinct()
          .collect().map(_.get(0).toString).sorted.toSeq))
    else Some(graft.ml.Metrics.regressionMetrics(scored, m.target, "prediction"))

  /** Persist one inference run: the column-selected prediction frame,
    * the metrics table, the classifier confusion matrix, the run name on
    * the model row, metrics-into-meta, and an InferenceStore append. */
  private def captureRun(m: Model, capture: String, preds: DataFrame,
                         metrics: Option[DataFrame], idColumn: Option[String],
                         cm: Option[DataFrame]): Unit = {
    val dir = catalog.inferencePath(m.name, capture)
    // output-column selection per _save_target_inference
    // (endpoint_core.py:1097-1148): id, target, prediction(+std),
    // confidence, per-label probas — features stay behind
    val cols = preds.columns
    val keep = (idColumn.toSeq.filter(cols.contains) ++
      Seq(m.target).filter(cols.contains) ++
      Seq("prediction", "prediction_std", "confidence",
        "residuals", "residuals_abs").filter(cols.contains) ++
      cols.filter(_.endsWith("_proba")).toSeq).distinct
    preds.select(keep.map(col).toIndexedSeq: _*)
      .write.mode("overwrite").parquet(dir + "/predictions")
    metrics.foreach { mt =>
      // metadata-sized: collected ONCE, written on the driver and reused
      // for the metrics-into-meta upsert below
      val mtRows = mt.collect()
      graft.stores.DriverParquet.writeTable(catalog.spark, dir + "/metrics", mt.schema, mtRows)
      // metrics-into-meta: the dashboard-facing summary the reference
      // stores on the model package (model_core.py details/metrics).
      // The 'all'-row-vs-head convention is owned by
      // ModelComparison.metricsRowOf — the contest stack reads the SAME
      // row, so stored meta and arbiter rankings can never disagree.
      // Locale.ROOT: the f-interpolator honors the JVM default locale,
      // and a comma-decimal locale would store "0,123456" — unparseable
      // by every downstream .toDouble
      ModelComparison.metricsRowOf(mt.columns.toSeq, mtRows).foreach { cells =>
        val kv = cells.map { case (c, v) =>
          s"graft_metric/$capture/$c" ->
            String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))
        }.toMap
        if (kv.nonEmpty) { catalog.registry.upsertMeta(m.name, kv); m.refreshMeta() }
      }
    }
    cm.foreach(_.write.mode("overwrite").parquet(dir + "/cm"))
    m.recordInferenceRun(capture)

    // one row per prediction into the shared fixed-schema store
    val idc = idColumn.filter(cols.contains)
      .map(col(_).cast("string")).getOrElse(lit(null).cast("string"))
    val (plabel, pvalue) =
      if (m.modelType == "classifier")
        (col("prediction").cast("string"), lit(null).cast("double"))
      else (lit(null).cast("string"), col("prediction").cast("double"))
    catalog.inferenceStore.append(preds.select(
      idc.as("id"), lit(m.name).as("model"), plabel.as("pred_label"),
      pvalue.as("pred_value"), lit(Array(capture)).as("tags"),
      lit(null).cast("string").as("meta"),
      current_timestamp().as("timestamp")))
  }
}

object Endpoint {
  /** Rows per capture record — bounds each record's payload string
    * (mirrors SageMaker's per-request capture framing). */
  val CaptureChunkRows = 500

  case class CaptureSide(data: String, encoding: String = "CSV",
                         mode: String = "InputAndOutput",
                         observedContentType: String = "text/csv")
  case class CaptureData(endpointInput: CaptureSide,
                         endpointOutput: CaptureSide)
  case class CaptureMeta(eventId: String, inferenceTime: String)
  case class CaptureRecord(captureData: CaptureData,
                           eventMetadata: CaptureMeta, eventVersion: String)
}
