package graft.api

import graft.stores.{DFStore, Registry}
import graft.transforms.Transforms
import graft.views.Views
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistent artifact catalog: the Glue-catalog analogue.
  *
  * A directory root owns (a) the [[Registry]] table (names, tags, health,
  * status, meta), (b) one parquet table per onboarded artifact under
  * `tables/`, (c) view definitions (SQL text, stored in the registry meta
  * exactly as Glue stores Athena view SQL), and (d) persisted stats under
  * `_stats/`. Any SparkSession — including a brand-new one after a
  * restart — calls [[attach]] to rebuild its session catalog from this
  * directory: external tables via `CREATE TABLE … USING parquet LOCATION`
  * and derived views via `CREATE OR REPLACE VIEW {base}___{view}`
  * (naming per reference: src/workbench/core/views/view.py:128-139;
  * auto-created display/computation views per view.py:260-290).
  *
  * At 100 TB the catalog stays metadata-sized (one registry row + one SQL
  * string per view); the data itself is partitioned parquet that Spark
  * scans lazily with partition pruning.
  */
class Catalog(val spark: SparkSession, val root: String) {
  val registry = new Registry(spark, root)
  private val statsStore = new DFStore(spark, root + "/_stats")

  private[api] def sanitize(name: String): String =
    name.toLowerCase.replaceAll("[^a-zA-Z0-9-_]", "_").take(64)
  def tablePath(name: String): String = s"$root/tables/$name"
  def modelPath(name: String): String = s"$root/models/$name"
  def inferencePath(model: String, capture: String): String =
    s"$root/inference/$model/$capture"

  /** Shared append-only inference-results table (the reference's
    * InferenceStore parquet — api/inference_store.py:33-101). */
  lazy val inferenceStore = new graft.stores.InferenceStore(spark, root)

  /** User-facing path-keyed DataFrame store (api/df_store.py:12-52);
    * also backs [[reports]] and the per-endpoint inference caches. */
  lazy val dfStore = new DFStore(spark, s"$root/dfstore")

  /** Published analysis reports — DFStore scoped to `/reports`
    * (api/reports.py:7-36). */
  lazy val reports = new graft.stores.Reports(spark, s"$root/dfstore")

  /** Key-value JSON parameter store (api/parameter_store.py:1-92). */
  lazy val paramStore = new graft.stores.ParameterStore(spark, root)

  private val ViewSqlKey = "graft_view_sql/"

  /** Onboard a DataFrame as a persistent DataSource: normalized parquet
    * at a catalog-owned location, an external table in the session
    * catalog, auto-created display + computation views, and a registry
    * row marked `ready` (mirrors DataSource onboarding + the view
    * auto-create: view.py:260-290, artifact.py status flow). */
  def onboard(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
              owner: String = "unknown", input: String = "dataframe"): DataSource = {
    val clean = sanitize(name)
    persistTable(clean, Transforms.normalizeColumnNames(df), partitionBy,
      "data_source", input, owner, Map.empty)
    dataSource(clean)
  }

  /** The onboarding tail of every table-backed artifact: the parquet
    * write, the session-catalog table, the stats drop, the registry row
    * and the display + computation views, in that order. */
  private def persistTable(clean: String, df: DataFrame, partitionBy: Seq[String],
                           artifactType: String, input: String, owner: String,
                           meta: Map[String, String]): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tablePath(clean))
    registerTable(clean)
    // stale stats from a previous onboard of the same name would be
    // silently served to the new data — drop the whole stats subtree
    dropStats(clean)
    // one registry write, not five read-modify-write cycles — no window
    // where a reader sees a half-initialized row
    registry.onboardRow(clean, artifactType, input, owner, meta)
    val cols = spark.table(clean).columns.toSeq
    createView(clean, "display", subsetViewSql(clean, cols))
    createView(clean, "computation", subsetViewSql(clean, cols))
  }

  /** `SELECT c1..cN FROM base` with the 30-column cap and bookkeeping
    * columns dropped — the reference's column-subset view SQL
    * (column_subset_view.py:56-90). */
  def subsetViewSql(base: String, cols: Seq[String], cap: Int = 30): String = {
    val wanted = cols.filterNot(Views.bookkeepingCols.contains).take(cap)
    s"SELECT ${wanted.map(c => s"`$c`").mkString(", ")} FROM `$base`"
  }

  /** Register/replace the derived view `{base}___{view}` as a PERMANENT
    * session-catalog view and persist its SQL in the registry so
    * [[attach]] can recreate it in any later session. */
  def createView(base: String, view: String, sql: String): Unit = {
    spark.sql(s"CREATE OR REPLACE VIEW `${base}___$view` AS $sql")
    registry.upsertMeta(base, Map(s"$ViewSqlKey$view" -> sql))
  }

  def dropView(base: String, view: String): Unit = {
    spark.sql(s"DROP VIEW IF EXISTS `${base}___$view`")
    registry.deleteMetaKey(base, s"$ViewSqlKey$view")
  }

  /** External session-catalog table over the onboarded dir. Its schema
    * comes from one footer on the driver; only a partitioned dir leaves
    * it to `CREATE TABLE`'s own inference job. */
  private def registerTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    graft.stores.DriverParquet.schemaOf(spark, tablePath(name)) match {
      case Some(schema) =>
        spark.catalog.createTable(s"`$name`", "parquet", schema,
          Map("path" -> tablePath(name)))
      case None =>
        spark.sql(s"CREATE TABLE `$name` USING parquet LOCATION '${tablePath(name)}'")
    }
  }

  /** Open an onboarded artifact (stats cache reads/writes through the
    * catalog, so a later session reuses earlier sessions' work). */
  def dataSource(name: String): DataSource =
    new DataSource(spark, sanitize(name), spark.table(sanitize(name)), Some(this))

  /** Onboard a FeatureSet: id column enforced (auto-generated when
    * missing), event time stamped, feature types clamped
    * (pandas_to_features.py:94-129, 243-280), persisted like a table
    * plus `id_column`/`event_time_column` in the registry meta so any
    * later session can reopen it with [[featureSet]]. */
  def onboardFeatures(name: String, df: DataFrame, idColumn: String = "auto_id",
                      eventTimeColumn: String = "event_time",
                      owner: String = "unknown",
                      input: String = "dataframe"): FeatureSet = {
    val clean = sanitize(name)
    // id/event-time meta rides in the SAME registry write — a crash
    // between two writes would leave a 'ready' FeatureSet that silently
    // reopens with default columns
    persistTable(clean, FeatureSet.stamped(Transforms.normalizeColumnNames(df),
        idColumn, eventTimeColumn), Nil, "feature_set", input, owner, Map(
      "graft_id_column" -> idColumn, "graft_event_time_column" -> eventTimeColumn))
    featureSet(clean)
  }

  /** Reopen an onboarded FeatureSet — id/event-time come from the
    * registry meta, so no caller-side bookkeeping survives restarts. */
  def featureSet(name: String): FeatureSet = {
    val clean = sanitize(name)
    val meta = registry.getMeta(clean)
    new FeatureSet(spark, clean, spark.table(clean),
      meta.getOrElse("graft_id_column", "auto_id"),
      meta.getOrElse("graft_event_time_column", "event_time"),
      registerView = false) // the catalog table already resolves the name
  }

  /** Rebuild THIS session's catalog from the registry: every artifact's
    * external table plus every stored view definition. This is the
    * restart path — a fresh SparkSession pointed at the same root sees
    * all artifacts, views, tags, and cached stats.
    *
    * Two phases (ALL tables first, then views) so a view referencing
    * another artifact's table resolves; a single stale/broken view must
    * not abort the rest of the restart, so failures are collected and
    * returned rather than thrown. */
  def attach(): Seq[(String, String)] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present = registry.listNames()
      .filter(n => fs.exists(new org.apache.hadoop.fs.Path(tablePath(n))))
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    present.foreach { name =>
      try registerTable(name)
      catch { case e: Exception => failures += (name -> e.getMessage) }
    }
    present.foreach { name =>
      registry.getMeta(name).toSeq.sortBy(_._1).foreach {
        case (k, sql) if k.startsWith(ViewSqlKey) =>
          val view = s"${name}___${k.stripPrefix(ViewSqlKey)}"
          try spark.sql(s"CREATE OR REPLACE VIEW `$view` AS $sql")
          catch { case e: Exception => failures += (view -> e.getMessage) }
        case _ => ()
      }
    }
    failures.toSeq
  }

  /** Delete an artifact completely — session-catalog views and table,
    * the parquet data, the stats cache, and the registry row (the
    * reference's `Artifact.delete` contract: artifact.py:232-236,
    * view dependency order per view.py:141-152). */
  def delete(name: String): Unit = {
    val clean = sanitize(name)
    registry.getMeta(clean).keys
      .filter(_.startsWith(ViewSqlKey))
      .foreach(k => spark.sql(
        s"DROP VIEW IF EXISTS `${clean}___${k.stripPrefix(ViewSqlKey)}`"))
    spark.sql(s"DROP TABLE IF EXISTS `$clean`")
    deletePath(tablePath(clean))
    // per-type artifact storage (model binaries + inference runs,
    // graph parquet, endpoint monitor state)
    registry.get(clean).map(_.artifact_type).foreach {
      case "model" =>
        deletePath(modelPath(clean)); deletePath(s"$root/inference/$clean")
      case "graph" => deletePath(s"$root/graphs/$clean")
      case "endpoint" => deletePath(s"$root/monitor/$clean")
      case _ => ()
    }
    dropStats(clean)
    registry.delete(clean)
  }

  private def deletePath(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  private def dropStats(name: String): Unit =
    deletePath(s"$root/_stats/$name")

  // ── model / endpoint artifacts (api/model.py, api/endpoint.py) ──

  /** Onboard a fitted MLlib pipeline as a first-class registered model
    * artifact: the pipeline under `models/`, written by the driver with
    * no Spark job (MLlib's local layout, `GraftModelIO`; a root on a
    * non-`file` filesystem keeps MLlib's own job-based writer), and a
    * registry row of type `model` carrying target/features/labels so ANY
    * later session can reopen it with [[model]] (reference:
    * model_core.py:118-172 — the model package + its workbench_meta). */
  def onboardModel(name: String, pipeline: org.apache.spark.ml.PipelineModel,
                   modelType: String, target: String, features: Seq[String],
                   classLabels: Seq[String] = Nil, owner: String = "unknown",
                   input: String = "dataframe",
                   algo: String = "linear"): Model = {
    val clean = sanitize(name)
    org.apache.spark.ml.util.GraftModelIO.save(pipeline, modelPath(clean))
    // importance-at-train-time: persisted into registry meta so the
    // read-back (Model.getFeatureImportance) needs no model reload —
    // mirroring the reference publishing SHAP artifacts from the
    // training container (utils/shap_utils.py:1-60)
    val importance = graft.ml.Models.featureImportance(pipeline, features)
      .map(fi => Map("graft_feature_importance" ->
        fi.map { case (f, v) => s"$f:$v" }.mkString(",")))
      .getOrElse(Map.empty)
    registry.onboardRow(clean, "model", input, owner, Map(
      "graft_model_flavor" -> "mllib",
      "graft_model_type" -> modelType,
      "graft_model_algo" -> algo,
      "graft_target" -> target,
      "graft_features" -> features.mkString(",")) ++
      (if (classLabels.nonEmpty) Map("graft_class_labels" -> classLabels.mkString(","))
       else Map.empty) ++ importance)
    model(clean)
  }

  /** Freeze a copy of a registered model under a new name — the
    * reference's copy_model_artifacts (utils/model_utils.py:203-249):
    * the artifact files move into the COPY's own directory so the copy
    * is immune to the source's delete-then-recreate churn, and the
    * model-defining registry meta comes along. Per-lifecycle bookkeeping
    * (endpoints, inference runs) does NOT copy — the frozen model has
    * its own history. */
  def copyModel(srcName: String, dstName: String,
                owner: String = "unknown"): Model = {
    val src = sanitize(srcName); val dst = sanitize(dstName)
    require(registry.get(src).exists(_.artifact_type == "model"),
      s"no model '$src' to copy")
    // copy the artifact directory when the flavor persists one (MLlib);
    // formula models live entirely in registry meta
    val conf = spark.sparkContext.hadoopConfiguration
    val srcPath = new org.apache.hadoop.fs.Path(modelPath(src))
    val fs = srcPath.getFileSystem(conf)
    // clear the destination first: FileUtil.copy into an EXISTING dir
    // nests the copy under it (checkDest appends src.getName), which
    // would leave a stale artifact live at the top level on re-freeze
    deletePath(modelPath(dst))
    if (fs.exists(srcPath))
      org.apache.hadoop.fs.FileUtil.copy(fs, srcPath, fs,
        new org.apache.hadoop.fs.Path(modelPath(dst)), false, true, conf)
    val defining = registry.getMeta(src).filter { case (k, _) =>
      k.startsWith("graft_model_") || k == "graft_target" ||
        k == "graft_features" || k == "graft_class_labels" ||
        k == "graft_formula"
    }
    registry.onboardRow(dst, "model", s"copy_of:$src", owner, defining)
    model(dst)
  }

  /** Onboard a fixed-coefficient linear pseudo-model (`prediction =
    * intercept + Σ coefᵢ·colᵢ`). Deterministic across engines, which is
    * what the reference's "model script" escape hatch gives users
    * (model_core.py custom frameworks); here it also anchors the
    * DuckDB-oracle check of the full endpoint→capture lifecycle. */
  def onboardFormulaModel(name: String, intercept: Double,
                          coefs: Seq[(String, Double)], target: String,
                          owner: String = "unknown",
                          input: String = "formula"): Model = {
    val clean = sanitize(name)
    registry.onboardRow(clean, "model", input, owner, Map(
      "graft_model_flavor" -> "formula",
      "graft_model_type" -> "regressor",
      "graft_target" -> target,
      "graft_features" -> coefs.map(_._1).mkString(","),
      "graft_formula" ->
        (intercept.toString + ";" +
          coefs.map { case (c, w) => s"$c:$w" }.mkString(","))))
    model(clean)
  }

  /** Train + onboard in one step — `FeatureSet.to_model()`
    * (api/feature_set.py → features_to_model): fit the standard MLlib
    * pipeline on the named catalog table and register the result. For
    * classifiers the class labels are captured from the fitted
    * StringIndexer so index↔label mapping survives restarts.
    * `algo` picks the estimator family ("linear" | "rf" | "gbt") — the
    * reference's default journey trains XGBoost tree ensembles
    * (features_to_model.py:162-211), so trees are one keyword away; the
    * algo is recorded in model meta and reused by cross-fold refits. */
  def toModel(featureSet: String, modelName: String, modelType: String,
              target: String, features: Seq[String],
              owner: String = "unknown", algo: String = "linear"): Model = {
    val fitted = graft.ml.Models.train(spark.table(sanitize(featureSet)),
      modelType, features, target, algo)
    onboardModel(modelName, fitted, modelType, target, features,
      graft.ml.Models.classLabels(fitted), owner, input = sanitize(featureSet), algo = algo)
  }

  /** Reopen a registered model artifact by name (restart path). */
  def model(name: String): Model = new Model(this, sanitize(name))

  /** Reopen a registered endpoint artifact by name (restart path). */
  def endpoint(name: String): Endpoint = new Endpoint(this, sanitize(name))

  /** Validate + register a DAG-backed meta-endpoint
    * (api/meta_endpoint.py MetaEndpoint.create). */
  def createMetaEndpoint(name: String, dag: MetaEndpointDAG,
                         owner: String = "unknown"): MetaEndpoint =
    MetaEndpoint.create(this, name, dag, owner)

  /** Reopen a registered meta-endpoint by name (restart path — the DAG
    * is reconstructed from registry meta). */
  def metaEndpoint(name: String): MetaEndpoint =
    new MetaEndpoint(this, sanitize(name))

  /** Account-wide artifact listing/describe (api/meta.py). */
  def meta: Meta = new Meta(this)

  /** TTL for [[artifactCache]] — overridable (tests pin 0 to exercise
    * the modified-stamp staleness path on every access). */
  protected def artifactCacheTtlMs: Long = 30000L

  /** Catalog-shared result cache behind [[CachedMeta]] and the `Cached*`
    * artifact handles (cached/cached_artifact_mixin.py's shared
    * artifact_cache). */
  lazy val artifactCache: ArtifactCache = new ArtifactCache(this, artifactCacheTtlMs)

  /** TTL-memoized Meta — the reference's recommended metadata path
    * (cached/cached_meta.py). */
  lazy val cachedMeta: CachedMeta = new CachedMeta(this)

  /** Cached artifact handles (cached/cached_data_source.py,
    * cached_model.py, cached_endpoint.py — "the preferred API" in the
    * reference docs): memoized stats/meta, live mutations. */
  def cachedDataSource(name: String): CachedDataSource =
    new CachedDataSource(this, sanitize(name))
  def cachedModel(name: String): CachedModel =
    new CachedModel(this, sanitize(name))
  def cachedFeatureSet(name: String): CachedFeatureSet =
    new CachedFeatureSet(this, sanitize(name))
  def cachedEndpoint(name: String): CachedEndpoint =
    new CachedEndpoint(this, sanitize(name))

  /** Per-compound tag/meta records persisted in registry meta
    * (api/compound.py). */
  lazy val compounds: CompoundStore = new CompoundStore(this)


  // ── graph artifacts (api/graph_store.py:12-43 — graphs are
  //    registered artifacts, not loose files) ──
  lazy val graphStore = new graft.stores.GraphStore(spark, s"$root/graphs")

  /** Persist a vertex/edge pair as a REGISTERED graph artifact: the
    * GraphStore parquet plus a registry row, so `attach()`-style
    * reopen-by-name works for graphs like every other artifact. */
  def onboardGraph(name: String, vertices: DataFrame, edges: DataFrame,
                   owner: String = "unknown",
                   input: String = "dataframe"): Unit = {
    val clean = sanitize(name)
    graphStore.upsert(clean, vertices, edges)
    // count the JUST-WRITTEN parquet, not the input frames: a bare
    // count over footer row-counts (no data pages) vs re-running each
    // frame's full upstream plan a second time
    registry.onboardRow(clean, "graph", input, owner, Map(
      "graft_num_vertices" -> graphStore.vertices(clean).count().toString,
      "graft_num_edges" -> graphStore.edges(clean).count().toString))
  }

  /** Reopen a registered graph artifact: (vertices, edges). */
  def graph(name: String): (DataFrame, DataFrame) = {
    val clean = sanitize(name)
    (graphStore.vertices(clean), graphStore.edges(clean))
  }

  // ── persistent stats cache (the reference stashes computed stats in
  //    Glue table Parameters — athena_source.py:99-152, 315-319) ──
  private def statKey(name: String, key: String): String =
    s"$name/${key.replaceAll("[^A-Za-z0-9_/.\\-]", "_")}"

  def readStat(name: String, key: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(root + "/_stats/" + statKey(name, key))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(statsStore.get(statKey(name, key))) else None
  }
  def writeStat(name: String, key: String, df: DataFrame): Unit =
    statsStore.upsert(statKey(name, key), df)
}
