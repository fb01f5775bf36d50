package graft.api

import graft.core.Tables
import graft.eda.{Eda, Quality}
import graft.transforms.Transforms
import graft.views.Views
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** User-facing artifact API — the reference's `workbench.api` surface
  * (DataSource / FeatureSet / View lifecycle) over Spark.
  *
  * A user of the reference writes:
  * {{{
  *   ds = DataSource(df_or_path, name="abalone_data")
  *   ds.descriptive_stats(); ds.outliers(); ds.smart_sample()
  *   fs = ds.to_features("abalone_features", id_column="id")
  *   fs.snapshot(); fs.training_view(...)
  * }}}
  * The same flow here, Spark-first: every method returns a DataFrame and
  * stays distributed; stats are memoized per artifact like the
  * reference's Glue-Parameters cache
  * (reference: src/workbench/api/data_source.py, api/feature_set.py;
  * core/artifacts/data_source_abstract.py:274-318).
  */
class DataSource(val spark: SparkSession, val name: String, df: DataFrame,
                 val catalog: Option[Catalog] = None) {
  private val normalized = Transforms.normalizeColumnNames(df)
  // catalog-backed sources already resolve by name via the session
  // catalog (external table); only ad-hoc sources need a temp view
  if (catalog.isEmpty) normalized.createOrReplaceTempView(name)

  // stats memoization (the reference persists these into Glue table
  // Parameters and short-circuits later calls — athena_source.py:315-319);
  // catalog-backed sources ALSO write stats through to the catalog dir so
  // later sessions reuse them
  private val statsCache = scala.collection.mutable.Map.empty[String, DataFrame]
  private def memo(key: String)(f: => DataFrame): DataFrame =
    statsCache.getOrElseUpdate(key,
      catalog.flatMap(_.readStat(name, key)).getOrElse {
        val result = f.cache()
        catalog.foreach(_.writeStat(name, key, result))
        result
      })

  def toDF: DataFrame = normalized
  def numRows(): Long = normalized.count()
  def columnNames: Seq[String] = normalized.columns.toSeq

  /** Ad-hoc SQL against this artifact's registered name
    * (reference: api/data_source.py:73-82). */
  def query(sql: String): DataFrame = spark.sql(sql)

  /** display / computation views — auto-created column subsets
    * (reference: core/views/display_view.py, computation_view.py).
    * Catalog-backed sources register a PERMANENT view (persisted SQL,
    * visible to later sessions); ad-hoc sources a temp view. */
  private def subsetView(view: String, cols: Seq[String], cap: Int): DataFrame =
    catalog match {
      case Some(c) =>
        val wanted = if (cols.nonEmpty) cols else normalized.columns.toSeq
        c.createView(name, view, c.subsetViewSql(name, wanted, cap))
        spark.table(s"${name}___$view")
      case None =>
        val v = Views.columnSubset(normalized, cols, cap)
        v.createOrReplaceTempView(s"${name}___$view")
        v
    }
  def displayView(cols: Seq[String] = Nil): DataFrame =
    subsetView("display", cols, 30)
  def computationView(cols: Seq[String] = Nil, cap: Int = 30): DataFrame =
    subsetView("computation", cols, cap)

  def numericColumns: Seq[String] = Tables.numericCols(normalized)

  def descriptiveStats(): DataFrame =
    memo("descriptive_stats")(Eda.descriptiveStats(normalized, numericColumns))
  def valueCounts(column: String): DataFrame =
    memo(s"value_counts/$column")(Eda.valueCounts(normalized, column))
  def correlations(): DataFrame =
    memo("correlations")(Eda.correlations(normalized, numericColumns))
  def columnStats(): DataFrame = memo("column_stats") {
    val cols = normalized.columns.toSeq
    val dtypes = spark.createDataFrame(normalized.schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString.replace("timestamp_ntz", "timestamp"))))
      .toDF("column_name", "dtype")
    Eda.countDistinct(normalized, cols).selectExpr("stack(" + cols.size + ", " +
      cols.map(c => s"'$c', `$c`").mkString(", ") + ") as (column_name, n_distinct)")
      .join(Eda.countNulls(normalized, cols).selectExpr("stack(" + cols.size + ", " +
        cols.map(c => s"'$c', `$c`").mkString(", ") + ") as (column_name, n_nulls)"),
        Seq("column_name"))
      .join(dtypes, Seq("column_name"))
  }
  /** Full composite (reference column_stats.py:52-121): adds zeros,
    * descriptive stats, and nested value_counts/correlations maps to the
    * flat [[columnStats]]. */
  def columnStatsFull(): DataFrame =
    memo("column_stats_full")(Eda.columnStatsFull(normalized))
  def outliers(scale: Double = 1.5): DataFrame =
    memo(s"outliers/$scale")(Eda.outliers(normalized, numericColumns, scale))
  def sample(rows: Int = 100): DataFrame =
    Transforms.sampleRows(normalized, rows)
  def smartSample(rows: Int = 100): DataFrame =
    memo(s"smart_sample/$rows")(Quality.smartSample(normalized, numericColumns, rows))

  /** Promote to a FeatureSet: enforce id column (auto_id generated when
    * missing) and event_time stamp
    * (reference: pandas_to_features.py:94-129). */
  def toFeatures(fsName: String, idColumn: String = "auto_id",
                 eventTimeColumn: String = "event_time"): FeatureSet =
    new FeatureSet(spark, fsName, FeatureSet.stamped(normalized, idColumn, eventTimeColumn),
      idColumn, eventTimeColumn)
}

object DataSource {
  /** Construct from a DataFrame, a parquet path, or csv/json files —
    * the reference's constructor dispatch (api/data_source.py:33-63). */
  def apply(spark: SparkSession, name: String, df: DataFrame): DataSource =
    new DataSource(spark, name, df)
  def fromPath(spark: SparkSession, name: String, path: String): DataSource = {
    val df =
      if (path.endsWith(".csv")) graft.sources.Sources.readCsv(spark, path)
      else if (path.endsWith(".json") || path.endsWith(".jsonl"))
        graft.sources.Sources.readJson(spark, path)
      else spark.read.parquet(path)
    new DataSource(spark, name, df)
  }
}

/** FeatureSet: DataSource + identity (id column, event time) with
  * snapshot read semantics and the training-view builder
  * (reference: core/artifacts/feature_set_core.py:27-104, 370-391;
  * core/views/view_utils.py:154-215).
  */
class FeatureSet(val spark: SparkSession, val name: String, df: DataFrame,
                 val idColumn: String, val eventTimeColumn: String,
                 registerView: Boolean = true) {
  // catalog-backed FeatureSets resolve by name via the session catalog; a
  // temp view would shadow the table
  if (registerView) df.createOrReplaceTempView(name)

  def toDF: DataFrame = df

  /** Latest-record-per-id view — the default read path
    * (feature_set_core.py:384-391). */
  def snapshot(): DataFrame =
    Views.snapshot(df, idColumn, Seq(col(eventTimeColumn).desc, col(idColumn).desc))

  /** Training view with sparse role assignments + COALESCE defaults. */
  def trainingView(roles: DataFrame): DataFrame =
    Views.trainingView(snapshot(), roles, idColumn)

  /** Temporal train/test split on event time. */
  def temporalSplit(cutoff: String): (DataFrame, DataFrame) =
    Transforms.temporalSplit(snapshot(), eventTimeColumn, cutoff)

  def asDataSource: DataSource = new DataSource(spark, name + "_ds", df)
}

private[api] object FeatureSet {
  /** A FeatureSet's frame: the id column generated when missing, event
    * time stamped when missing, feature types clamped
    * (pandas_to_features.py:94-129, 243-280). */
  def stamped(df: DataFrame, idColumn: String, eventTimeColumn: String): DataFrame = {
    val withId =
      if (df.columns.contains(idColumn)) df
      else df.withColumn(idColumn, monotonically_increasing_id())
    val withTs =
      if (withId.columns.contains(eventTimeColumn)) withId
      else withId.withColumn(eventTimeColumn, current_timestamp())
    Transforms.clampFeatureTypes(withTs)
  }
}
