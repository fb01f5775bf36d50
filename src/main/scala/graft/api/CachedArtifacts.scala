package graft.api

import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame

/** Shared result cache behind the `Cached*` artifact handles and
  * [[CachedMeta]] — the reference's artifact_cache + modified-stamp
  * staleness (cached/cached_artifact_mixin.py:9-77): results are
  * trusted outright inside the TTL window; past it, the artifact's
  * registry `modified` stamp is re-read (one metadata row) and the
  * entry survives only if the artifact hasn't changed — so a
  * re-onboard invalidates on the next out-of-TTL access without any
  * hook in the write path.
  *
  * DataFrame values are materialized with `Checkpoints.retained`
  * (metadata-sized by construction): they outlive the call that made
  * them, so no `Checkpoints.scoped` call owns them and this cache frees
  * them itself. Displaced frames are NOT released
  * immediately — localCheckpoint truncates lineage, so a caller still
  * holding a previously returned frame would hit an unrecoverable
  * "checkpoint block not found" on its next action (ADVICE r4).
  * Instead they retire into a bounded FIFO; blocks are freed only when
  * the queue overflows (`retireCap` displacements later — by then any
  * in-flight consumer has long since acted) or on `clear()`. Long-lived
  * sessions with a short TTL therefore hold at most `retireCap` stale
  * checkpointed results (each metadata-sized), never an unbounded
  * accumulation (ADVICE r3).
  */
private[graft] class ArtifactCache(catalog: Catalog, val ttlMs: Long,
                                   retireCap: Int = 64) {
  private case class Entry(at: Long, modified: Option[java.sql.Timestamp], v: Any)
  private val cache = scala.collection.concurrent.TrieMap.empty[String, Entry]
  private val retired = new java.util.ArrayDeque[Any]()

  private def release(v: Any): Unit = v match {
    case df: DataFrame => Checkpoints.release(df)
    case Some(inner) => release(inner)
    case _ => ()
  }

  /** Queue a displaced value; free the oldest once the queue is full. */
  private def retire(v: Any): Unit = retired.synchronized {
    retired.addLast(v)
    while (retired.size > retireCap) release(retired.removeFirst())
  }

  // materialize DataFrames (bare or Option-wrapped) so the cached value
  // is a RESULT, not a lazy plan that re-reads files on every use
  private def materialize(v: Any): Any = v match {
    case df: DataFrame => Checkpoints.retained(df)
    case Some(df: DataFrame) => Some(Checkpoints.retained(df))
    case other => other
  }

  private def currentModified(artifact: Option[String]): Option[java.sql.Timestamp] =
    artifact.flatMap(a => catalog.registry.get(a).map(_.modified))

  /** Memoize `f` under `key`. With an `artifact`, staleness past the TTL
    * is decided by the registry modified stamp; without one (account-wide
    * listings) the TTL alone governs. */
  def cached[T](key: String, artifact: Option[String] = None)(f: => T): T = {
    val now = System.currentTimeMillis()
    cache.get(key) match {
      case Some(e) if now - e.at < ttlMs => e.v.asInstanceOf[T]
      case Some(e) if artifact.isDefined && {
            val cur = currentModified(artifact)
            cur.isDefined && cur == e.modified
          } =>
        // unchanged artifact: keep the value, restart the TTL clock
        cache.put(key, e.copy(at = now))
        e.v.asInstanceOf[T]
      case prior =>
        val v = materialize(f)
        cache.put(key, Entry(now, currentModified(artifact), v))
        prior.foreach(e => retire(e.v))
        v.asInstanceOf[T]
    }
  }

  /** Drop every entry under `prefix` (an artifact's namespace). Displaced
    * frames retire (deferred release) — a caller holding one keeps it. */
  def invalidate(prefix: String): Unit =
    cache.keys.filter(_.startsWith(prefix)).foreach { k =>
      cache.remove(k).foreach(e => retire(e.v))
    }

  /** Drop everything and free all blocks, including retired ones. The one
    * eager release point — only call when no cached frame is still held. */
  def clear(): Unit = {
    cache.values.foreach(e => release(e.v))
    cache.clear()
    retired.synchronized {
      while (!retired.isEmpty) release(retired.removeFirst())
    }
  }
}

/** Base for the cached artifact handles (cached_artifact_mixin.py):
  * namespaced keys into the catalog-shared [[ArtifactCache]] plus the
  * per-artifact `refresh`. */
private[graft] trait CachedArtifact {
  def catalog: Catalog
  def name: String
  protected def kind: String
  protected def cacheStore: ArtifactCache
  protected final def cached[T](method: String)(f: => T): T =
    cacheStore.cached(s"$kind/$name/$method", Some(name))(f)
  /** Invalidate this artifact's cached results (mixin `refresh`). */
  def refresh(): Unit = cacheStore.invalidate(s"$kind/$name/")
}

/** CachedDataSource: memoized stats/meta over a [[DataSource]] handle —
  * the reference's "preferred" read path (cached/cached_data_source.py:
  * 1-60: summary/details/health_check/meta wrapped in cache_result).
  * Repeat calls inside the TTL do no file I/O at all; after a
  * re-onboard the stamp check refetches. */
class CachedDataSource(val catalog: Catalog, val name: String)
    extends CachedArtifact {
  protected val kind = "data_source"
  protected def cacheStore: ArtifactCache = catalog.artifactCache
  // a FRESH handle per compute: a pinned lazy val would answer a
  // post-re-onboard refetch from its own per-handle stats memo and
  // re-cache stale data under the new stamp
  private def ds: DataSource = catalog.dataSource(name)

  def summary(): Map[String, String] = cached("summary")(catalog.meta.describe(name))
  def descriptiveStats(): DataFrame = cached("descriptive_stats")(ds.descriptiveStats())
  def correlations(): DataFrame = cached("correlations")(ds.correlations())
  def columnStats(): DataFrame = cached("column_stats")(ds.columnStats())
  def columnStatsFull(): DataFrame = cached("column_stats_full")(ds.columnStatsFull())
  def valueCounts(column: String): DataFrame =
    cached(s"value_counts/$column")(ds.valueCounts(column))
  def outliers(scale: Double = 1.5): DataFrame =
    cached(s"outliers/$scale")(ds.outliers(scale))
  def smartSample(rows: Int = 100): DataFrame =
    cached(s"smart_sample/$rows")(ds.smartSample(rows))
  def numRows(): Long = cached("num_rows")(ds.numRows())
  def columnNames: Seq[String] = cached("column_names")(ds.columnNames)
}

/** CachedFeatureSet: memoized meta/stats over a reopened [[FeatureSet]]
  * (cached/cached_feature_set.py:26-66: summary/details/health_check/
  * meta). Stats route through the underlying DataSource view of the
  * same table so the catalog's persisted stats are shared. */
class CachedFeatureSet(val catalog: Catalog, val name: String)
    extends CachedArtifact {
  protected val kind = "feature_set"
  protected def cacheStore: ArtifactCache = catalog.artifactCache
  private def fs: FeatureSet = catalog.featureSet(name)
  private def ds: DataSource = catalog.dataSource(name)

  def summary(): Map[String, String] = cached("summary")(catalog.meta.describe(name))
  def idColumn: String = cached("id_column")(fs.idColumn)
  def eventTimeColumn: String = cached("event_time_column")(fs.eventTimeColumn)
  def columnNames: Seq[String] = cached("column_names")(fs.toDF.columns.toSeq)
  def descriptiveStats(): DataFrame = cached("descriptive_stats")(ds.descriptiveStats())
  def columnStats(): DataFrame = cached("column_stats")(ds.columnStats())
  def smartSample(rows: Int = 100): DataFrame =
    cached(s"smart_sample/$rows")(ds.smartSample(rows))
  /** The live handle, for snapshot/training-view/split work. */
  def featureSet: FeatureSet = fs
}

/** CachedModel: memoized metadata/metrics over a [[Model]] handle
  * (cached/cached_model.py:1-199: details, health_check, metrics,
  * confusion matrix, inference runs). Inference itself is NEVER cached —
  * only its recorded artifacts. */
class CachedModel(val catalog: Catalog, val name: String)
    extends CachedArtifact {
  protected val kind = "model"
  protected def cacheStore: ArtifactCache = catalog.artifactCache
  private def m: Model = catalog.model(name)

  def summary(): Map[String, String] = cached("summary")(catalog.meta.describe(name))
  def modelType: String = cached("model_type")(m.modelType)
  def target: String = cached("target")(m.target)
  def features: Seq[String] = cached("features")(m.features)
  def endpoints: Seq[String] = cached("endpoints")(m.endpoints)
  def listInferenceRuns(): Seq[String] =
    cached("inference_runs")(m.listInferenceRuns())
  def getInferenceMetrics(capture: String = "default"): Option[DataFrame] =
    cached(s"inference_metrics/$capture")(m.getInferenceMetrics(capture))
  def getInferencePredictions(capture: String = "default"): Option[DataFrame] =
    cached(s"inference_predictions/$capture")(m.getInferencePredictions(capture))
  def getConfusionMatrix(capture: String = "default"): Option[DataFrame] =
    cached(s"confusion_matrix/$capture")(m.getConfusionMatrix(capture))
  /** The live handle, for mutations (toEndpoint, inference capture). */
  def model: Model = m
}

/** CachedEndpoint: memoized metadata over an [[Endpoint]] handle
  * (cached/cached_endpoint.py). `inference` passes straight through —
  * caching predictions would change semantics. */
class CachedEndpoint(val catalog: Catalog, val name: String)
    extends CachedArtifact {
  protected val kind = "endpoint"
  protected def cacheStore: ArtifactCache = catalog.artifactCache
  private def ep: Endpoint = catalog.endpoint(name)

  def summary(): Map[String, String] = cached("summary")(catalog.meta.describe(name))
  def modelName: String = cached("model_name")(ep.modelName)
  def exists: Boolean = cached("exists")(ep.exists)
  /** Live passthrough — never cached. */
  def inference(df: DataFrame, captureName: Option[String] = None,
                idColumn: Option[String] = None): DataFrame =
    ep.inference(df, captureName, idColumn)
  def endpoint: Endpoint = ep
}
