package graft.api

import graft.core.{Checkpoints, TopK}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Result-caching wrapper around an [[Endpoint]] (reference:
  * src/workbench/api/inference_cache.py:30-250 plus the chunked-write
  * decorator in utils/inference_cache_utils.py).
  *
  * Inference results are cached in a catalog-owned parquet directory
  * keyed on `cacheKeyColumn`. `inference(df)` splits the eval rows into
  * cache hits and misses with one anti-join against the cache keys,
  * local-checkpoints the DISTINCT missed keys once (their count decides
  * the all-hits short-circuit and feeds the fan-out guard), runs the
  * wrapped endpoint on them only, appends the new results to the cache,
  * and left-joins the up-to-date cache back onto the eval frame, which
  * then reads only the cache parquet: every checkpoint the call made is
  * released before it returns. Key
  * comparisons are NULL-SAFE (`<=>`): a null key is one more cache
  * entry, computed once and served like any other, not a permanent
  * every-call miss.
  *
  * Spark-first divergences from the pandas reference:
  *  - the reference chunks uncached rows (snapshot=500) and rewrites the
  *    whole cache per chunk to bound interrupted-run damage; here each
  *    inference is ONE distributed append job with an atomic `_SUCCESS`
  *    commit, so existing cache data is never rewritten and a killed run
  *    loses at most its own uncommitted job
  *  - keep-last key dedup is a row_number window partitioned by the key
  *    (one keyed shuffle of the cache side) instead of pandas
  *    `drop_duplicates(keep="last")`
  *  - the cache is never materialized on the driver (its schema comes
  *    from one parquet footer); the returned frame is lazy like every
  *    other operator
  *
  * Caveats shared with the reference:
  *  - one writer per endpoint cache at a time (the reference's client
  *    owns its cache the same way): two SIMULTANEOUS `inference` calls
  *    race the append's shared `_temporary` dir. Sequential callers from
  *    any number of sessions are fine — appends never rewrite data.
  *  - output columns already present in the eval frame keep the eval
  *    frame's values (`feature_cols` excludes them, matching the
  *    reference's merge at inference_cache.py:158-162) — re-scoring a
  *    frame that already has a `prediction` column returns it untouched;
  *    drop it first to force fresh values.
  *
  * Appended chunks are coerced to the existing cache schema (missing
  * columns → null, extra columns dropped, types cast) — the reference's
  * canonical-dtype guard against schema drift between calls.
  */
class InferenceCache(val endpoint: Endpoint,
                     val cacheKeyColumn: String,
                     val outputKeyColumn: Option[String] = None,
                     val autoInvalidate: Boolean = false) {
  private val catalog = endpoint.catalog
  private def store = catalog.dfStore

  /** DFStore key of the cache parquet (inference_cache.py:88). */
  val cachePath: String = s"inference_cache/${endpoint.name}"
  private val manifestKey = s"graft_inference_cache/${endpoint.name}"
  private val uniqueKey = s"$manifestKey/unique_keys"
  private val TsCol = "__cache_ts"

  private var invalidationChecked = false

  private def key: Column = col(cacheKeyColumn)

  private def endpointModified: Long =
    catalog.registry.get(endpoint.name).map(_.modified.getTime).getOrElse(0L)

  /** One-shot per instance (inference_cache.py:230-250): with
    * `autoInvalidate` the cache is dropped when the endpoint's registry
    * row was modified after the manifest stamp — or when the stamp is
    * MISSING entirely (a crash between append and manifest write left
    * cache data of unknown vintage; conservative-drop beats serving
    * possibly-stale predictions). Without `autoInvalidate` the manifest
    * is reseeded so later instances compare against the current
    * endpoint. */
  private def checkInvalidation(): Unit = synchronized {
    if (!invalidationChecked) {
      val stamp = catalog.paramStore.get(manifestKey)
        .flatMap(s => scala.util.Try(s.toLong).toOption)
      if (autoInvalidate) {
        if (store.check(cachePath) &&
            (stamp.isEmpty || stamp.exists(_ < endpointModified))) clearCache()
      } else if (store.check(cachePath) && stamp != Some(endpointModified))
        catalog.paramStore.upsert(manifestKey, endpointModified.toString)
      invalidationChecked = true
    }
  }

  /** Metadata fingerprint of the cache directory (file count, total
    * bytes, newest mtime) — a driver-side listing, no data scan. Used
    * to detect out-of-band cache mutation since our last append. */
  private def cacheStamp(): String = {
    val p = new org.apache.hadoop.fs.Path(store.path(cachePath))
    val fs = p.getFileSystem(catalog.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val files = fs.listStatus(p).filter(s =>
        s.isFile && s.getPath.getName.endsWith(".parquet"))
      s"${files.length}:${files.map(_.getLen).sum}:" +
        s"${if (files.isEmpty) 0L else files.map(_.getModificationTime).max}"
    }
  }

  /** Newest cache row per key (`drop_duplicates(keep="last")`).
    *
    * Scale shortcut: every append this class performs is anti-join
    * guarded — it writes only keys PROVEN absent — so a cache built
    * solely from such appends has unique keys and keep-last dedup is a
    * no-op. That provenance is tracked in the `unique_keys` manifest
    * flag: guarded appends record `true:<dir stamp>`; an
    * `outputKeyColumn` rewrite (which could alias a fresh row onto an
    * existing key) records false. The skip applies ONLY while the
    * cache directory still matches the recorded stamp — any
    * out-of-band write (an external append, a manual upsert) changes
    * the listing and falls back to the full keyed window, exactly as
    * before. Saves the dominant scaled cost of a warm cache read: one
    * full sort-shuffle of the cache per inference call. */
  private def latestPerKey(cache: DataFrame): DataFrame = {
    val provenUnique = catalog.paramStore.get(uniqueKey)
      .exists(v => v.startsWith("true:") && v.stripPrefix("true:") == cacheStamp())
    if (provenUnique) cache
    else TopK(cache, Seq(key), Seq(col(TsCol).desc), 1)
  }

  /** Cached inference (inference_cache.py:109-162). `captureName` /
    * `idColumn` forward to the wrapped endpoint for the UNCACHED rows
    * only — a captured run records just the freshly computed work. */
  def inference(df: DataFrame, captureName: Option[String] = None,
                idColumn: Option[String] = None): DataFrame = Checkpoints.scoped {
    require(df.columns.contains(cacheKeyColumn),
      s"eval frame is missing required cache_key_column '$cacheKeyColumn'")
    checkInvalidation()

    val existing = if (store.check(cachePath)) Some(store.get(cachePath)) else None
    // misses: eval keys not in the cache (null-safe — a cached null key
    // is a hit), computed once per distinct key. No distinct on the
    // cache side: anti-join is set-membership already.
    val misses = existing match {
      case Some(c) =>
        val ck = c.select(key.as("__cache_key"))
        df.join(ck, key <=> col("__cache_key"), "left_anti")
      case None => df
    }
    // the distinct miss set, checkpointed ONCE: its row count is the
    // all-hits short-circuit (no endpoint run, empty append or manifest
    // rewrite on a warm call) and the fan-out guard's input side below
    val (toCompute, missCount) =
      InferenceCache.checkpointed(misses.dropDuplicates(cacheKeyColumn))
    if (existing.isEmpty || missCount > 0L) {
      val out = endpoint.inference(toCompute, captureName, idColumn)
      // endpoints that canonicalize the key column return the original
      // input value in `outputKeyColumn` — cache under THAT value so
      // future lookups with the same inputs still hit (py:60-71)
      val keyRewritten = outputKeyColumn.exists(out.columns.contains)
      val keyed =
        if (keyRewritten) out.withColumn(cacheKeyColumn, col(outputKeyColumn.get))
        else out
      // checkpoint the endpoint output: the appended frame is miss-only
      // (small by nature), and pinning it lets the fan-out check below
      // count it without re-running the endpoint transform
      val (stamped, outCount) = InferenceCache.checkpointed(
        keyed.withColumn(TsCol, lit(System.currentTimeMillis())))
      // key-uniqueness provenance (see latestPerKey), judged BEFORE the
      // append mutates the directory: a guarded append keeps a
      // fresh-or-provably-unique cache unique; a stale stamp (someone
      // wrote out-of-band since our last append) or a canonicalizing
      // key rewrite poisons the flag
      val wasUnique = existing.isEmpty ||
        catalog.paramStore.get(uniqueKey).exists(v =>
          v.startsWith("true:") && v.stripPrefix("true:") == cacheStamp())
      // fan-out guard: the unique-key skip assumes the endpoint returns
      // exactly one row per distinct input key; an endpoint that fans
      // rows out would append duplicate keys, so such an append records
      // false and future reads take the keyed window as before
      val oneRowPerKey = outCount == missCount
      // the append is the ONE action that runs the endpoint transform;
      // both hit- and miss-rows are then served from the updated cache
      store.append(cachePath,
        existing.map(c => graft.stores.Stores.coerceToSchema(stamped, c.schema))
          .getOrElse(stamped))
      catalog.paramStore.upsert(manifestKey, endpointModified.toString)
      catalog.paramStore.upsert(uniqueKey,
        if (wasUnique && !keyRewritten && oneRowPerKey) s"true:${cacheStamp()}"
        else "false")
    }

    val latest = latestPerKey(store.get(cachePath))
    val featureCols = latest.columns
      .filterNot(c => c == TsCol || df.columns.contains(c))
    val features = latest
      .select((cacheKeyColumn +: featureCols.toSeq).map(col): _*)
      .withColumnRenamed(cacheKeyColumn, "__cache_key")
    df.join(features, key <=> col("__cache_key"), "left").drop("__cache_key")
  }

  // ── cache introspection / maintenance (inference_cache.py:164-220) ──

  /** Number of distinct cached keys (live rows after keep-last dedup). */
  def cacheSize(): Long =
    if (!store.check(cachePath)) 0L
    else latestPerKey(store.get(cachePath)).count()

  def cacheInfo(): Map[String, String] = {
    val cols =
      if (store.check(cachePath))
        store.get(cachePath).columns.filterNot(_ == TsCol).mkString(",")
      else ""
    Map("path" -> cachePath, "rows" -> cacheSize().toString,
      "columns" -> cols,
      "manifest" -> catalog.paramStore.get(manifestKey).getOrElse(""))
  }

  /** Delete the cache parquet and its manifest stamps. */
  def clearCache(): Unit = {
    store.delete(cachePath)
    catalog.paramStore.delete(manifestKey)
    catalog.paramStore.delete(uniqueKey)
  }

  /** Drop entries by key value so they recompute on the next
    * `inference` (py:190-220). A maintenance rewrite: the key list is a
    * driver-side literal, so keep it bounded (thousands, not millions —
    * for bulk invalidation use `clearCache`). Null-keyed entries are
    * never collateral damage (pass no keys you didn't mean to drop; a
    * null key itself can only be cleared via `clearCache`). Returns
    * rows removed. */
  def deleteEntries(keys: Seq[Any]): Long =
    if (!store.check(cachePath) || keys.isEmpty) 0L
    else Checkpoints.scoped {
      val cache = store.get(cachePath)
      // isin is null-void: !isin(...) evaluates to null for a null key and
      // a bare filter would silently drop those rows from the rewrite
      val matches = coalesce(key.isin(keys: _*), lit(false))
      val removed = cache.filter(matches).count()
      if (removed > 0L) {
        // materialize survivors BEFORE overwriting the directory being read
        val kept = Checkpoints.local(cache.filter(!matches))
        if (kept.isEmpty) store.delete(cachePath)
        else store.upsert(cachePath, kept)
      }
      removed
    }
}

private object InferenceCache {
  /** `df` local-checkpointed and its row count, from ONE job: the count
    * runs over the checkpoint's own RDD and materializes it (an eager
    * checkpoint's count plus a `Dataset.count()` would be three). */
  private def checkpointed(df: DataFrame): (DataFrame, Long) = {
    val cp = Checkpoints.local(df, eager = false)
    (cp, cp.rdd.count())
  }
}
