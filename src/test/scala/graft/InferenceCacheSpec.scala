package graft

import graft.api.{Catalog, InferenceCache}
import org.apache.spark.sql.functions._

/** InferenceCache: hit/miss split, served-from-cache semantics, entry
  * invalidation, key remapping (api/inference_cache.py:30-250). */
class InferenceCacheSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog(): Catalog = new Catalog(spark,
    java.nio.file.Files.createTempDirectory("graft-infcache").toString)

  private def formulaEndpoint(cat: Catalog, name: String = "m") = {
    val m = cat.onboardFormulaModel(name, 1.0, Seq("x" -> 2.0),
      target = "__absent__")
    m.toEndpoint(name + "-end")
  }

  test("inference releases its checkpoints on all-miss, partial-hit and all-hit calls") {
    def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def checkpointsIn(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.logical.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
    val cat = freshCatalog()
    val cache = new InferenceCache(formulaEndpoint(cat), "k")
    val some = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x")
    val more = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x")
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "all-miss" -> (() => cache.inference(some)),
      "partial-hit" -> (() => cache.inference(more)),
      "all-hit" -> (() => cache.inference(more)),
      "captured partial-hit" -> (() => cache.inference(
        Seq((3L, 30.0), (4L, 40.0)).toDF("k", "x"), captureName = Some("run"))))
      .foreach { case (name, run) =>
        val before = persisted()
        val out = run()
        val added = persisted() -- before
        assert(added.subsetOf(checkpointsIn(out)), s"$name left persisted: $added")
        assert(out.count() > 0)
      }
    assert(cache.cacheSize() == 4)
    val before = persisted()
    assert(cache.deleteEntries(Seq(4L)) == 1L)
    assert((persisted() -- before).isEmpty, "deleteEntries left its survivors persisted")
    assert(cache.cacheSize() == 3)
  }

  test("miss-only compute: second call serves hits from the cache") {
    val cat = freshCatalog()
    val ep = formulaEndpoint(cat)
    val cache = new InferenceCache(ep, "k")
    val half = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x")
    val full = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x")

    val first = cache.inference(half)
    assert(first.count() == 2)
    assert(cache.cacheSize() == 2)

    // poison the cached rows: if the second call served ANY hit by
    // recomputing instead of reading the cache, the poisoned value
    // would not surface
    val store = cat.dfStore
    val poisoned = store.get(cache.cachePath)
      .withColumn("prediction", col("prediction") + 1000)
      .localCheckpoint(true)
    store.upsert(cache.cachePath, poisoned)

    val out = cache.inference(full).orderBy("k").collect()
    assert(out.map(_.getAs[Double]("prediction")).toSeq ==
      Seq(1021.0, 1041.0, 61.0)) // hits poisoned, miss freshly computed
    assert(cache.cacheSize() == 3)
  }

  test("result frame preserves eval row multiplicity and extra columns") {
    val cat = freshCatalog()
    val cache = new InferenceCache(formulaEndpoint(cat), "k")
    val eval = Seq((1L, 10.0, "a"), (1L, 10.0, "b"), (2L, 20.0, "c"))
      .toDF("k", "x", "note")
    val out = cache.inference(eval)
    assert(out.count() == 3) // dup key rows both come back
    assert(out.columns.contains("note"))
    assert(cache.cacheSize() == 2) // but each key computed/cached once
    assert(out.filter(col("k") === 1L).select("prediction")
      .distinct().head().getDouble(0) == 21.0)
  }

  test("deleteEntries forces recompute; clearCache empties") {
    val cat = freshCatalog()
    val cache = new InferenceCache(formulaEndpoint(cat), "k")
    cache.inference(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x"))
    assert(cache.deleteEntries(Seq(1L)) == 1L)
    assert(cache.cacheSize() == 1)
    // deleted key recomputes and lands back in the cache
    val out = cache.inference(Seq((1L, 10.0)).toDF("k", "x"))
    assert(out.head().getAs[Double]("prediction") == 21.0)
    assert(cache.cacheSize() == 2)
    cache.clearCache()
    assert(cache.cacheSize() == 0)
    assert(cache.cacheInfo()("rows") == "0")
  }

  test("keep-last: newest cache row wins for a duplicated key") {
    val cat = freshCatalog()
    val cache = new InferenceCache(formulaEndpoint(cat), "k")
    cache.inference(Seq((1L, 50.0)).toDF("k", "x")) // pred = 101
    // append a STALE duplicate row for the same key (ts=0): the
    // keep-last window must serve the newer row
    val store = cat.dfStore
    val stale = store.get(cache.cachePath)
      .withColumn("prediction", lit(555.0))
      .withColumn("__cache_ts", lit(0L)).localCheckpoint(true)
    store.append(cache.cachePath, stale)
    val served = cache.inference(Seq((1L, 99.0)).toDF("k", "x"))
    // hit: served from the newest cache row, not recomputed from x=99
    assert(served.head().getAs[Double]("prediction") == 101.0)
    assert(cache.cacheSize() == 1) // dedup counts live rows only
  }

  test("outputKeyColumn: cache keyed on the endpoint's echo column") {
    val cat = freshCatalog()
    val ep = formulaEndpoint(cat)
    val cache = new InferenceCache(ep, "k", outputKeyColumn = Some("orig_k"))
    val eval = Seq((1L, 10.0, 1L), (2L, 20.0, 2L)).toDF("k", "x", "orig_k")
    cache.inference(eval)
    // cached under orig_k values → lookups with the same keys hit
    val store = cat.dfStore
    val poisoned = store.get(cache.cachePath)
      .withColumn("prediction", lit(-1.0)).localCheckpoint(true)
    store.upsert(cache.cachePath, poisoned)
    val out = cache.inference(eval)
    assert(out.select("prediction").distinct().head().getDouble(0) == -1.0)
  }

  test("autoInvalidate drops a stale cache when the endpoint changed") {
    val cat = freshCatalog()
    val ep = formulaEndpoint(cat)
    val c1 = new InferenceCache(ep, "k", autoInvalidate = true)
    c1.inference(Seq((1L, 10.0)).toDF("k", "x"))
    assert(c1.cacheSize() == 1)
    Thread.sleep(5) // registry modified stamps are millisecond-grained
    // "redeploy" the endpoint: registry row modified moves forward
    cat.registry.addTag(ep.name, "redeployed")
    val c2 = new InferenceCache(ep, "k", autoInvalidate = true)
    c2.inference(Seq((2L, 20.0)).toDF("k", "x"))
    assert(c2.cacheSize() == 1) // old entry invalidated, only the new one
    // without autoInvalidate the stale cache is kept and reseeded
    cat.registry.addTag(ep.name, "again")
    val c3 = new InferenceCache(ep, "k")
    c3.inference(Seq((3L, 30.0)).toDF("k", "x"))
    assert(c3.cacheSize() == 2)
  }

  test("review: a bare directory from an aborted first write does not wedge the cache") {
    val cat = freshCatalog()
    val cache = new InferenceCache(formulaEndpoint(cat), "k")
    // simulate the committer's mkdirs surviving an aborted job: path
    // exists but holds no committed parquet
    val p = new org.apache.hadoop.fs.Path(
      cat.root + "/dfstore/" + cache.cachePath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    assert(!cat.dfStore.check(cache.cachePath))
    assert(cache.cacheSize() == 0)
    val out = cache.inference(Seq((1L, 10.0)).toDF("k", "x"))
    assert(out.head().getAs[Double]("prediction") == 21.0)
    assert(cache.cacheSize() == 1)
  }

  test("review: null cache keys are cached once and served, not every-call misses") {
    val cat = freshCatalog()
    val cache = new InferenceCache(formulaEndpoint(cat), "k")
    val eval = Seq((java.lang.Long.valueOf(1L), 10.0), (null.asInstanceOf[java.lang.Long], 30.0))
      .toDF("k", "x")
    val first = cache.inference(eval)
    // the null-key row gets a real prediction, same as the uncached path
    assert(first.filter(col("k").isNull).head().getAs[Double]("prediction") == 61.0)
    assert(cache.cacheSize() == 2) // null key is ONE cache entry
    val again = cache.inference(eval)
    assert(again.filter(col("k").isNull).head().getAs[Double]("prediction") == 61.0)
    assert(cache.cacheSize() == 2) // served as a hit — no dead-row growth
    // deleteEntries never takes null-keyed rows as collateral damage
    assert(cache.deleteEntries(Seq(1L)) == 1L)
    assert(cache.cacheSize() == 1)
  }

  test("review: all-hit inference skips the endpoint run and cache append") {
    val cat = freshCatalog()
    val cache = new InferenceCache(formulaEndpoint(cat), "k")
    cache.inference(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x"))
    val dir = new java.io.File(cat.root + "/dfstore/" + cache.cachePath)
    def partFiles = dir.listFiles.count(_.getName.endsWith(".parquet"))
    val before = partFiles
    val out = cache.inference(Seq((1L, 10.0)).toDF("k", "x"))
    assert(out.head().getAs[Double]("prediction") == 21.0)
    assert(partFiles == before, "all-hit call must not append to the cache")
  }

  test("review: autoInvalidate with cache data but NO manifest stamp drops the cache") {
    val cat = freshCatalog()
    val ep = formulaEndpoint(cat)
    val c1 = new InferenceCache(ep, "k")
    c1.inference(Seq((1L, 10.0)).toDF("k", "x"))
    cat.paramStore.delete(s"graft_inference_cache/${ep.name}") // lost stamp
    val c2 = new InferenceCache(ep, "k", autoInvalidate = true)
    c2.inference(Seq((2L, 20.0)).toDF("k", "x"))
    assert(c2.cacheSize() == 1) // unknown-vintage data conservatively dropped
  }

  test("equivalence: cached inference == uncached endpoint output for any split") {
    // the cache must be INVISIBLE in results: for several seed/eval key
    // splits (overlapping, disjoint, duplicated, empty-seed), the final
    // frame matches what the bare endpoint returns on the same eval
    val cat = freshCatalog()
    val ep = formulaEndpoint(cat)
    def frame(keys: Seq[Long]) = keys.map(k => (k, k * 1.5)).toDF("k", "x")
    val evalKeys = Seq(1L, 2L, 3L, 4L, 5L, 3L, 1L) // dups included
    val expected = ep.inference(frame(evalKeys))
      .select("k", "x", "prediction").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    for (seed <- Seq(Seq.empty[Long], Seq(1L, 2L), Seq(5L), evalKeys)) {
      val cache = new InferenceCache(ep, "k")
      cache.clearCache()
      if (seed.nonEmpty) cache.inference(frame(seed))
      val got = cache.inference(frame(evalKeys))
        .select("k", "x", "prediction").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
      assert(got == expected, s"seed=$seed")
    }
  }

  test("unique-key fast path: guarded appends skip the keep-last window; " +
      "an out-of-band write falls back to it (VERDICT r7 item 7)") {
    val cat = freshCatalog()
    val ep = formulaEndpoint(cat)
    val cache = new InferenceCache(ep, "k")
    def frame(keys: Seq[Long]) = keys.map(k => (k, k * 2.0)).toDF("k", "x")
    cache.inference(frame(Seq(1L, 2L)))                 // seed: guarded append
    val warm = cache.inference(frame(Seq(1L, 2L, 3L)))  // guarded append of {3}
    // every key computed exactly ONCE across both calls: raw cache rows
    // == distinct keys (the cache-hit fraction on the warm call is 2/3
    // by construction — no hit was recomputed)
    val raw = cat.dfStore.get(cache.cachePath)
    assert(raw.count() == 3 && raw.select("k").distinct().count() == 3)
    // fast path: the served plan needs no keep-last Window over the cache
    val plan = warm.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"guarded cache read must skip dedup:\n$plan")
    assert(warm.count() == 3)
    // out-of-band append (stale duplicate) → stamp mismatch → window back
    val stale = raw.withColumn("prediction", lit(-9.0))
      .withColumn("__cache_ts", lit(0L)).localCheckpoint(true)
    cat.dfStore.append(cache.cachePath, stale)
    val served = cache.inference(frame(Seq(1L, 2L, 3L)))
    assert(served.queryExecution.executedPlan.toString.contains("Window"))
    // and keep-last semantics hold: newest rows win, stale -9 never served
    assert(served.select("prediction").collect().forall(_.getDouble(0) != -9.0))
  }

  test("Reports store scopes to the /reports subtree of the DFStore") {
    val cat = freshCatalog()
    cat.reports.upsert("contests/demo", Seq((1, 0.5)).toDF("model", "rmse"))
    assert(cat.reports.list() == Seq("contests/demo"))
    assert(cat.dfStore.list() == Seq("reports/contests/demo"))
    assert(cat.reports.get("contests/demo").count() == 1)
    cat.reports.delete("contests/demo")
    assert(cat.reports.list().isEmpty)
  }
}
