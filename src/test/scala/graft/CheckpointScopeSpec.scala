package graft

import graft.api.{ArtifactCache, Catalog}
import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The ownership rule of [[Checkpoints]]: a scope frees what its result
  * does not read, hands the rest to the enclosing scope, frees
  * everything on an exception, and owns the checkpoints its pool tasks
  * make. The long-session check runs the `query_mix` and graph-family
  * queries repeatedly and asserts that no local checkpoint outlives
  * its result. */
class CheckpointScopeSpec extends SparkSpec {

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def idsIn(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  private def small(n: Int): DataFrame = spark.range(n).toDF("id")

  test("Checkpoints.local outside a scope throws") {
    val e = intercept[IllegalStateException](Checkpoints.local(small(3)))
    assert(e.getMessage.contains("Checkpoints.scoped"))
  }

  test("a nested scope hands what its result reads to the enclosing scope") {
    val before = persisted()
    var inner: DataFrame = null
    var dropped: Set[Int] = Set.empty
    val n = Checkpoints.scoped {
      inner = Checkpoints.scoped {
        dropped = idsIn(Checkpoints.local(small(4)))
        Checkpoints.local(small(5)).filter(col("id") > 1)
      }
      // the inner scope kept what its result reads and freed the rest
      assert(idsIn(inner).subsetOf(persisted()))
      assert(dropped.intersect(persisted()).isEmpty)
      inner.count()
    }
    assert(n == 3)
    // the outer result is a Long: it reads nothing, so all is freed
    assert(persisted() -- before == Set.empty)
  }

  test("an exception frees every checkpoint registered with the scope") {
    val before = persisted()
    intercept[ArithmeticException] {
      Checkpoints.scoped {
        Checkpoints.local(small(3))
        Checkpoints.scoped(Checkpoints.local(small(4)))
        throw new ArithmeticException("boom")
      }
    }
    assert(persisted() -- before == Set.empty)
  }

  test("a checkpoint read only through RDD lineage is kept") {
    val before = persisted()
    val viaRdd = Checkpoints.scoped {
      val a = Checkpoints.local(small(6))
      spark.createDataFrame(a.rdd, a.schema)
    }
    assert((persisted() -- before).size == 1)
    assert(viaRdd.count() == 6)
    Checkpoints.release(viaRdd)
    assert(persisted() -- before == Set.empty)
    // a lazy checkpoint materialized inside its scope no longer reads
    // its input, so the scope frees the input
    val viaLazy = Checkpoints.scoped {
      val b = Checkpoints.local(small(7))
      val cp = Checkpoints.local(b.filter(col("id") > 2), eager = false)
      cp.count()
      cp
    }
    assert((persisted() -- before).size == 1)
    assert(viaLazy.count() == 4)
    Checkpoints.release(viaLazy)
    assert(persisted() -- before == Set.empty)
  }

  test("a result reading an unmaterialized lazy checkpoint throws and frees the scope") {
    val before = persisted()
    var lazyId = -1
    val e = intercept[IllegalStateException] {
      Checkpoints.scoped {
        val b = Checkpoints.local(small(7))
        val cp = Checkpoints.local(b.filter(col("id") > 2), eager = false)
        lazyId = idsIn(cp).head
        cp
      }
    }
    assert(e.getMessage.contains(s"[$lazyId]"), e.getMessage)
    // without the check, `b` stayed persisted after count() and release
    assert(persisted() -- before == Set.empty)
  }

  test("a checkpoint read only through a scalar subquery is kept") {
    val before = persisted()
    val out = Checkpoints.scoped {
      val cp = Checkpoints.local(small(9))
      small(3).withColumn("m", cp.agg(max("id")).scalar())
    }
    assert(out.collect().map(_.getLong(1)).toSet == Set(8L))
    assert((persisted() -- before).size == 1)
    Checkpoints.release(out)
    assert(persisted() -- before == Set.empty)
  }

  test("a checkpoint read only through a temp view is kept") {
    val before = persisted()
    val out = Checkpoints.scoped {
      Checkpoints.local(small(5)).createOrReplaceTempView("checkpoint_scope_view")
      spark.sql("SELECT id * 2 AS id2 FROM checkpoint_scope_view")
    }
    try {
      assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 4L, 6L, 8L))
      assert((persisted() -- before).size == 1)
      Checkpoints.release(out)
      assert(persisted() -- before == Set.empty)
    } finally spark.catalog.dropTempView("checkpoint_scope_view")
  }

  test("concurrent parallelEach tasks register with the caller's scope") {
    val before = persisted()
    val made = new java.util.concurrent.ConcurrentHashMap[Int, DataFrame]()
    val out = Checkpoints.scoped {
      SparkEntry.parallelEach(0 until 4) { i =>
        made.put(i, Checkpoints.local(small(i + 1)))
      }
      made.get(2)
    }
    assert(out.count() == 3)
    // the three frames the result does not read were freed on exit
    assert(persisted() -- before == idsIn(out))
    Checkpoints.release(out)
    assert(persisted() -- before == Set.empty)
  }

  test("an ArtifactCache value survives the caller's scope until clear()") {
    val cache = new ArtifactCache(new Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-scope").toString), ttlMs = 60000L)
    val before = persisted()
    val n = Checkpoints.scoped {
      cache.cached("scope/value")(small(4).filter(col("id") > 0)).count()
    }
    assert(n == 3)
    val kept = persisted() -- before
    assert(kept.size == 1, kept)
    assert(cache.cached("scope/value")(small(0)).count() == 3)
    cache.clear()
    assert(persisted() -- before == Set.empty)
  }

  /** Ids of the persisted RDDs that are local checkpoints: a local
    * checkpoint is `isCheckpointed` once materialized, a CacheManager
    * persist is not. */
  private def localCheckpoints(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if rdd.isCheckpointed => id
    }.toSet

  // the 16 query_mix queries and the graph family. q32_minhash_lsh
  // also keeps a CacheManager persist across calls (a carried item);
  // only local checkpoints are counted here
  private val longSession = Seq(
    "q01_pricing_summary", "q07_correlations", "q08_value_counts", "q09_outliers",
    "q32_minhash_lsh", "q49_knn_euclidean", "q162_hll_shards", "q144_weighted_sample",
    "q393_srm", "q463_defect_scan", "q112_embedding_spread", "q75_cosine_near_dup",
    "q10_snapshot", "q72_aggregate_rows", "q232_theta_overlap", "q23_time_rollup") ++
    SparkEntry.queries.keys.filter(k =>
      Set(53, 141, 145, 146, 165, 179, 180, 181, 205, 211, 239, 243, 270, 271, 275,
        292, 377, 410).contains(k.drop(1).takeWhile(_.isDigit).toInt)).toSeq.sorted

  test("a long session keeps no local checkpoint past its result") {
    assert(longSession.size == 34, longSession)
    val start = localCheckpoints()
    for (_ <- 1 to 2; name <- longSession) {
      val result = SparkEntry.queries(name)(spark, sf)
      result.collect()
      Checkpoints.release(result)
      val left = localCheckpoints() -- start
      assert(left.isEmpty, s"$name left local checkpoints $left")
    }
  }
}
