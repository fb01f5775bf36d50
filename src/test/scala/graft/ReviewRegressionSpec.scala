package graft

import graft.dedup.Components
import graft.eda.{Eda, Quality}
import graft.multimodal.Multimodal
import graft.transforms.Transforms
import graft.views.Views
import org.apache.spark.sql.functions._

/** Regressions for the round-1 code-review findings — inputs the clean
  * synthetic test data never exercises (nulls, NaN, empty frames,
  * degenerate media).
  */
class ReviewRegressionSpec extends SparkSpec {
  import spark.implicits._

  test("resolveNames: simultaneous substitution, no cascade") {
    val out = Views.resolveNames("SELECT * FROM a JOIN b",
      Map("a" -> "prod.b", "b" -> "prod.c"))
    assert(out == "SELECT * FROM prod.b JOIN prod.c")
  }

  test("oneHot ignores null categories instead of crashing") {
    val df = Seq((1, Some("x")), (2, Some("y")), (3, None)).toDF("id", "cat")
    val enc = Transforms.oneHot(df, "cat")
    assert(enc.columns.toSet == Set("id", "cat_x", "cat_y"))
    val nullRow = enc.filter(col("id") === 3).head()
    assert(nullRow.getInt(1) == 0 && nullRow.getInt(2) == 0)
  }

  test("connectedComponents raises on non-convergence instead of silent wrong output") {
    val chain = (1L to 40L).sliding(2).map(p => (p.head, p.last)).toSeq
      .toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Components.connectedComponents(chain, maxIterations = 2).collect()
    }
    // and converges fine with enough iterations
    val comps = Components.connectedComponents(chain, maxIterations = 50)
    assert(comps.select(count_distinct(col("component"))).head().getLong(0) == 1L)
  }

  test("sampleFrames skips zero-duration media instead of crashing") {
    val media = Seq(
      (1L, "video", java.lang.Long.valueOf(0L)),
      (2L, "video", java.lang.Long.valueOf(2500L)))
      .toDF("media_id", "media_type", "duration_ms")
      .withColumn("payload", lit(Array[Byte](1)))
    assert(Multimodal.sampleFrames(media).count() == 3) // frames of #2 only
  }

  test("outliers/outliersSdev/targetHealth survive empty and all-null input") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Seq((1, 1.0)).toDF("id", "x").schema)
    assert(Eda.outliers(empty, Seq("x")).count() == 0)
    assert(Eda.outliersSdev(empty, Seq("x")).count() == 0)
    val allNull = Seq((1, None: Option[Double]), (2, None)).toDF("id", "x")
    assert(Eda.outliers(allNull, Seq("x")).count() == 0)
    val th = Quality.targetHealth(allNull, "x").head()
    assert(th.getAs[Long]("n_rows") == 2 && th.getAs[Long]("n_null") == 2)
  }

  test("ExactPercentiles treats NaN as greatest (parity with built-in percentile)") {
    val df = Seq(1.0, 2.0, Double.NaN).toDF("x")
    val custom = df.agg(graft.functions.ExactPercentiles
      .exactPercentiles(col("x"), Seq(0.5))).head().getSeq[Double](0).head
    val builtin = df.agg(expr("percentile(x, 0.5)")).head().getDouble(0)
    assert(custom == builtin || (custom.isNaN && builtin.isNaN))
    assert(custom == 2.0) // NaN sorts above 2.0; median of [1,2,NaN] is 2
  }

  test("ParameterStore survives with readable state at every swap generation") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ps").toString
    val ps = new graft.stores.ParameterStore(spark, tmp)
    (1 to 5).foreach(i => ps.upsert("k", s"v$i"))
    assert(ps.get("k").contains("v5"))
    ps.delete("k")
    assert(ps.get("k").isEmpty)
  }

  test("stratifiedSplit rejects high-cardinality stratum columns loudly") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i, s"stratum_$i")).toDF("id", "s")
    val e = intercept[IllegalArgumentException] {
      graft.transforms.Transforms.stratifiedSplit(df, "s", 0.8, "id", maxStrata = 100)
    }
    assert(e.getMessage.contains("distinct values"))
    // low-cardinality still works
    val ok = (1 to 100).map(i => (i, s"c${i % 3}")).toDF("id", "s")
    val (train, test) = graft.transforms.Transforms.stratifiedSplit(ok, "s", 0.8, "id")
    assert(train.count() + test.count() == 100)
  }

  test("re-onboarding an artifact invalidates its persisted stats cache") {
    val root = java.nio.file.Files.createTempDirectory("graft-cat-r2").toString
    val cat = new graft.api.Catalog(spark, root)
    val df1 = Seq((1, 10.0), (2, 20.0)).toDF("id", "v")
    cat.onboard("reonboard", df1).descriptiveStats()
    assert(cat.readStat("reonboard", "descriptive_stats").isDefined)
    val df2 = Seq((1, 100.0), (2, 200.0), (3, 300.0)).toDF("id", "v")
    cat.onboard("reonboard", df2)
    assert(cat.readStat("reonboard", "descriptive_stats").isEmpty,
      "stale stats must be dropped on re-onboard")
    val fresh = cat.dataSource("reonboard").descriptiveStats()
      .filter(col("column_name") === "v").head()
    assert(fresh.getAs[Double]("max") == 300.0)
  }

  test("catalog attach isolates a broken view instead of aborting the restart") {
    val root = java.nio.file.Files.createTempDirectory("graft-cat-r3").toString
    val cat = new graft.api.Catalog(spark, root)
    cat.onboard("good_one", Seq((1, "x")).toDF("id", "v"))
    cat.registry.upsertMeta("good_one",
      Map("graft_view_sql/broken" -> "SELECT * FROM `no_such_table_xyz`"))
    val s2 = spark.newSession()
    val failures = new graft.api.Catalog(s2, root).attach()
    assert(failures.exists(_._1 == "good_one___broken"))
    // the artifact's table and healthy views still attached
    assert(s2.table("good_one").count() == 1)
    assert(s2.table("good_one___display").count() == 1)
  }

  test("UQ v0 predict: null pred/std rows get null intervals, not zero-width") {
    val cal = (1 to 100).map(i => (i.toDouble, i.toDouble + 0.1, 0.5))
      .toDF("y", "pred", "std")
    val m = graft.ml.UQ.fit(cal, "y", "pred", "std")
    val probe = Seq[(java.lang.Double, java.lang.Double)](
      (5.0, null), (null, 0.5), (5.0, 0.5)).toDF("pred", "std")
    val out = m.predict(probe, "pred", "std").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("q_025")))
    assert(out(0).isNullAt(out(0).fieldIndex("confidence")))
    assert(out(1).isNullAt(out(1).fieldIndex("q_975")))
    assert(!out(2).isNullAt(out(2).fieldIndex("q_025")))
  }

  test("UQ fit survives NaN calibration rows (dropped like nulls)") {
    val cal = ((1 to 60).map(i => (i.toDouble, i + 0.1, 0.5)) ++
      Seq((Double.NaN, 1.0, 0.5), (1.0, Double.NaN, 0.5), (1.0, 1.0, Double.NaN)))
      .toDF("y", "pred", "std")
    val m = graft.ml.UQ.fit(cal, "y", "pred", "std") // must not crash
    assert(m.scaleFactors.nonEmpty)
  }

  test("valueCounts and columnStatsFull survive an empty table") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Seq((1, "x", 1.0)).toDF("id", "s", "v").schema)
    assert(Eda.valueCounts(empty, "s").count() == 0)
    val stats = Eda.columnStatsFull(empty)
    assert(stats.count() == 3) // one row per column, all-null stats
    assert(stats.filter(col("n_distinct") =!= 0).count() == 0)
  }

  test("UQ fitV1 survives NaN y/pred/std calibration rows (dropped like v0)") {
    val cal = ((1 to 60).map(i => (i.toDouble, i + 0.1, 0.5)) ++
      Seq((Double.NaN, 1.0, 0.5), (1.0, Double.NaN, 0.5), (1.0, 1.0, Double.NaN)))
      .toDF("y", "pred", "std")
      .withColumn("knn_distance", lit(0.3))
      .withColumn("knn_target_std", lit(0.2))
      .withColumn("local_pred_gap", lit(0.1))
    val m = graft.ml.UQ.fitV1(cal, "y", "pred", "std", numTrees = 5, maxDepth = 3)
    assert(m.scaleFactors.values.forall(v => !v.isNaN),
      s"NaN poisoned the conformal scale factors: ${m.scaleFactors}")
    assert(m.residualPercentiles.forall(v => !v.isNaN))
  }

  test("registry crash leftovers: orphan tmp ignored, old generations win by number") {
    val root = java.nio.file.Files.createTempDirectory("graft-reggen").toString
    val reg = new graft.stores.Registry(spark, root)
    reg.upsert("survivor", "data_source")
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(root + "/_registry")
    val fs = dir.getFileSystem(conf)
    // simulate a crash mid-write: a .tmp-* dir that never got renamed
    // into a generation must be invisible to readers and later writers
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, ".tmp-crashed"))
    assert(reg.get("survivor").isDefined)
    reg.upsert("newcomer", "data_source")
    assert(reg.listNames() == Seq("newcomer", "survivor"))
    // a crash AFTER install but before GC leaves extra generations:
    // readers must pick the max-numbered one and the next write GCs
    val gens = fs.listStatus(dir).filter(_.getPath.getName.startsWith("gen-"))
    assert(gens.length >= 2, "expected the previous generation kept for in-flight readers")
    reg.upsert("third", "data_source")
    assert(reg.listNames() == Seq("newcomer", "survivor", "third"))
    val after = fs.listStatus(dir).filter(_.getPath.getName.startsWith("gen-"))
    assert(after.length <= 2, "old generations must be GC'd to at most previous+current")
    // a .tmp-* dir older than the stale-lock age is a crashed writer's and
    // is GC'd; a fresh one may belong to a live writer and stays
    val old = new org.apache.hadoop.fs.Path(dir, ".tmp-old-crash")
    fs.mkdirs(old)
    fs.setTimes(old, System.currentTimeMillis() - 600000L, -1)
    reg.upsert("fourth", "data_source")
    assert(!fs.exists(old), "stale .tmp-* dir not collected")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, ".tmp-crashed")),
      "a fresh .tmp-* dir was collected under a possibly live writer")
  }

  test("registry and parameter writes whose install rename fails throw and leave state intact") {
    val local = java.nio.file.Files.createTempDirectory("graft-renamefail").toString
    spark.sparkContext.hadoopConfiguration
      .set("fs.refuserename.impl", classOf[RenameRefusingFs].getName)
    val root = "refuserename://" + local
    val reg = new graft.stores.Registry(spark, root)
    val ps = new graft.stores.ParameterStore(spark, root)
    reg.upsert("survivor", "data_source")
    ps.upsert("k", "1")
    RenameRefusingFs.refuse = true
    try {
      intercept[java.io.IOException](reg.upsert("lost", "data_source"))
      intercept[java.io.IOException](ps.upsert("k", "2"))
    } finally RenameRefusingFs.refuse = false
    assert(reg.listNames() == Seq("survivor"))
    assert(ps.get("k").contains("1"))
    for (d <- Seq("_registry", "_parameters")) {
      val names = new java.io.File(local, d).list().toSeq
      assert(!names.exists(_.startsWith(".tmp-")), s"$d kept the failed tmp dir: $names")
    }
    reg.upsert("after", "data_source")
    assert(reg.listNames() == Seq("after", "survivor"))
  }

  test("Tables.load sees a table rewritten in place behind a file: URI") {
    val local = java.nio.file.Files.createTempDirectory("graft-tables-uri").toString
    val dir = "file://" + local
    Seq((1, "a")).toDF("id", "s").write.parquet(s"$local/t.parquet")
    assert(graft.core.Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "s"))
    Thread.sleep(1100) // coarse filesystem timestamps
    Seq((1, "a", 2.0)).toDF("id", "s", "extra")
      .write.mode("overwrite").parquet(s"$local/t.parquet")
    assert(graft.core.Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "s", "extra"))
  }

  test("registry survives concurrent writers and readers (r13 ladder FileScanRDD race)") {
    // r13: both driver bench runs hit FILE_NOT_EXIST task failures on
    // _registry during q91/q94's parallel inferences — a reader raced
    // the write-rotate-rename swap. With generation dirs a resolved file
    // set stays on disk for two write cycles; this spec hammers the same
    // interleaving and requires zero exceptions and no lost updates.
    val root = java.nio.file.Files.createTempDirectory("graft-regrace").toString
    val reg = new graft.stores.Registry(spark, root)
    reg.upsert("base", "model")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val writers = (1 to 3).map { w =>
      pool.submit(new Runnable { def run(): Unit =
        try (1 to 12).foreach(i => reg.upsertMeta(s"art_$w", Map(s"k$i" -> s"v$i")))
        catch { case t: Throwable => errs.add(t) } })
    }
    val readers = (1 to 3).map { _ =>
      pool.submit(new Runnable { def run(): Unit =
        try (1 to 40).foreach { _ =>
          reg.get("base"); reg.listNames(); ()
        } catch { case t: Throwable => errs.add(t) } })
    }
    (writers ++ readers).foreach(_.get())
    pool.shutdown()
    assert(errs.isEmpty, s"concurrent registry access threw: ${errs.peek()}")
    assert(reg.getMeta("art_1").keySet == (1 to 12).map("k" + _).toSet,
      "a concurrent writer's update was lost")
    assert(reg.get("base").isDefined)
  }

  test("classificationMetricsFull drops NaN numeric predictions like pandas isnull") {
    val df = Seq((1.0, 1.0), (2.0, 2.0), (1.0, 2.0), (2.0, Double.NaN))
      .toDF("target", "pred")
    val out = graft.ml.Metrics
      .classificationMetricsFull(df, "target", "pred", Seq("1.0", "2.0"))
    val all = out.filter(col("class") === "all").head()
    assert(all.getLong(all.fieldIndex("support")) == 3L,
      "NaN prediction row leaked into support")
  }

  test("cosineNearDup dim>0 takes the LSH path and matches brute on exact dups") {
    val docs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)), (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)), (4L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (5L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("id", "emb")
    val brute = graft.dedup.Dedup.cosineNearDup(docs, "id", "emb", 0.999)
      .select("id").as[Long].collect().sorted
    val lsh = graft.dedup.Dedup.cosineNearDup(docs, "id", "emb", 0.999, dim = 4)
      .select("id").as[Long].collect().sorted
    // identical vectors always share every hyperplane bucket, so the LSH
    // route must find the same survivors as the brute baseline
    assert(lsh.sameElements(brute) && lsh.length == 3)
  }

  test("parsePayloads rejects unbounded distinct CSV headers (driver guard)") {
    // 150 payloads, each with a UNIQUE header — adversarial capture input
    val bad = (1 to 150).map(i => (s"col_$i\n1", "CSV",
      null.asInstanceOf[java.sql.Timestamp])).toDF("data", "encoding", "timestamp")
    val e = intercept[IllegalArgumentException] {
      graft.sources.DataCapture.parsePayloads(bad)
    }
    assert(e.getMessage.contains("distinct CSV headers"))
    // a sane capture dir (few schemas) still parses
    val ok = (1 to 150).map(i => (s"a,b\n$i,${i * 2}", "CSV",
      null.asInstanceOf[java.sql.Timestamp])).toDF("data", "encoding", "timestamp")
    assert(graft.sources.DataCapture.parsePayloads(ok).count() == 150)
  }

  test("registry survives concurrent writers without losing updates") {
    val root = java.nio.file.Files.createTempDirectory("graft-reglock").toString
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = (1 to 8).map { i =>
      Future {
        new graft.stores.Registry(spark, root).upsert(s"artifact_$i", "data_source")
      }
    }
    Await.result(Future.sequence(writes), 120.seconds)
    val reg = new graft.stores.Registry(spark, root)
    assert(reg.listNames() == (1 to 8).map(i => s"artifact_$i").sorted,
      s"lost updates: ${reg.listNames()}")
  }

  test("a stale registry lockfile is broken and the write proceeds") {
    val root = java.nio.file.Files.createTempDirectory("graft-stale").toString
    val lock = new org.apache.hadoop.fs.Path(root + "/_registry_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(lock.getParent)
    val out = fs.create(lock, false)
    out.write("dead-writer-token".getBytes("UTF-8")); out.close()
    fs.setTimes(lock, System.currentTimeMillis() - 600000L, -1) // 10 min old
    val reg = new graft.stores.Registry(spark, root)
    reg.upsert("after_stale", "data_source") // must break the lock, not time out
    assert(reg.listNames() == Seq("after_stale"))
  }

  test("rocAucByGroup: a NULL group value is a real segment, not dropped rows") {
    import graft.ml.Metrics
    val df = Seq(
      (Some("a"), 0.1, 0), (Some("a"), 0.9, 1), (Some("a"), 0.5, 1),
      (None, 0.2, 0), (None, 0.8, 1), (None, 0.6, 0))
      .map { case (g, s, l) => (g.orNull, s, l) }.toDF("g", "score", "label")
    val out = Metrics.rocAucByGroup(df, "g", "label", "score")
      .collect().map(r => Option(r.getString(0)) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out.contains(None), s"null group missing from $out")
    // the null segment's AUC equals a standalone rocAuc over its rows
    val single = Metrics.rocAuc(df.filter(col("g").isNull), "label", "score")
      .head().getDouble(0)
    assert(out(None) == single)
  }

  test("EnsembleSimulator with a single model: strategyComparison does not crash") {
    val f = Seq((1L, 1.0, 2.0), (2L, 2.0, 2.5), (3L, 3.0, 2.0))
      .toDF("id", "y", "prediction")
    val sim = graft.ml.EnsembleSimulator.fromFrames(
      Seq("only" -> f), "id", "y")
    val cmp = sim.strategyComparison().collect()
    sim.release()
    assert(cmp.nonEmpty && cmp.forall(!_.isNullAt(1)))
  }

  test("Curation.annotate rejects input with clashing working columns") {
    val docs = Seq((1L, "some text", true)).toDF("doc_id", "text", "kept")
    intercept[IllegalArgumentException](
      graft.text.Curation.annotate(docs, "doc_id", "text"))
  }

  test("MetaEndpointDAG rejects endpoint names that break the spec framing") {
    val dag = new graft.api.MetaEndpointDAG
    intercept[IllegalArgumentException](dag.addEndpoint("my;end", "n1"))
    intercept[IllegalArgumentException](dag.addEndpoint("a|b", "n2"))
  }

  test("smartSample with idCol dedups on the id, not every column") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i, i.toDouble, s"payload_$i")).toDF("id", "v", "w")
    val ss = graft.eda.Quality.smartSample(df, Seq("v"), targetRows = 30,
      idCol = Some("id"))
    assert(ss.count() == ss.dropDuplicates("id").count())
    // dedup groups on the id column ONLY — a wide dedup would carry the
    // payload column in the aggregate grouping keys
    val planText = ss.queryExecution.executedPlan.toString
    val aggKeys = "keys?=\\[[^\\]]*\\]".r.findAllIn(planText).toSeq
    assert(aggKeys.nonEmpty && aggKeys.forall(k => k.contains("id") && !k.contains("w#")),
      s"aggKeys=$aggKeys plan=$planText")
  }

  test("oneHot on a high-cardinality column: unchanged, distinct collect bounded") {
    // 50k distinct ids as strings — the pre-fix code collected all 50k to
    // the driver before the maxCategories gate bailed (VERDICT r3 item 4)
    val wide = spark.range(50000).selectExpr("CAST(id AS STRING) AS cat", "id AS v")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = Transforms.oneHot(wide, "cat", maxCategories = 10)
      assert(out.columns.toSeq == wide.columns.toSeq) // gate bailed, unchanged
      // the distinct query must carry the limit all the way to the collect
      val deadline = System.currentTimeMillis() + 10000
      var seen = Seq.empty[String]
      while (seen.isEmpty && System.currentTimeMillis() < deadline) {
        seen = plans.toArray(Array.empty[String]).toSeq
          .filter(p => p.contains("cat") && p.contains("HashAggregate"))
        if (seen.isEmpty) Thread.sleep(50)
      }
      assert(seen.nonEmpty, "distinct-collect query not observed")
      assert(seen.exists(p => p.contains("CollectLimit") || p.contains("GlobalLimit")
          || p.contains("TakeOrderedAndProject")),
        s"distinct collect is unbounded:\n${seen.mkString("\n---\n")}")
    } finally spark.listenerManager.unregister(listener)
  }
}

/** Local filesystem under the `refuserename` scheme whose rename into a
  * `gen-*` dir reports failure while `refuse` is set — the
  * `FileSystem.rename` returns-false contract, which the local
  * filesystem does not produce on demand. */
class RenameRefusingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("refuserename:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    if (RenameRefusingFs.refuse && dst.getName.startsWith("gen-")) false
    else super.rename(src, dst)
}
object RenameRefusingFs { @volatile var refuse = false }
