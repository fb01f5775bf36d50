package graft

import graft.api.{Catalog, InferenceCache}
import graft.eda.Quality
import graft.stores.DriverParquet
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The lifecycle API computes its metadata-sized results from one
  * aggregate pass per frame, finished on the driver: bounded job counts
  * per call, drift values equal to the stack/window pipeline they
  * replaced, a driver-written small table equal to a Spark write, and a
  * footer-resolved schema equal to Spark's inferred one. */
class LifecyclePassSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-pass-$tag").toString
  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val feats = Seq("l_quantity", "l_discount")
  private val rowSchema = StructType(Seq(StructField("rid", LongType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_discount", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false)))
  private def batch(keys: Seq[Long]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(keys.map { k =>
      val r = new scala.util.Random(k)
      Row(k, (1 + r.nextInt(50)).toDouble, r.nextInt(11) / 100.0,
        math.round(900 + r.nextDouble() * 1000).toDouble)
    }: _*), rowSchema)

  // ── the replaced pipelines, kept as the value reference ──

  private def refDetectDrift(current: DataFrame, baseline: DataFrame, cols: Seq[String],
                             threshold: Double = 0.1): DataFrame = {
    def statsOf(df: DataFrame, tag: String): DataFrame = {
      val aggs = cols.flatMap(c => Seq(
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        avg(col(c)).cast("double").as(s"${c}__mean")))
      val wide = df.agg(aggs.head, aggs.tail: _*)
      val stackExpr = cols.map(c =>
        s"'$c', `${c}__min`, `${c}__max`, `${c}__mean`").mkString(", ")
      wide.selectExpr(
        s"stack(${cols.size}, $stackExpr) as (column_name, ${tag}_min, ${tag}_max, ${tag}_mean)")
    }
    statsOf(current, "cur").join(statsOf(baseline, "base"), Seq("column_name"))
      .withColumn("range_base", col("base_max") - col("base_min"))
      .withColumn("mean_drift",
        round(abs(col("cur_mean") - col("base_mean")) /
          when(col("range_base") === 0, lit(1.0)).otherwise(col("range_base")), 6))
      .withColumn("drifted", col("mean_drift") > threshold)
      .select("column_name", "base_mean", "cur_mean", "mean_drift", "drifted")
  }

  private def refPsiDrift(current: DataFrame, baseline: DataFrame, cols: Seq[String],
                          bins: Int = 10): DataFrame = {
    val probs = (1 until bins).map(_.toDouble / bins)
    val edgeRow = baseline.select(cols.map(c =>
      graft.functions.ExactPercentiles
        .exactPercentiles(col(c).cast("double"), probs).as(c)): _*).head()
    val edges: Map[String, Seq[Double]] = cols.zipWithIndex.map { case (c, i) =>
      c -> (if (edgeRow.isNullAt(i)) Seq.empty[Double]
            else edgeRow.getSeq[java.lang.Double](i).filter(_ != null).map(_.doubleValue()))
    }.toMap
    def bucketCounts(df: DataFrame, frac: String): DataFrame = {
      val bucketed = df.select(cols.map { c =>
        when(col(c).isNull, lit(null)).otherwise(
          edges(c).foldLeft(lit(1)) { (acc, e) =>
            acc + when(col(c).cast("double") > e, 1).otherwise(0)
          }).as(s"__b_$c")
      }: _*)
      val stackExpr = cols.map(c => s"'$c', `__b_$c`").mkString(", ")
      bucketed
        .selectExpr(s"stack(${cols.size}, $stackExpr) as (column_name, bucket)")
        .filter(col("bucket").isNotNull)
        .groupBy("column_name", "bucket").agg(count(lit(1)).as("__n"))
        .withColumn(frac, col("__n") / sum("__n").over(Window.partitionBy("column_name")))
        .drop("__n")
    }
    bucketCounts(baseline, "p").join(bucketCounts(current, "q"), Seq("column_name", "bucket"), "full")
      .withColumn("p", greatest(coalesce(col("p"), lit(0.0)), lit(1e-4)))
      .withColumn("q", greatest(coalesce(col("q"), lit(0.0)), lit(1e-4)))
      .groupBy("column_name")
      .agg(round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6).as("psi"))
      .orderBy("column_name")
  }

  private def bits(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case r: Row => r.toSeq.map(bits)
    case other => other
  }
  private def sameTable(got: DataFrame, want: DataFrame, ordered: Boolean, tag: String): Unit = {
    assert(got.schema == want.schema, s"$tag schema")
    def rows(df: DataFrame) = {
      val rs = df.collect().toSeq.map(bits)
      if (ordered) rs else rs.sortBy(_.toString)
    }
    assert(rows(got) == rows(want), s"$tag rows")
  }

  /** Drift fixtures: (name, current, baseline, cols). */
  private def fixtures: Seq[(String, DataFrame, DataFrame, Seq[String])] = {
    val rnd = new scala.util.Random(20261019L)
    def d(x: Double): java.lang.Double = Double.box(x)
    val base = (1 to 400).map { i =>
      (d(rnd.nextGaussian() * 10), // continuous
        if (i % 7 == 0) null else d(rnd.nextInt(4).toDouble), // few distinct, nulls
        d(5.0), // constant: zero range
        if (i % 50 == 0) d(Double.NaN) else d(rnd.nextDouble()), // NaN
        null.asInstanceOf[java.lang.Double]) // all null
    }.toDF("cont", "few", "const", "nan", "nul")
    val shifted = (1 to 300).map { i =>
      (d(rnd.nextGaussian() * 10 + 25), // beyond the baseline's top edge: empty buckets
        if (i % 3 == 0) null else d(rnd.nextInt(2).toDouble),
        d(if (i % 2 == 0) 5.0 else 6.0),
        d(rnd.nextDouble() * 0.5),
        if (i % 4 == 0) d(1.0) else null)
    }.toDF("cont", "few", "const", "nan", "nul")
    val cols = Seq("cont", "few", "const", "nan", "nul")
    Seq(("shifted", shifted, base, cols), ("identical", base, base, cols),
      ("reversed", base, shifted, cols), ("single", shifted, base, Seq("few")))
  }

  test("drift passes equal the stack/window pipelines on edge-case fixtures") {
    for ((name, cur, base, cols) <- fixtures) {
      sameTable(Quality.detectDrift(cur, base, cols), refDetectDrift(cur, base, cols),
        ordered = false, s"$name detectDrift")
      sameTable(Quality.detectDrift(cur, base, cols, threshold = 0.05),
        refDetectDrift(cur, base, cols, threshold = 0.05), ordered = false, s"$name detectDrift 0.05")
      for (bins <- Seq(10, 4, 7)) {
        sameTable(Quality.psiDrift(cur, base, cols, bins), refPsiDrift(cur, base, cols, bins),
          ordered = true, s"$name psiDrift bins=$bins")
        val report = refPsiDrift(cur, base, cols, bins)
          .join(refDetectDrift(cur, base, cols), Seq("column_name")).orderBy("column_name")
        sameTable(Quality.driftReport(cur, base, cols, bins), report,
          ordered = true, s"$name driftReport bins=$bins")
      }
    }
  }

  test("monitor statistics and constraints come from one pass and match descriptiveStats") {
    val cat = new Catalog(spark, tmpRoot("baseline"))
    val m = cat.onboardFormulaModel("m", 10.0, Seq("l_quantity" -> 2.0, "l_discount" -> -5.0),
      target = "l_extendedprice")
    val mon = m.toEndpoint("m-end").monitor
    val base = batch(1L to 500L).select(feats.map(col): _*)
    val jobs = jobsDuring(mon.createBaseline(base, feats))
    assert(jobs <= 5, s"createBaseline ran $jobs jobs")
    sameTable(mon.getStatistics().get.orderBy("column_name"),
      eda.Eda.descriptiveStats(base, feats).orderBy("column_name"), ordered = true, "statistics")
    val cons = mon.getConstraints().get.orderBy("column_name").collect()
    val want = base.agg(min("l_discount"), max("l_discount"), min("l_quantity"), max("l_quantity"))
      .head()
    assert(cons.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq ==
      Seq(("l_discount", 1.0, want.getDouble(0), want.getDouble(1)),
        ("l_quantity", 1.0, want.getDouble(2), want.getDouble(3))))
  }

  test("job counts: drift report, baseline, captured and cached inference") {
    val cat = new Catalog(spark, tmpRoot("jobs"))
    val m = cat.onboardFormulaModel("price", 10.0, Seq("l_quantity" -> 2.0, "l_discount" -> -5.0),
      target = "l_extendedprice")
    val ep = m.toEndpoint("price-end")
    ep.monitor.enableDataCapture(100)
    val base = batch(1L to 2000L)
    // warm the session once so the counts below are the steady ones
    ep.monitor.createBaseline(base.select(feats.map(col): _*), feats)
    ep.inference(batch(3001L to 3100L), Some("warm"), Some("rid"))

    val baseJobs = jobsDuring(ep.monitor.createBaseline(
      base.select(feats.map(col): _*), feats, recreate = true))
    assert(baseJobs <= 5, s"createBaseline ran $baseJobs jobs")
    val infJobs = jobsDuring(ep.inference(batch(1L to 2000L), Some("run"), Some("rid")).collect())
    assert(infJobs <= 7, s"captured inference ran $infJobs jobs")
    val captured = ep.monitor.capturedData(StructType(feats.map(StructField(_, DoubleType))))
    val driftJobs = jobsDuring(assert(ep.monitor.driftReport(captured, feats).collect().length == 2))
    assert(driftJobs <= 6, s"driftReport ran $driftJobs jobs")

    val cache = new InferenceCache(m.toEndpoint("price-cached"), "rid")
    def cached(keys: Seq[Long]): Int = jobsDuring {
      val rows = cache.inference(batch(keys)).collect()
      assert(rows.length == keys.size && rows.forall(r => !r.isNullAt(r.fieldIndex("prediction"))))
    }
    val allMiss = cached(1L to 1000L)
    val partial = cached(501L to 1500L)
    val allHit = cached(1L to 1500L)
    assert(cache.cacheSize() == 1500L)
    assert(Seq(allMiss, partial, allHit).forall(_ <= 7),
      s"cached inference ran $allMiss/$partial/$allHit jobs (all-miss/partial/all-hit)")
    assert(allHit < partial, s"an all-hit batch ran $allHit jobs, a partial one $partial")
  }

  test("a driver-written small table equals a coalesce(1) Spark write") {
    val root = tmpRoot("writer")
    val schema = StructType(Seq(StructField("column_name", StringType),
      StructField("psi", DoubleType), StructField("n", LongType, nullable = false),
      StructField("flag", BooleanType), StructField("at", TimestampType),
      StructField("tags", ArrayType(StringType))))
    val rows = Seq(
      Row("a", 0.25, 3L, true, java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123"), Seq("x")),
      Row(null, null, 0L, null, null, null),
      Row("c", Double.NaN, -1L, false, java.sql.Timestamp.valueOf("1969-12-31 23:59:59"), Seq.empty))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    DriverParquet.writeTable(spark, root + "/driver", schema, df.collect().toSeq)
    df.coalesce(1).write.parquet(root + "/spark")
    val byDriver = spark.read.parquet(root + "/driver")
    val bySpark = spark.read.parquet(root + "/spark")
    assert(byDriver.schema == bySpark.schema)
    assert(byDriver.collect().toSeq.map(bits) == bySpark.collect().toSeq.map(bits))
    def footerMeta(dir: String) = {
      val part = fs.listStatus(new Path(dir))
        .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          part, spark.sparkContext.hadoopConfiguration))
      try reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
      finally reader.close()
    }
    assert(footerMeta(root + "/driver") == footerMeta(root + "/spark"))
    assert(fs.exists(new Path(root + "/driver/_SUCCESS")))
    // overwrite replaces the previous content
    DriverParquet.writeTable(spark, root + "/driver", schema, rows.take(1))
    assert(spark.read.parquet(root + "/driver").count() == 1)
    // a failed write leaves the table as it was and no hidden tmp dir
    intercept[Exception](DriverParquet.writeTable(spark, root + "/driver", schema,
      Seq(Row("a", 0.25, "not a long", true, null, null))))
    assert(spark.read.parquet(root + "/driver").count() == 1)
    assert(!fs.listStatus(new Path(root)).exists(_.getPath.getName.startsWith(".driver.tmp-")))
  }

  test("footer-resolved schemas equal Spark's inferred schema for catalog dirs") {
    val root = tmpRoot("schema")
    val cat = new Catalog(spark, root)
    def same(dir: String): Unit = {
      val inferred = spark.read.parquet(dir).schema
      assert(DriverParquet.schemaOf(spark, dir).contains(inferred), dir)
      assert(DriverParquet.read(spark, dir).schema == inferred, dir)
    }
    // an onboarded table, and the session-catalog table over it
    val ds = cat.onboard("slice", batch(1L to 300L).withColumn("at", current_timestamp()))
    same(cat.tablePath("slice"))
    assert(spark.table("slice").schema == spark.read.parquet(cat.tablePath("slice")).schema)
    assert(ds.toDF.count() == 300)
    // a DFStore append dir with several part files
    cat.dfStore.upsert("appended", batch(1L to 10L).repartition(3))
    cat.dfStore.append("appended", batch(11L to 20L).repartition(2))
    assert(fs.listStatus(new Path(cat.dfStore.path("appended")))
      .count(_.getPath.getName.endsWith(".parquet")) >= 4)
    same(cat.dfStore.path("appended"))
    assert(cat.dfStore.get("appended").count() == 20)
    // inference-run and baseline dirs
    val m = cat.onboardFormulaModel("price", 10.0, Seq("l_quantity" -> 2.0), target = "l_extendedprice")
    val ep = m.toEndpoint("price-end")
    ep.inference(batch(1L to 100L), Some("run"), Some("rid"))
    same(cat.inferencePath("price", "run") + "/predictions")
    same(cat.inferencePath("price", "run") + "/metrics")
    ep.monitor.createBaseline(batch(1L to 100L).select(feats.map(col): _*), feats)
    for (t <- Seq("baseline", "statistics", "constraints")) same(s"${ep.monitor.baselineDir}/$t")
    // a timestamp column, written with Spark's INT96 default and as micros
    val tsDf = Seq((1L, java.sql.Timestamp.valueOf("2026-10-19 01:02:03.456789")))
      .toDF("id", "ts")
    tsDf.write.parquet(root + "/ts_int96")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try tsDf.write.parquet(root + "/ts_micros")
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    same(root + "/ts_int96")
    same(root + "/ts_micros")
    // a file written outside Spark (no Spark schema in its footer)
    same(s"$sf/events.parquet")
    // no footer to read: Spark's own inference (and error) applies
    assert(DriverParquet.schemaOf(spark, root + "/missing").isEmpty)
    batch(1L to 4L).write.partitionBy("rid").parquet(root + "/parted")
    assert(DriverParquet.schemaOf(spark, root + "/parted").isEmpty)
    assert(DriverParquet.read(spark, root + "/parted").schema ==
      spark.read.parquet(root + "/parted").schema)
    // a session that merges schemas reads every footer: Spark infers
    batch(1L to 2L).withColumn("extra", lit(1)).write.mode("append")
      .parquet(cat.dfStore.path("appended"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(DriverParquet.schemaOf(spark, cat.dfStore.path("appended")).isEmpty)
      assert(cat.dfStore.get("appended").columns.contains("extra"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }
}
