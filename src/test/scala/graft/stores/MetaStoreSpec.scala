package graft.stores

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** The metadata-table primitive behind [[Registry]] and [[ParameterStore]]:
  * warm cycles run no Spark job, the driver-written part file reads back
  * exactly like a Spark-written one, and a flat pre-generation table is
  * read and then migrated onto generations. */
class MetaStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-meta-$tag").toString
  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private val sample = Seq(
    ArtifactRow("a", "model", "me", "ready", "src", ts("2026-01-02 03:04:05.123"),
      ts("2026-01-02 03:04:06"), Seq("t1", "t2"), Seq("needs_onboard"),
      Map("k" -> "v", "nullable" -> null)),
    ArtifactRow("b", "data_source", "unknown", "unknown", "unknown",
      ts("1969-12-31 23:59:59.999"), ts("2030-06-01 00:00:00"),
      Seq.empty, Seq.empty, Map.empty),
    ArtifactRow("c", null, null, "ready", null, null, null,
      Seq.empty, Seq("h"), Map("only_null" -> null)))

  private def genDirs(dir: String) =
    fs.listStatus(new Path(dir)).filter(_.getPath.getName.startsWith("gen-"))

  test("warm Registry and ParameterStore cycles run zero Spark jobs") {
    val root = tmpRoot("jobs")
    val reg = new Registry(spark, root)
    val ps = new ParameterStore(spark, root)
    def registryCycle(i: Int): Unit = {
      reg.upsertMeta("art", Map(s"k$i" -> s"v$i"))
      assert(reg.get("art").exists(_.meta.contains(s"k$i")))
      assert(reg.list().collect().length == 1)
    }
    def paramCycle(i: Int): Unit = {
      ps.upsert(s"p$i", s"""{"v":$i}""")
      assert(ps.get(s"p$i").contains(s"""{"v":$i}"""))
      ps.upsert("gone", "1")
      ps.delete("gone")
      assert(ps.listKeys() == (1 to i).map("p" + _))
    }
    registryCycle(1); paramCycle(1) // cold: first write of each table
    val jobs = jobsDuring { registryCycle(2); paramCycle(2) }
    assert(jobs == 0, s"warm metadata store cycles ran $jobs Spark jobs")
    // fresh instances over the same dirs resolve the same generations
    assert(new Registry(spark, root).getMeta("art").keySet == Set("k1", "k2"))
    assert(new ParameterStore(spark, root).get("p2").contains("""{"v":2}"""))
  }

  test("a driver-written generation reads back like a coalesce(1) Spark write") {
    val root = tmpRoot("fmt")
    val table = new MetaTable[ArtifactRow](spark, root + "/_driver")
    table.update(_ => sample)
    val driverDir = genDirs(root + "/_driver").head.getPath.toString
    val sparkDir = root + "/_spark"
    sample.toDS().coalesce(1).write.parquet(sparkDir)

    val byDriver = spark.read.parquet(driverDir)
    val bySpark = spark.read.parquet(sparkDir)
    assert(byDriver.schema == bySpark.schema)
    assert(byDriver.collect().toSeq == bySpark.collect().toSeq)
    assert(byDriver.as[ArtifactRow].collect().toSeq == sample)
    // the footer's Spark schema metadata is the one Spark itself writes
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
    assert(footerMeta(driverDir) == footerMeta(sparkDir))
    // the writer's cached rows are the rows on disk
    assert(table.rows() == sample)

    // an empty generation still carries its schema
    val empty = new MetaTable[ParamRow](spark, root + "/_empty")
    empty.update(_ => Seq.empty)
    val emptyRead = spark.read.parquet(genDirs(root + "/_empty").head.getPath.toString)
    assert(emptyRead.schema == Seq.empty[ParamRow].toDS().toDF().schema)
    assert(emptyRead.count() == 0)
  }

  test("a flat Spark-written table reads as generation zero and migrates on write") {
    val root = tmpRoot("flat")
    sample.toDS().coalesce(1).write.parquet(root + "/_registry")
    Seq(("threshold", "0.5"), ("name", "\"xgb\"")).toDF("key", "value")
      .coalesce(1).write.parquet(root + "/_parameters")

    val reg = new Registry(spark, root)
    assert(reg.listNames() == Seq("a", "b", "c"))
    assert(reg.getMeta("a") == Map("k" -> "v", "nullable" -> null))
    reg.addTag("b", "new")
    val ps = new ParameterStore(spark, root)
    assert(ps.get("threshold").contains("0.5"))
    ps.upsert("threshold", "0.7")

    for (d <- Seq("_registry", "_parameters")) {
      val st = fs.listStatus(new Path(root, d))
      assert(st.forall(s => s.isDirectory && s.getPath.getName.startsWith("gen-")),
        s"$d still holds flat files: ${st.map(_.getPath.getName).mkString(", ")}")
      assert(st.length == 1)
    }
    val fresh = new Registry(spark, root)
    assert(fresh.listNames() == Seq("a", "b", "c"))
    assert(fresh.getTags("b") == Seq("new"))
    assert(new ParameterStore(spark, root).listKeys() == Seq("name", "threshold"))
    assert(new ParameterStore(spark, root).get("threshold").contains("0.7"))
  }
}
