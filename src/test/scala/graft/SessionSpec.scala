package graft

import graft.core.{Session, Tables}
import org.apache.spark.sql.types.TimestampNTZType

/** The one session factory and what every entry point reads through it. */
class SessionSpec extends SparkSpec {

  test("the suite's session carries the factory's confs") {
    val conf = spark.conf
    assert(spark.sparkContext.master == s"local[${Session.cores}]")
    assert(conf.get("spark.sql.shuffle.partitions") == Session.cores.toString)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") ==
      Session.CodegenCacheEntries.toString)
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("Tables.load reads every event and date column as a timestamp") {
    val tsCols = Set("ts", "l_shipdate", "o_orderdate")
    val seen = Tables.names.flatMap { n =>
      Tables.load(spark, sf, n).schema.fields.filter(f => tsCols(f.name))
        .map(f => s"$n.${f.name}" -> f.dataType)
    }.toMap
    assert(seen.keySet.map(_.split('.')(1)) == tsCols, seen)
    // parquet timestamp[us] without UTC adjustment: no raw-long column
    // left for a nanos conversion to rewrite
    assert(seen.values.forall(_ == TimestampNTZType), seen)
  }

  // source guard: (test name, token, the only src/main files that may
  // contain it)
  private val guarded = Seq(
    ("only core.Session and tools.Debug build a SparkSession in src/main",
      "SparkSession.builder", Set("graft/core/Session.scala", "graft/tools/Debug.scala")),
    ("only core.Checkpoints makes a local checkpoint in src/main",
      ".localCheckpoint(", Set("graft/core/Checkpoints.scala")))

  private lazy val mainSources: Map[String, String] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(root).filter(_.getName.endsWith(".scala")).map { f =>
      root.toPath.relativize(f.toPath).toString ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }.toMap
  }

  guarded.foreach { case (name, token, allowed) =>
    test(name) {
      val users = mainSources.collect { case (f, src) if src.contains(token) => f }
      assert(users.toSet == allowed, users)
    }
  }

  test("SparkEntry.queries is built once, with the same 522 names") {
    val q = SparkEntry.queries
    assert(q eq SparkEntry.queries)
    assert(q.size == 522)
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(q.keys.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(digest == "e66cec8fe243f499e75fda669cfa677bf06ed3ae6b7e716b212a9789b8212caa")
  }
}
