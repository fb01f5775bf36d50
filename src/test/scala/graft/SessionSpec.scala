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

  /** Whether some `sum(…)` in `src` has a DECIMAL(18,2) cast in its
    * argument (the argument read up to its closing parenthesis). */
  private def decimalCentsSum(src: String): Boolean = {
    val cast = """DecimalType\(18, ?2\)|"decimal\(18, ?2\)"""".r
    """\bsum\(""".r.findAllMatchIn(src).exists { m =>
      var depth = 1
      val end = Iterator.from(m.end).find { i =>
        if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
        depth == 0
      }.get
      cast.findFirstIn(src.substring(m.end, end)).isDefined
    }
  }

  /** The index of the parenthesis that closes the one open before `from`. */
  private def closing(src: String, from: Int): Int = {
    var depth = 1
    Iterator.from(from).find { i =>
      if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
      depth == 0
    }.get
  }

  /** Whether some `row_number().over(…)` in `src` is cut at a rank by a
    * `.filter(` later in the same statement: the filter's argument (read
    * to its closing parenthesis) has no `||`, and one of its `&&` terms
    * compares the rank column with `<=` or `=== 1`. The rank column is
    * the name in `withColumn(name, ` just before the window or in
    * `.as(name)` just after it. The statement ends at the first line
    * break outside its brackets whose next code line does not start
    * with `.`. */
  private def windowTopK(src: String): Boolean = {
    val named = """withColumn\(\s*("[^"]*"|\w+),\s*\z""".r
    val aliased = """\.as\(("[^"]*"|\w+)\)""".r
    val continued = java.util.regex.Pattern.compile("""(?:\s*//[^\n]*)*\s*\.""")
    def statementEnd(from: Int): Int = {
      var depth = 0
      Iterator.from(from).find { i =>
        i == src.length || {
          if (src(i) == '(') depth += 1
          else if (src(i) == ')') depth = math.max(0, depth - 1)
          src(i) == '\n' && depth == 0 &&
            !continued.matcher(src).region(i, src.length).lookingAt()
        }
      }.get
    }
    """row_number\(\)\.over\(""".r.findAllMatchIn(src).exists { m =>
      val over = closing(src, m.end) + 1
      val rank = named.findFirstMatchIn(src.substring(math.max(0, m.start - 200), m.start))
        .orElse(aliased.findPrefixMatchOf(src.substring(over))).map(_.group(1))
      rank.exists { r =>
        val cut = s"""\\s*col\\(\\Q$r\\E\\)\\s*(<=|===\\s*1\\b)""".r
        """\.filter\(""".r.findAllMatchIn(src.substring(over, statementEnd(over)))
          .exists { f =>
            val arg = src.substring(over + f.end, closing(src, over + f.end))
            !arg.contains("||") && arg.split("&&").exists(c => cut.findPrefixOf(c).isDefined)
          }
      }
    }
  }

  // source guard: (test name, the token as a test on a file's text, the
  // only src/main files that may contain it). The DuckDB twins in
  // graft/oracle/ write their sums in SQL (`SUM(CAST(… AS
  // DECIMAL(18,2)))`), which the cents-sum test does not match, and
  // their top-k in SQL (`ROW_NUMBER() OVER (…)`), which the window
  // top-k test does not match. `Bench`'s JIT warm-up keeps its own
  // window on purpose: it warms the plan shape it names.
  private val guarded: Seq[(String, String => Boolean, Set[String])] = Seq(
    ("only core.Session and tools.Debug build a SparkSession in src/main",
      _.contains("SparkSession.builder"),
      Set("graft/core/Session.scala", "graft/tools/Debug.scala")),
    ("only core.Checkpoints makes a local checkpoint in src/main",
      _.contains(".localCheckpoint("), Set("graft/core/Checkpoints.scala")),
    ("only core.Lattice sums a DECIMAL(18,2) cast in src/main",
      decimalCentsSum, Set("graft/core/Lattice.scala")),
    ("only core.TopK cuts a row_number window at k in src/main",
      windowTopK, Set("graft/core/TopK.scala", "graft/Bench.scala")))

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

  guarded.foreach { case (name, uses, allowed) =>
    test(name) {
      val users = mainSources.collect { case (f, src) if uses(src) => f }
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
