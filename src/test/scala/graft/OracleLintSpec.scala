package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static determinism lint over the DuckDB oracle SQL surface.
  *
  * Round-10 lesson: 9 of the 10 driver-red queries had oracle output
  * columns typed HUGEINT (an uncast integer `SUM(...)` — DuckDB widens
  * integer sums to int128). Different duckdb client versions convert
  * HUGEINT differently (int64 vs float64 vs decimal128), so the values
  * match but the driver's representation hash doesn't. The rule:
  * every integer SUM that reaches an output column must be
  * `CAST(... AS BIGINT)`.
  *
  * This spec enforces the DIRECT shape (`SUM(<integer expr>) AS alias`
  * in the final SELECT) statically with zero false positives on the
  * round-10 green set. The definitive, passthrough-proof gate is the
  * DESCRIBE lint in tools/check.py, which types every output column
  * with DuckDB itself — run it per round.
  */
class OracleLintSpec extends AnyFunSuite {

  /** Positions where `kw` occurs at paren-depth 0 in `s`. */
  private def topLevel(s: String, kw: String): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var depth = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0 && s.regionMatches(true, i, kw, 0, kw.length))
        out += i
      i += 1
    }
    out.result()
  }

  /** Output-column expressions of the LAST top-level SELECT. */
  private def finalSelectCols(sql: String): Seq[String] = {
    val s = sql.replaceAll("\\s+", " ").trim
    val sels = topLevel(s, "SELECT ")
    if (sels.isEmpty) return Seq.empty
    val start = sels.last + 7
    val rest = s.substring(start)
    val froms = topLevel(rest, " FROM ")
    val colsStr = if (froms.isEmpty) rest else rest.substring(0, froms.head)
    val cols = Seq.newBuilder[String]
    var depth = 0
    val cur = new StringBuilder
    colsStr.foreach {
      case ',' if depth == 0 => cols += cur.toString; cur.clear()
      case c =>
        if (c == '(') depth += 1
        if (c == ')') depth -= 1
        cur += c
    }
    cols += cur.toString
    cols.result().map(_.trim)
  }

  /** True when `c` is `SUM(<integer expr>) AS alias` with no CAST. */
  private def isUncastIntSum(c: String): Boolean = {
    if (!c.toUpperCase.startsWith("SUM(")) return false
    var depth = 0
    var close = -1
    var i = 3
    while (i < c.length && close < 0) {
      val ch = c.charAt(i)
      if (ch == '(') depth += 1
      else if (ch == ')') { depth -= 1; if (depth == 0) close = i }
      i += 1
    }
    if (close < 0) return false
    val rest = c.substring(close + 1).trim
    if (!rest.matches("(?i)AS\\s+(\\w+|\"[^\"]+\")")) return false
    val inner = c.substring(4, close)
    // double/decimal sums are a different (value-level) concern; this
    // lint targets the integer-sum HUGEINT type drift only
    !inner.toUpperCase.matches("(?s).*(DOUBLE|DECIMAL).*") &&
      !inner.matches("(?s).*[0-9]\\.[0-9].*")
  }

  test("no oracle final-select column is an uncast integer SUM") {
    val bad = graft.oracle.Oracle.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) =>
        finalSelectCols(sql).filter(isUncastIntSum)
          .map(c => s"$name: ${c.take(80)}")
    }
    assert(bad.isEmpty,
      s"\nuncast integer SUM output (HUGEINT drift — CAST AS BIGINT):\n" +
        bad.mkString("\n"))
  }

  // ---- unrolled-iteration CTE chains must be MATERIALIZED ----------
  //
  // Round-13 lesson: DuckDB INLINES non-recursive CTEs, so an unrolled
  // k-iteration chain (pr0 -> c1,d1 -> pr1 -> ..., each round
  // referencing the previous round's state MORE THAN ONCE) re-expands
  // the whole prefix exponentially — q293's oracle took 220 s on a
  // 129-row input; fisher/HITS/markov/pagerank/label-prop together were
  // 87% of the round's DuckDB compare. The fix is `AS MATERIALIZED` on
  // every iteration-state CTE. This lint finds numbered CTE chains
  // (stem0, stem1, ..., stemK with K >= 2 where stemN's body references
  // stem(N-1)) and requires the defining CTE to be MATERIALIZED.

  /** (stem, index, materialized, own balanced-paren body) for every
    * numbered CTE definition `name<digits> AS [MATERIALIZED] (`. */
  private def numberedCtes(sql: String): Seq[(String, Int, Boolean, String)] = {
    val re = ("(?i)\\b([a-z_]+?)(\\d+)\\s+AS\\s+(MATERIALIZED\\s+)?\\(").r
    re.findAllMatchIn(sql).map { m =>
      var depth = 1
      var i = m.end
      while (i < sql.length && depth > 0) {
        val c = sql.charAt(i)
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        i += 1
      }
      (m.group(1), m.group(2).toInt, m.group(3) != null,
        sql.substring(m.end, math.max(m.end, i - 1)))
    }.toSeq
  }

  private def unmaterializedChains(sql: String): Seq[String] = {
    val defs = numberedCtes(sql)
    defs.groupBy(_._1).toSeq.flatMap { case (stem, occ) =>
      val idx = occ.map(_._2).distinct.sorted
      val bodyOf = occ.map(d => d._2 -> d._4).toMap
      def refs(body: String, name: String): Boolean =
        s"(?i)\\b$name\\b".r.findFirstIn(body).isDefined
      // a chain = >= 3 consecutive indices where some later round's OWN
      // body references its predecessor (the unrolled-iteration shape);
      // independent same-stem frames (q94's m0/m1/m2 metric frames)
      // never back-reference and are excluded
      val chained = idx.size >= 3 &&
        idx.zip(idx.tail).forall { case (a, b) => b == a + 1 } &&
        idx.tail.exists(i =>
          bodyOf.get(i).exists(b => refs(b, s"$stem${i - 1}")))
      if (!chained) Nil
      else occ.collect {
        // the chain's first index is the seed (referenced once by the
        // first round) — exempt
        case (s, i, mat, _) if i > idx.head && !mat => s"$s$i"
      }
    }
  }

  test("unrolled-iteration oracle CTE chains are MATERIALIZED " +
    "(DuckDB inlining re-expands them exponentially)") {
    val bad = graft.oracle.Oracle.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) =>
        val chains = unmaterializedChains(sql)
        if (chains.isEmpty) Nil else Seq(s"$name: ${chains.mkString(", ")}")
    }
    assert(bad.isEmpty,
      "\nunrolled iteration chains without AS MATERIALIZED " +
        "(exponential CTE re-inlining in DuckDB):\n" + bad.mkString("\n"))
  }

  test("materialization lint detects the q293/q275 failure shape (self-check)") {
    val badShape =
      """WITH s0 AS (SELECT 1 AS x),
        s1 AS (SELECT x + 1 AS x FROM s0 JOIN s0 b ON true),
        s2 AS (SELECT x + 1 AS x FROM s1 JOIN s1 b ON true),
        s3 AS (SELECT x + 1 AS x FROM s2 JOIN s2 b ON true)
        SELECT x FROM s3"""
    assert(unmaterializedChains(badShape) == Seq("s1", "s2", "s3"))
    val goodShape = badShape
      .replace("s1 AS (", "s1 AS MATERIALIZED (")
      .replace("s2 AS (", "s2 AS MATERIALIZED (")
      .replace("s3 AS (", "s3 AS MATERIALIZED (")
    assert(unmaterializedChains(goodShape).isEmpty)
  }

  test("lint detects the round-10 failure shape (self-check)") {
    val redShape =
      """WITH g AS (SELECT 1 AS x)
        SELECT COUNT(*) AS n,
          SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS n_pos
        FROM g"""
    assert(finalSelectCols(redShape).count(isUncastIntSum) == 1)
    val fixedShape =
      """WITH g AS (SELECT 1 AS x)
        SELECT COUNT(*) AS n,
          CAST(SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        FROM g"""
    assert(finalSelectCols(fixedShape).count(isUncastIntSum) == 0)
  }

  test("only graft/oracle holds DuckDB twins, and it holds all 268") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val (oracle, engine) = files(root).filter(_.getName.endsWith(".scala"))
      .map { f =>
        root.toPath.relativize(f.toPath).toString ->
          new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      }
      .partition(_._1.startsWith("graft/oracle/"))
    val leaks = engine.collect {
      case (f, src) if """def\s+\w*[oO]racleSql\b""".r.findFirstIn(src).nonEmpty ||
          src.contains("duckPortable") => f
    }
    assert(leaks.isEmpty, leaks)
    val twins = oracle.map { case (_, src) =>
      """def\s+\w+OracleSql\b""".r.findAllMatchIn(src).size
    }.sum
    assert(twins == 268)
  }
}
