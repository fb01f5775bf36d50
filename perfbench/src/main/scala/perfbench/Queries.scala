package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.util.Random

/** The query workload over `SparkEntry.queries`. Each op is one
  * named query: construction is the `queries(name)(spark, dir)` call,
  * the action collects every row, and the check compares an
  * order-insensitive digest with the one recorded in `expected.tsv`. */
object Queries {
  /** Bench's headline queries that fit the run budget. q03, q108, q114,
    * q118, q121, q125, q204 and q239 take 2.5 to 12 s each at sf0.1 on four
    * cores, more than a run can hold (see NOTES.md). */
  val Headline = Seq("q01_pricing_summary", "q07_correlations", "q08_value_counts",
    "q09_outliers", "q32_minhash_lsh", "q49_knn_euclidean")

  /** A stratified sample: one query from each of ten owning packages, of
    * similar cost (0.15 to 0.5 s warm at sf0.1 on four cores). It is fixed:
    * drawing it per seed made op_p90_s swing by half between seeds, as the
    * queries' first-call costs differ (see NOTES.md). */
  val Sample = Seq("q162_hll_shards", "q144_weighted_sample", "q393_srm",
    "q463_defect_scan", "q112_embedding_spread", "q75_cosine_near_dup",
    "q10_snapshot", "q72_aggregate_rows", "q232_theta_overlap", "q23_time_rollup")

  /** Sampled queries that run a second time in the same pass, so warm and
    * cold calls both occur. */
  val Repeats = Seq("q162_hll_shards", "q10_snapshot")

  private def resource(name: String): Seq[Array[String]] = {
    val in = getClass.getResourceAsStream(s"/perfbench/$name")
    require(in != null, s"missing resource $name")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).toList finally src.close()
  }

  /** Owning package of each query, from `modules.tsv`. */
  lazy val modules: Map[String, String] =
    resource("modules.tsv").map(c => c(0) -> c(1)).toMap

  /** Expected (rows, schema hash, digest or "unstable") per query. */
  private def expected(path: String): Map[String, (Long, String, String)] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
        .map(c => c(0) -> (c(1).toLong, c(2), c(3))).toMap
      finally src.close()
    }
  }

  def schemaHash(schema: StructType): String =
    Digest.of(schema.simpleString, Array.empty[Row]).digest

  /** `rows<TAB>schema hash<TAB>digest` of a result, for `expected.tsv`. */
  def recordLine(schema: StructType, rows: Array[Row]): String = {
    val d = Digest.of(schema.simpleString, rows)
    s"${d.rows}\t${schemaHash(schema)}\t${d.digest}"
  }

  /** Every pass opens with q01, as Bench's name order does; the seed
    * orders the rest. */
  private val Opener = "q01_pricing_summary"

  /** The op names of one pass, in the seed's order. */
  def sequence(seed: Long, pass: Int, record: Boolean): Seq[String] =
    if (record) Headline ++ Sample
    else Opener +: new Random(seed * 1000003L + pass)
      .shuffle(Headline.filterNot(_ == Opener) ++ Sample ++ Repeats)

  def workload(spark: SparkSession, dir: String, seed: Long,
               expectedPath: String, record: Boolean): Workload = {
    val exp = expected(expectedPath)
    new Workload {
      def pass(p: Int): Seq[Op] = sequence(seed, p, record).map { q =>
        Op(q, modules.getOrElse(q, "entry"), "query",
          () => graft.SparkEntry.queries(q)(spark, dir),
          (schema, rows) => exp.get(q) match {
            case None => Some(s"no expected result recorded for $q")
            case Some((n, sh, d)) =>
              val got = Digest.of(schema.simpleString, rows)
              if (schemaHash(schema) != sh) Some(s"schema changed: ${schema.simpleString}")
              else if (got.rows != n) Some(s"rows ${got.rows}, expected $n")
              else if (d != "unstable" && got.digest != d) Some(s"digest ${got.digest}, expected $d")
              else None
          })
      }
    }
  }
}
