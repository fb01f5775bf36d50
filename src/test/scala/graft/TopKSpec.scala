package graft

import graft.core.TopK
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `core.TopK` keeps the rows, the columns and the plan shape of the
  * inline `row_number()` window form it replaced at every "rank, keep
  * ≤ k" site. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  /** Seeded rows: seven groups of 0 to 30 rows, an order column with many
    * ties, nulls and NaN, and a unique id as the last tie-break. */
  private lazy val rows: DataFrame = {
    val rnd = new scala.util.Random(20261020L)
    val sizes = Seq(30, 17, 9, 4, 2, 1, 0)
    sizes.zipWithIndex.flatMap { case (n, g) =>
      Seq.fill(n) {
        val x: Option[Double] = rnd.nextInt(10) match {
          case 0 => None
          case 1 => Some(Double.NaN)
          case v => Some((v % 4).toDouble)
        }
        (g, x)
      }
    }.zipWithIndex.map { case ((g, x), id) => (id.toLong, g, x) }
      .toDF("id", "g", "x")
  }

  /** The form each converted site wrote by hand: `=== 1` when it kept one
    * row, `<= k` otherwise. */
  private def inline(df: DataFrame, by: Seq[Column], order: Seq[Column], k: Int,
                     rank: Option[String]): DataFrame = {
    val r = rank.getOrElse("__rn")
    val ranked = df.withColumn(r, row_number().over(Window.partitionBy(by: _*).orderBy(order: _*)))
    val kept = if (k == 1) ranked.filter(col(r) === 1) else ranked.filter(col(r) <= k)
    if (rank.isDefined) kept else kept.drop(r)
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private val orders: Seq[(String, Seq[Column])] = Seq(
    "asc" -> Seq(col("x").asc, col("id").asc),
    "desc" -> Seq(col("x").desc, col("id").asc),
    "asc nulls last" -> Seq(col("x").asc_nulls_last, col("id").desc),
    "desc nulls first" -> Seq(col("x").desc_nulls_first, col("id").asc))

  for {
    (orderName, order) <- orders
    k <- Seq(1, 3, 100)
    rank <- Seq(None, Some("rank"))
  } test(s"TopK equals the inline window: order $orderName, k = $k, rank ${rank.getOrElse("dropped")}") {
    for ((frameName, df) <- Seq("rows" -> rows, "empty" -> rows.filter(lit(false)))) {
      val got = TopK(df, Seq(col("g")), order, k, rank)
      val want = inline(df, Seq(col("g")), order, k, rank)
      assert(got.schema == want.schema, frameName)
      assert(rowsOf(got) == rowsOf(want), frameName)
    }
  }

  test("TopK keeps ties in the order column apart by the tie-break, and NaN sorts above every number") {
    // a direct check of the cut, not against the window: group 0 by x
    // ascending (nulls first, NaN last), then id
    val g0 = rows.filter(col("g") === 0).collect()
      .map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Double])))
    val key: ((Long, Option[Double])) => (Int, Double, Long) = {
      case (id, None) => (0, 0.0, id)
      case (id, Some(x)) if x.isNaN => (2, 0.0, id)
      case (id, Some(x)) => (1, x, id)
    }
    val want = g0.sortBy(key).take(12).map(_._1).toSeq
    val got = TopK(rows.filter(col("g") === 0), Seq(col("g")),
        Seq(col("x").asc, col("id").asc), 12, Some("rank"))
      .orderBy("rank").collect().map(_.getLong(0)).toSeq
    assert(got == want)
    assert(g0.map(_._2).count(_.contains(0.0)) > 1, "the seeded group has ties")
  }

  test("TopK with no group columns ranks the whole frame") {
    val got = TopK(rows, Nil, Seq(col("id").desc), 4)
    assert(got.columns.toSeq == rows.columns.toSeq)
    assert(got.collect().map(_.getLong(0)).sorted.toSeq ==
      rows.collect().map(_.getLong(0)).sorted.takeRight(4).toSeq)
  }

  test("the optimized plan limits each group up to the threshold (1000) and not above") {
    assert(spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold") == "1000")
    // a parquet scan: no known row bound, so only k decides the limit
    val scan = graft.core.Tables.load(spark, sf, "orders")
    def limited(k: Int): Boolean =
      TopK(scan, Seq(col("o_orderpriority")),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), k)
        .queryExecution.optimizedPlan.collectFirst { case l: WindowGroupLimit => l }.isDefined
    assert(limited(5))
    assert(limited(1000))
    assert(!limited(1001))
    assert(!limited(5000))
  }
}
