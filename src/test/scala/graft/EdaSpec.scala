package graft

import graft.core.Tables
import graft.eda.Eda
import org.apache.spark.sql.functions._

class EdaSpec extends SparkSpec {
  lazy val li = Tables.load(spark, sf, "lineitem")

  test("descriptiveStats: one row per column, sane ordering of quantiles") {
    val d = Eda.descriptiveStats(li, Seq("l_quantity", "l_discount")).collect()
    assert(d.length == 2)
    val byCol = d.map(r => r.getString(0) -> r).toMap
    val q = byCol("l_quantity")
    // min <= q1 <= median <= q3 <= max; mean within [min, max]
    val vals = (1 to 5).map(q.getDouble)
    assert(vals == vals.sorted)
    assert(q.getDouble(6) >= vals.head && q.getDouble(6) <= vals.last)
  }

  test("descriptiveStats approx path works") {
    val d = Eda.descriptiveStats(li, Seq("l_quantity"), exact = false).collect()
    assert(d.length == 1)
  }

  test("countDistinct / countNulls / countZeros single-row wide results") {
    assert(Eda.countDistinct(li, Seq("l_returnflag")).head().getLong(0) == 3)
    assert(Eda.countNulls(li, Seq("l_quantity")).head().getLong(0) == 0L)
    val zeros = Eda.countZeros(li, Seq("l_discount")).head().getLong(0)
    assert(zeros > 0) // discounts include 0.00
  }

  test("correlations: symmetric, bounded, self-pairs excluded") {
    val c = Eda.correlations(li, Seq("l_quantity", "l_extendedprice", "l_tax")).collect()
    assert(c.length == 6) // 3 unordered pairs, both orientations
    assert(c.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
    val m = c.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("l_quantity", "l_tax")) == m(("l_tax", "l_quantity")))
  }

  test("valueCounts: top+bottom k with deterministic tiebreak") {
    val vc = Eda.valueCounts(li, "l_returnflag", k = 2).collect()
    assert(vc.length == 4)
    assert(vc(0).getLong(1) >= vc(1).getLong(1)) // top block desc
  }

  test("outliers: bounds filter matches manual IQR computation") {
    val cust = Tables.load(spark, sf, "customer")
    val b = Eda.outlierBounds(cust, Seq("c_acctbal"))("c_acctbal")
    val manual = cust.filter(col("c_acctbal") < b._1 || col("c_acctbal") > b._2).count()
    assert(Eda.outliers(cust, Seq("c_acctbal")).count() == manual)
    val limited = Eda.outliers(cust, Seq("c_acctbal"), limit = Some(1)).count()
    assert(limited <= 1)
  }

  test("CorrMatrix aggregate is bit-identical to Spark's corr()") {
    val cust = Tables.load(spark, sf, "customer")
    val cols = Seq("c_acctbal", "c_custkey", "c_nationkey").sorted
    val viaMatrix = Eda.correlations(cust, cols)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    for { a <- cols; b <- cols if a < b } {
      val builtin = cust.agg(corr(col(a), col(b))).head().getDouble(0)
      assert(viaMatrix((a, b)) == builtin, s"($a,$b): ${viaMatrix((a, b))} != $builtin")
    }
  }

  test("LatticeMoments: a Σx² that wraps 128 bits raises instead of returning") {
    import org.apache.spark.sql.types.DecimalType
    val big = BigDecimal("9999999999999999.99")
    def rows(n: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.fill(n)(Tuple1(big)), 1))
      .select(col("_1").cast(DecimalType(18, 2)).as("x"))
    def moments(df: org.apache.spark.sql.DataFrame) = df.agg(
      graft.functions.LatticeMoments.latticeMoments(col("x"), lit(false)).as("m"))
      .select("m.s2").head().getDecimal(0)
    // below the wrap the sum is exact
    val cents = java.math.BigInteger.valueOf(999999999999999999L)
    assert(moments(rows(50)).toBigIntegerExact ==
      cents.pow(2).multiply(java.math.BigInteger.valueOf(50)))
    // ~250 rows wrap Σcents² past 2^127 to a value inside ±10^38: in one
    // partition's updates, and in the merge of four partials
    for (df <- Seq(rows(250), rows(250).repartition(4))) {
      val e = intercept[Exception](moments(df))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains("exceeds DECIMAL(38,0)")), e)
    }
  }

  test("columnStatsFull: nested value_counts and correlations maps") {
    val cust = Tables.load(spark, sf, "customer")
      .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    val full = Eda.columnStatsFull(cust).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    assert(full.size == 4)
    // string column: value_counts map populated, no numeric stats
    val seg = full("c_mktsegment")
    val vc = seg.getAs[Map[String, Long]]("value_counts")
    assert(vc.nonEmpty && vc.values.sum <= 150 && vc.keySet.contains("BUILDING"))
    assert(seg.isNullAt(seg.fieldIndex("mean")))
    assert(seg.isNullAt(seg.fieldIndex("num_zeros")))
    // numeric column: stats populated, correlations map has the others
    val bal = full("c_acctbal")
    assert(!bal.isNullAt(bal.fieldIndex("mean")))
    val corr = bal.getAs[Map[String, Double]]("correlations")
    assert(corr.keySet == Set("c_custkey", "c_nationkey"))
    assert(corr.values.forall(v => v >= -1.0 && v <= 1.0))
    // string column never correlates
    assert(seg.isNullAt(seg.fieldIndex("correlations")))
  }
}
