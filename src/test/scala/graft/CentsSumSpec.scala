package graft

import graft.core.Lattice
import graft.functions.{CentsSum, CentsSumOf}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, CheckOverflowInSum, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Lattice.centsSum(x)` must return exactly what
  * `sum(x.cast(DecimalType(18, 2)))` returns — the same DECIMAL(28,2)
  * value, nulls and errors — under ANSI on and off, in any
  * partial-merge order. */
class CentsSumSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val rnd = new scala.util.Random(20261020L)

  private def reference(x: Column): Column = sum(x.cast(DecimalType(18, 2)))

  private def withAnsi[T](on: Boolean)(f: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try f finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The rows of `f(x)` per group, or the error condition it raises. */
  private def outcome(df: DataFrame, f: Column => Column): Either[String, Seq[Row]] =
    try Right(df.groupBy("g").agg(f(col("x")).as("s"), f(col("x")).cast("double").as("d"))
      .orderBy("g").collect().toSeq)
    catch {
      case e: Throwable =>
        val cond = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }
        Left(cond.getOrElse(e.getClass.getName))
    }

  private def sameAsReference(df: DataFrame, tag: String): Either[String, Seq[Row]] = {
    val want = outcome(df, reference)
    val got = outcome(df, Lattice.centsSum)
    (want, got) match {
      case (Right(w), Right(g)) =>
        assert(w.size == g.size, tag)
        w.zip(g).foreach { case (a, b) =>
          // BigDecimal equality includes the scale; the double by its bits
          assert(a.getDecimal(1) == b.getDecimal(1), s"$tag group ${a.get(0)}: $a vs $b")
          assert(a.isNullAt(2) == b.isNullAt(2) && (a.isNullAt(2) ||
            java.lang.Double.doubleToLongBits(a.getDouble(2)) ==
              java.lang.Double.doubleToLongBits(b.getDouble(2))), s"$tag: $a vs $b")
        }
      case _ => assert(want == got, tag)
    }
    got
  }

  private def frame(xs: Seq[java.lang.Double], groups: Int): DataFrame = {
    import spark.implicits._
    xs.zipWithIndex.map { case (x, i) => (i % groups, x) }.toDF("g", "x")
  }

  private def d(x: Double): java.lang.Double = java.lang.Double.valueOf(x)

  private val ties = Seq(1.005, 0.125, -2.675, 2.675, 0.005, -0.005, 1.115, 8.345, 0.015)
  private val bound = Math.pow(2, 40)
  private val nearBound = Seq(bound - 0.01, bound - 0.125, bound, bound + 0.5,
    Math.nextDown(bound), Math.nextUp(bound), 1e12 + 0.01, 1e15 + 0.25, 9.99e15)
      .flatMap(v => Seq(v, -v))

  /** Values on and off the cents lattice, at every magnitude the
    * DECIMAL(18,2) range holds, with nulls and signed zeros. */
  private def inRange(n: Int): Seq[java.lang.Double] =
    (ties ++ nearBound ++ Seq(0.0, -0.0, 1e-9, -1e-9, 0.01, -0.01)).map(d) ++
      Seq.fill(n) {
        val mag = Math.pow(10, rnd.nextInt(15) - 2)
        rnd.nextInt(10) match {
          case 0 => null
          case 1 | 2 | 3 => d((rnd.nextGaussian() * mag * 100).round / 100.0) // on the lattice
          case 4 => d((rnd.nextGaussian() * mag * 1000).round / 1000.0) // half-cent ties
          case 5 => d(9e15 * (if (rnd.nextBoolean()) 1 else -1)) // carries past 2^64 cents
          case _ => d(rnd.nextGaussian() * mag) // off the lattice
        }
      }

  test("random doubles on and off the lattice, ties, -0.0 and both sides of 2^40 match") {
    val xs = inRange(4000)
    for (ansi <- Seq(true, false); groups <- Seq(1, 7, xs.size)) withAnsi(ansi) {
      assert(sameAsReference(frame(xs, groups), s"ansi=$ansi groups=$groups").isRight)
    }
  }

  test("values past DECIMAL(18,2), NaN and ±Inf: the same error or the same null") {
    val bad = Seq(1e16, -1e16, 1.5e17, 1e300, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity)
    for (ansi <- Seq(true, false); b <- bad) withAnsi(ansi) {
      val xs = Seq(d(1.25), d(b), null, d(-0.5))
      val got = sameAsReference(frame(xs, 2), s"ansi=$ansi x=$b")
      if (!ansi) assert(got.isRight, s"x=$b")
    }
  }

  test("nulls, an all-null group and an empty global aggregate are null") {
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      val xs = Seq(d(1.5), null, null, null, d(2.25), null)
      val rows = sameAsReference(frame(xs, 3), s"ansi=$ansi").toOption.get
      assert(rows.map(r => Option(r.getDecimal(1))) ==
        Seq(Some(new java.math.BigDecimal("1.50")), Some(new java.math.BigDecimal("2.25")), None))
      val empty = frame(xs, 3).filter(lit(false))
      val g = empty.agg(Lattice.centsSum(col("x")).as("s"), reference(col("x")).as("r")).collect()
      assert(g.toSeq == Seq(Row(null, null)))
    }
  }

  test("1 partition and 8 shuffled partitions give the same sums") {
    val xs = inRange(3000)
    val base = frame(xs, 5)
    val one = sameAsReference(base.coalesce(1), "1 partition")
    val eight = sameAsReference(base.repartition(8).orderBy(rand(7)).repartition(8), "8 partitions")
    assert(one == eight)
  }

  test("non-DOUBLE inputs keep Spark's sum of the cast") {
    import spark.implicits._
    val df = Seq((0, 3L, "1.005"), (0, -7L, "2.5"), (1, 11L, null)).toDF("g", "l", "s")
    for (c <- Seq("l", "s")) {
      val plan = df.groupBy("g").agg(Lattice.centsSum(col(c))).queryExecution.optimizedPlan
      assert(plan.expressions.exists(_.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.aggregate.Sum])), plan)
      assert(!plan.expressions.exists(_.exists(_.isInstanceOf[CentsSum])), plan)
      sameAsReference(df.withColumnRenamed(c, "x"), s"input $c")
    }
  }

  test("evaluate overflows at 10^28 cents as Spark's decimal sum does") {
    def bufferOf(v: BigInt): InternalRow =
      InternalRow((v >> 64).toLong, v.toLong, false)
    val limit = BigInt(10).pow(28)
    for (ansi <- Seq(true, false)) {
      val agg = CentsSum(Literal(0L), ansi)
      val eval = BindReferences.bindReference(agg.evaluateExpression, agg.aggBufferAttributes)
      val codegen = GenerateUnsafeProjection.generate(Seq(eval))
      val sparkSum = CheckOverflowInSum(Literal(null, CentsSum.ResultType),
        CentsSum.ResultType, !ansi, null)
      for (v <- Seq(limit, -limit, limit * 3)) {
        if (ansi) {
          val want = intercept[ArithmeticException](sparkSum.eval())
            .asInstanceOf[SparkThrowable].getCondition
          val got = intercept[ArithmeticException](eval.eval(bufferOf(v)))
          assert(got.asInstanceOf[SparkThrowable].getCondition == want)
          val gotGen = intercept[ArithmeticException](codegen(bufferOf(v)))
          assert(gotGen.asInstanceOf[SparkThrowable].getCondition == want)
        } else {
          assert(sparkSum.eval() == null)
          assert(eval.eval(bufferOf(v)) == null)
          assert(codegen(bufferOf(v)).isNullAt(0))
        }
      }
      for (v <- Seq(limit - 1, 1 - limit, BigInt(2).pow(64), -BigInt(2).pow(64) - 1)) {
        val want = org.apache.spark.sql.types.Decimal(BigDecimal(v, 2))
        assert(eval.eval(bufferOf(v)) == want, v)
        assert(codegen(bufferOf(v)).getDecimal(0, 28, 2) == want, v)
      }
    }
  }

  test("q01's cents sums run in a codegen HashAggregate") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val hash = collect(plan) { case h: HashAggregateExec => h }
    assert(hash.nonEmpty, plan)
    assert(hash.exists(_.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[CentsSum])), plan)
    assert(collect(plan) { case o: ObjectHashAggregateExec => o }.isEmpty, plan)
    assert(collect(plan) { case s: SortAggregateExec => s }.isEmpty, plan)
    val stages = collect(plan) { case w: WholeStageCodegenExec => w }
    hash.foreach(h => assert(stages.exists(_.child.find(_ eq h).isDefined), plan))
    assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[CentsSumOf]))))
  }
}
