package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The imperative vector kernels must be BIT-IDENTICAL to the HOF
  * expression trees they replaced — fuzzed over the full edge surface:
  * float vs double element types, null arrays, null elements, NaN,
  * zero vectors, length mismatches, empty arrays. */
class VecKernelsSpec extends SparkSpec {
  import graft.functions.VecKernels

  private val rnd = new scala.util.Random(20260818L)

  // legacy HOF forms (what the kernels replaced)
  private def hofEuclid(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v))
  private def hofCosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v * v))
    dot / (na * nb)
  }
  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
  private def hofRuzicka(a: Column, b: Column): Column = {
    val smin = aggregate(zip_with(a, b, (x, y) => least(x, y)), lit(0.0), (acc, v) => acc + v)
    val smax = aggregate(zip_with(a, b, (x, y) => greatest(x, y)), lit(0.0), (acc, v) => acc + v)
    lit(1.0) - when(smax === 0, lit(1.0)).otherwise(smin / smax)
  }
  private def hofSqnormCast(v: Column): Column =
    aggregate(transform(v, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, e) => acc + e)
  private def hofUnitize(vec: Column): Column = {
    val norm = sqrt(aggregate(vec, lit(0.0), (a, x) => a + x * x))
    transform(vec, x => when(norm > 0.0, x / norm).otherwise(x))
  }

  private def dvec(n: Int): Seq[java.lang.Double] = Seq.tabulate(n) { i =>
    val r = rnd.nextInt(20)
    if (r == 0) null
    else if (r == 1) java.lang.Double.valueOf(Double.NaN)
    else if (r == 2) java.lang.Double.valueOf(0.0)
    else java.lang.Double.valueOf(rnd.nextGaussian() * 10)
  }

  private def bits(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToLongBits(d) // NaN-exact
    case s: scala.collection.Seq[_] => s.toList.map(bits) // rows yield mutable ArraySeq
    case other => other
  }

  private def compare(df: org.apache.spark.sql.DataFrame,
                      kernel: Column, hof: Column, tag: String): Unit = {
    val rows = df.select(kernel.as("k"), hof.as("h")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(bits(r.get(0)) == bits(r.get(1)),
        s"$tag row $i: kernel=${r.get(0)} hof=${r.get(1)}")
    }
  }

  test("euclid/dot/ruzicka kernels match the HOF forms on fuzzed double arrays") {
    import spark.implicits._
    val pairs = (1 to 300).map { i =>
      val n = rnd.nextInt(8)
      val m = if (rnd.nextInt(5) == 0) n + rnd.nextInt(3) else n // mismatches
      (dvec(n), dvec(m))
    } ++ Seq((null, Seq(java.lang.Double.valueOf(1.0))),
      (Seq.empty[java.lang.Double], Seq.empty[java.lang.Double]))
    val df = pairs.toDF("a", "b")
    compare(df, VecKernels.euclid(col("a"), col("b")),
      hofEuclid(col("a"), col("b")), "euclid-double")
    compare(df, VecKernels.dot(col("a"), col("b")),
      hofDot(col("a"), col("b")), "dot-double")
    compare(df, VecKernels.ruzicka(col("a"), col("b")),
      hofRuzicka(col("a"), col("b")), "ruzicka-double")
  }

  test("cosine matches HOF on non-degenerate doubles; both THROW on zero norms (ANSI)") {
    import spark.implicits._
    // a zero-norm side makes BOTH forms raise DIVIDE_BY_ZERO under the
    // session's ANSI default — the kernel keeps the division a Catalyst
    // Divide precisely so that semantic is untouched
    def safe(n: Int): Seq[java.lang.Double] = {
      val v = dvec(math.max(n, 1))
      if (v.exists(x => x != null && x.doubleValue() != 0.0 && !x.isNaN)) v
      else Seq(java.lang.Double.valueOf(1.5)) ++ v.drop(1)
    }
    val pairs = (1 to 300).map { _ =>
      val n = rnd.nextInt(7) + 1
      val m = if (rnd.nextInt(5) == 0) n + 1 + rnd.nextInt(2) else n
      (safe(n), safe(m))
    }
    val df = pairs.toDF("a", "b")
    compare(df, VecKernels.cosineSim(col("a"), col("b")),
      hofCosine(col("a"), col("b")), "cosine-double")
    val zero = Seq((Seq[java.lang.Double](0.0, 0.0), Seq[java.lang.Double](1.0, 2.0)))
      .toDF("a", "b")
    intercept[Exception] {
      zero.select(VecKernels.cosineSim(col("a"), col("b"))).collect() }
    intercept[Exception] {
      zero.select(hofCosine(col("a"), col("b"))).collect() }
  }

  test("euclid/cosine kernels match the HOF float coercion path") {
    import spark.implicits._
    def f(n: Int) = {
      val v = Seq.tabulate(n)(_ => rnd.nextInt(12) match {
        case 0 => null
        case 1 => java.lang.Float.valueOf(Float.NaN)
        case _ => java.lang.Float.valueOf((rnd.nextGaussian() * 3).toFloat)
      })
      if (v.exists(x => x != null && x.floatValue() != 0.0f && !x.isNaN)) v
      else Seq(java.lang.Float.valueOf(2.5f)) ++ v.drop(1)
    }
    val pairs = (1 to 300).map { _ =>
      val n = rnd.nextInt(7) + 1
      (f(n), f(n))
    }
    val df = pairs.toDF("a", "b")
    compare(df, VecKernels.euclid(col("a"), col("b")),
      hofEuclid(col("a"), col("b")), "euclid-float")
    compare(df, VecKernels.cosineSim(col("a"), col("b")),
      hofCosine(col("a"), col("b")), "cosine-float")
    compare(df, VecKernels.sqnormCast(col("a")),
      hofSqnormCast(col("a")), "sqnorm-float")
  }

  test("ruzicka kernel matches HOF on int count vectors incl. length mismatch") {
    import spark.implicits._
    val pairs = (1 to 300).map { _ =>
      val n = rnd.nextInt(8)
      val m = if (rnd.nextInt(4) == 0) n + rnd.nextInt(3) else n
      def v(k: Int) = Seq.tabulate(k)(_ =>
        if (rnd.nextInt(15) == 0) null
        else java.lang.Integer.valueOf(rnd.nextInt(5)))
      (v(n), v(m))
    }
    val df = pairs.toDF("a", "b")
    compare(df, VecKernels.ruzicka(col("a"), col("b")),
      hofRuzicka(col("a"), col("b")), "ruzicka-int")
  }

  test("unitize kernel matches HOF incl. zero/NaN/null-element vectors") {
    import spark.implicits._
    val vecs = (1 to 300).map(_ => dvec(rnd.nextInt(8))) ++
      Seq(Seq(java.lang.Double.valueOf(0.0), java.lang.Double.valueOf(0.0)), null)
    val df = vecs.toDF("v")
    compare(df, VecKernels.unitize(col("v")), hofUnitize(col("v")), "unitize")
  }

  test("sqnormCast matches the cast-then-multiply HOF on doubles") {
    import spark.implicits._
    val df = ((1 to 200).map(_ => dvec(rnd.nextInt(8))) :+ null).toDF("v")
    compare(df, VecKernels.sqnormCast(col("v")), hofSqnormCast(col("v")), "sqnorm-double")
  }

  // ── integer overflow (ANSI) and declared nullability ──

  private def withAnsi[T](on: Boolean)(f: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try f finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Large-magnitude pairs next to small ones, with null elements and
    * length mismatches: (a, b) as Long values and the element type. */
  private def bigPairs(long: Boolean): Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] = {
    val lim = if (long) Long.MaxValue else Int.MaxValue.toLong
    def v(n: Int): Seq[java.lang.Long] = Seq.tabulate(n)(_ => rnd.nextInt(10) match {
      case 0 => null
      case 1 | 2 => java.lang.Long.valueOf(rnd.nextInt(2000) - 1000L)
      case 3 => java.lang.Long.valueOf(if (rnd.nextBoolean()) lim else -lim - 1)
      case _ => java.lang.Long.valueOf(
        if (long) rnd.nextLong() else rnd.nextInt().toLong)
    })
    (1 to 300).map { _ =>
      val n = rnd.nextInt(5)
      (v(n), v(if (rnd.nextInt(5) == 0) n + 1 else n))
    }
  }

  /** Whether the HOF's integer arithmetic overflows on some index where
    * both elements are non-null (`sq`: (x−y)², else x·y). */
  private def overflows(a: Seq[java.lang.Long], b: Seq[java.lang.Long],
                        long: Boolean, sq: Boolean): Boolean = {
    val (lo, hi) = if (long) (BigInt(Long.MinValue), BigInt(Long.MaxValue))
                   else (BigInt(Int.MinValue), BigInt(Int.MaxValue))
    def out(x: BigInt) = x < lo || x > hi
    a.zip(b).exists { case (x, y) =>
      x != null && y != null && {
        val (bx, by) = (BigInt(x.longValue), BigInt(y.longValue))
        if (sq) out(bx - by) || out((bx - by) * (bx - by)) else out(bx * by)
      }
    }
  }

  private def frame(pairs: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])], long: Boolean) = {
    import spark.implicits._
    val df = pairs.toDF("a", "b")
    if (long) df
    else df.select(col("a").cast("array<int>").as("a"), col("b").cast("array<int>").as("b"))
  }

  private def arithmeticOverflow(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case t: org.apache.spark.SparkThrowable => t.getCondition == "ARITHMETIC_OVERFLOW"
      case _ => false
    }

  test("int/long euclid and dot wrap like the HOF forms outside ANSI") {
    withAnsi(on = false) {
      for (long <- Seq(false, true)) {
        val df = frame(bigPairs(long), long)
        val tag = if (long) "long" else "int"
        compare(df, VecKernels.euclid(col("a"), col("b")),
          hofEuclid(col("a"), col("b")), s"euclid-$tag-legacy")
        compare(df, VecKernels.dot(col("a"), col("b")),
          hofDot(col("a"), col("b")), s"dot-$tag-legacy")
      }
    }
  }

  test("int/long euclid and dot raise ARITHMETIC_OVERFLOW where the HOF forms do (ANSI)") {
    withAnsi(on = true) {
      for (long <- Seq(false, true); sq <- Seq(true, false)) {
        val tag = s"${if (long) "long" else "int"}-${if (sq) "euclid" else "dot"}"
        def kernel(a: Column, b: Column) = if (sq) VecKernels.euclid(a, b) else VecKernels.dot(a, b)
        def hof(a: Column, b: Column) = if (sq) hofEuclid(a, b) else hofDot(a, b)
        val (bad, ok) = bigPairs(long).partition { case (a, b) => overflows(a, b, long, sq) }
        assert(bad.nonEmpty && ok.nonEmpty, tag)
        compare(frame(ok, long), kernel(col("a"), col("b")), hof(col("a"), col("b")), tag)
        // an overflowing pair raises even when a null element or a length
        // mismatch elsewhere would make the sum null
        val poisoned = bad.filter { case (a, b) => a.size != b.size || (a ++ b).contains(null) }
        for ((a, b) <- bad.take(6) ++ poisoned.take(6)) {
          val one = frame(Seq((a, b)), long)
          for (c <- Seq(kernel(col("a"), col("b")), hof(col("a"), col("b")))) {
            val e = intercept[Exception](one.select(c).collect())
            assert(arithmeticOverflow(e), s"$tag $a $b: $e")
          }
        }
      }
    }
  }

  test("kernels declare nullable results on non-nullable array inputs") {
    val df = spark.range(3).select(
      array(col("id").cast("double"), lit(2.0)).as("d2"),
      array(col("id").cast("double")).as("d1"),
      array(col("id").cast("double"), lit(null).cast("double")).as("dn"),
      array(col("id").cast("int"), lit(7)).as("i2"),
      array(col("id").cast("int")).as("i1"))
    assert(df.schema.fields.forall(!_.nullable))
    val lit2 = array(lit(1.5), lit(-2.0))
    val litNull = array(lit(1.5), lit(null).cast("double"))
    val cases = Seq(
      ("euclid-mismatch", VecKernels.euclid(col("d2"), col("d1")), hofEuclid(col("d2"), col("d1"))),
      ("euclid-null-elem", VecKernels.euclid(col("dn"), col("d2")), hofEuclid(col("dn"), col("d2"))),
      ("dot-mismatch-int", VecKernels.dot(col("i2"), col("i1")), hofDot(col("i2"), col("i1"))),
      ("dot-literals", VecKernels.dot(lit2, lit2), hofDot(lit2, lit2)),
      ("euclid-literal-null", VecKernels.euclid(litNull, lit2), hofEuclid(litNull, lit2)),
      ("ruzicka-null-elem", VecKernels.ruzicka(col("dn"), col("dn")), hofRuzicka(col("dn"), col("dn"))),
      ("sqnorm-null-elem", VecKernels.sqnormCast(col("dn")), hofSqnormCast(col("dn"))),
      ("sqnorm-mul-literal-null", VecKernels.sqnormMul(litNull),
        aggregate(litNull, lit(0.0), (acc, v) => acc + v * v)))
    for ((tag, k, h) <- cases) {
      compare(df, k, h, tag)
      compare(df, isnull(k), isnull(h), s"$tag isnull")
    }
    assert(df.select(isnull(VecKernels.euclid(col("d2"), col("d1")))).collect().forall(_.getBoolean(0)))
  }
}
