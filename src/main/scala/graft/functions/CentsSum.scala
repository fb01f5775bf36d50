package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** DOUBLE → exact cents: the unscaled long of `CAST(x AS DECIMAL(18,2))`,
  * without the cast on rows that sit on the cents lattice.
  *
  * Let `n = rint(x·100)`. When `|x| < 2⁴⁰` and `n / 100.0 == x`, the
  * value is `n`. Every other row (NaN, ±Inf, large or off-lattice
  * values) evaluates `dec`, Spark's own cast of `x`, so its nulls and
  * ANSI errors are Spark's. A null `x` is null without the cast (the
  * cast of a null is null and never raises).
  *
  * Why the fast path is exact: the cast rounds `Double.toString(x)`
  * HALF_UP to two places. `n / 100.0 == x` says `x` is the double
  * nearest `n/100`, so `n/100` and that string both lie within half an
  * ulp of `x` and within one ulp of each other. Below 2⁴⁰ an ulp is at
  * most 2⁻¹², far inside the 0.005 gap to a half-cent boundary, so the
  * rounding lands on `n/100`; and `|n| < 2⁴⁷` fits a long and the
  * DECIMAL(18,2) range.
  */
case class Cents(x: Expression, dec: Expression)
  extends BinaryExpression with ConditionalExpression {

  override def left: Expression = x
  override def right: Expression = dec
  override def dataType: DataType = LongType

  // the cast runs only on rows off the fast path, so subexpression
  // elimination must not hoist anything out of it
  override def alwaysEvaluatedInputs: Seq[Expression] = Seq(x)
  override def branchGroups: Seq[Seq[Expression]] = Nil
  override def withNewAlwaysEvaluatedInputs(e: Seq[Expression]): Cents = copy(x = e.head)

  override def eval(input: InternalRow): Any = {
    val v = x.eval(input)
    if (v == null) null
    else {
      val d = v.asInstanceOf[Double]
      val n = Math.rint(d * 100.0)
      if (Math.abs(d) < Cents.Bound && n / 100.0 == d) n.toLong
      else {
        val c = dec.eval(input)
        if (c == null) null else c.asInstanceOf[Decimal].toUnscaledLong
      }
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xe = x.genCode(ctx)
    val de = dec.genCode(ctx)
    val n = ctx.freshName("n")
    ev.copy(code = code"""
      ${xe.code}
      boolean ${ev.isNull} = ${xe.isNull};
      long ${ev.value} = 0L;
      if (!${ev.isNull}) {
        double $n = java.lang.Math.rint(${xe.value} * 100.0);
        if (java.lang.Math.abs(${xe.value}) < ${Cents.Bound}D && $n / 100.0 == ${xe.value}) {
          ${ev.value} = (long) $n;
        } else {
          ${de.code}
          ${ev.isNull} = ${de.isNull};
          if (!${ev.isNull}) ${ev.value} = ${de.value}.toUnscaledLong();
        }
      }""")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Cents =
    copy(x = l, dec = r)
}

object Cents {
  /** 2⁴⁰: below it an ulp is at most 2⁻¹². */
  val Bound: Double = 1099511627776.0
}

/** Σ cents as an exact 128-bit (hi, lo) sum, returned as the DECIMAL(28,2)
  * Spark's `sum` of a DECIMAL(18,2) column returns.
  *
  * Update and merge are Catalyst expressions over three fixed-width
  * buffer fields, so `HashAggregateExec` keeps whole-stage codegen and
  * the per-row work is a few long operations (Spark's own DECIMAL(28,2)
  * buffer is BigDecimal-backed). The carry rule is [[MomentBuffer]]'s:
  * wrapping long adds, and the low word carries when it wraps as an
  * unsigned add. The 128-bit sum cannot wrap: each addend is below 2⁶⁰
  * (|cents| < 10¹⁸), so fewer than 2⁶³ rows stay below 2¹²³.
  *
  * `evaluate` is null when no input was non-null, as Spark's is. A total
  * beyond DECIMAL(28,2) (|cents| ≥ 10²⁸) raises Spark's decimal-sum
  * overflow error under ANSI and is null otherwise. Spark nulls its
  * buffer as soon as a running sum leaves 28 digits; here only the
  * total counts, which differs only for inputs that overflow and come
  * back, after more than 10¹⁰ rows of maximal DECIMAL(18,2) values.
  */
case class CentsSum(cents: Expression, ansi: Boolean)
  extends DeclarativeAggregate with UnaryLike[Expression] {

  override def child: Expression = cents
  override def dataType: DataType = CentsSum.ResultType
  override def nullable: Boolean = true

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val empty = AttributeReference("empty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, empty)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  private def plus(a: Expression, b: Expression): Expression =
    Add(a, b, NumericEvalContext(EvalMode.LEGACY))

  /** (hi, lo) of a 128-bit add. */
  private def add128(ahi: Expression, alo: Expression,
                     bhi: Expression, blo: Expression): Seq[Expression] = {
    val sum = plus(alo, blo)
    val carry = ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(alo, blo), BitwiseAnd(BitwiseOr(alo, blo), BitwiseNot(sum))),
      Literal(63))
    Seq(plus(plus(ahi, bhi), carry), sum)
  }

  override lazy val updateExpressions: Seq[Expression] = {
    // a null row adds 0 and leaves `empty` as it was
    val c = if (cents.nullable) Coalesce(Seq(cents, Literal(0L))) else cents
    add128(hi, lo, ShiftRight(c, Literal(63)), c) :+
      (if (cents.nullable) And(empty, IsNull(cents)) else Literal(false))
  }

  override lazy val mergeExpressions: Seq[Expression] =
    add128(hi.left, lo.left, hi.right, lo.right) :+ And(empty.left, empty.right)

  override lazy val evaluateExpression: Expression =
    If(empty, Literal(null, dataType), CentsDecimal(hi, lo, ansi))

  override def prettyName: String = "cents_sum"

  override protected def withNewChildInternal(newChild: Expression): CentsSum =
    copy(cents = newChild)
}

object CentsSum {
  /** Spark's result type for `sum` of a DECIMAL(18,2). */
  val ResultType: DecimalType = DecimalType(28, 2)

  private val Limit = java.math.BigInteger.TEN.pow(ResultType.precision)

  /** The 128-bit cents value `hi·2⁶⁴ + lo` as a DECIMAL(28,2); null past
    * 28 digits, or Spark's decimal-sum overflow error under ANSI. */
  def toDecimal(hi: Long, lo: Long, ansi: Boolean): Decimal =
    if (hi == (lo >> 63)) Decimal(lo, ResultType.precision, ResultType.scale)
    else {
      val unscaled = new java.math.BigInteger(
        java.nio.ByteBuffer.allocate(16).putLong(hi).putLong(lo).array())
      if (unscaled.abs.compareTo(Limit) < 0)
        Decimal(new java.math.BigDecimal(unscaled, ResultType.scale),
          ResultType.precision, ResultType.scale)
      else if (ansi) throw org.apache.spark.sql.GraftExprBridge.decimalSumOverflow()
      else null
    }
}

/** `evaluate` of [[CentsSum]]: (hi, lo) → DECIMAL(28,2). */
case class CentsDecimal(hi: Expression, lo: Expression, ansi: Boolean)
  extends BinaryExpression {

  override def left: Expression = hi
  override def right: Expression = lo
  override def dataType: DataType = CentsSum.ResultType
  override def nullable: Boolean = true

  override protected def nullSafeEval(h: Any, l: Any): Any =
    CentsSum.toDecimal(h.asInstanceOf[Long], l.asInstanceOf[Long], ansi)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = CentsSum.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (h, l) =>
      s"""${ev.value} = $f.toDecimal($h, $l, $ansi);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CentsDecimal =
    copy(hi = l, lo = r)
}

/** `sum(x.cast(DECIMAL(18,2)))` before its input type is known: a DOUBLE
  * `x` becomes [[CentsSum]] over [[Cents]]; any other type stays Spark's
  * `Sum` of the same cast. `dec` is that cast, built by the Column API so
  * its eval mode is the one a hand-written cast would get. */
case class CentsSumOf(x: Expression, dec: Expression, evalMode: EvalMode.Value)
  extends AggregateFunction with RuntimeReplaceableAggregate with BinaryLike[Expression] {

  override def left: Expression = x
  override def right: Expression = dec

  override lazy val replacement: Expression = x.dataType match {
    case DoubleType => CentsSum(Cents(x, dec), evalMode == EvalMode.ANSI)
    case _ => Sum(dec, NumericEvalContext(evalMode))
  }

  override def prettyName: String = "cents_sum"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CentsSumOf =
    copy(x = l, dec = r)
}
