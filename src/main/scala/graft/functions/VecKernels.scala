package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, EvalMode, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MathUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Imperative vector kernels replacing the interpreted HOF pipelines
  * (`aggregate(zip_with(...))`) on the pairwise hot paths (guide §4:
  * the lambda machinery allocates and boxes per ELEMENT per pair; a
  * brute-force KNN evaluates the distance 160k+ times per call, and
  * profiling showed the single-task kernel job dominating every
  * embedding-diagnostics query).
  *
  * BIT-EXACTNESS CONTRACT: each kernel reproduces the HOF expression it
  * replaces as the identical IEEE operation sequence, including the
  * element-type coercion the HOF tree had:
  *  - float arrays: per-element ops stay FLOAT (subtract/multiply in
  *    float, as `zip_with`'s lambda typed them), only the running sum
  *    widens to double (the `acc + v` coercion);
  *  - double arrays: all ops in double;
  *  - int/long arrays: per-element ops in the integer type, the sum
  *    widens to double. Under ANSI the subtract/multiply are exact and
  *    overflow raises ARITHMETIC_OVERFLOW, as the HOF's integer
  *    arithmetic does; otherwise they wrap like it. The eval mode is
  *    captured at construction, as Spark's own arithmetic does.
  * Null semantics are the HOFs': a null ARRAY → null; a null element
  * inside an arithmetic lambda poisons the whole accumulation → null;
  * length mismatch (zip_with pads with null) → null — EXCEPT ruzicka's
  * least/greatest, which skip nulls, so the longer array's tail feeds
  * both sums unchanged (fuzz-verified against the HOF forms in
  * VecKernelsSpec).
  */
object VecKernels {
  import org.apache.spark.sql.GraftExprBridge.{toColumn, toExpression}

  def euclid(a: Column, b: Column): Column =
    toColumn(EuclidDistExpr(toExpression(a), toExpression(b)))
  def cosineSim(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    // the DIVISION stays a Catalyst Divide so its (ANSI) semantics are
    // exactly the replaced HOF tree's — only the three sums are kernels
    dot(a, b) / (sqrt(sqnormMul(a)) * sqrt(sqnormMul(b)))
  }
  def sqnormMul(v: Column): Column =
    toColumn(SqNormMulExpr(toExpression(v)))
  def dot(a: Column, b: Column): Column =
    toColumn(DotProdExpr(toExpression(a), toExpression(b)))
  def ruzicka(a: Column, b: Column): Column =
    toColumn(RuzickaDistExpr(toExpression(a), toExpression(b)))
  def sqnormCast(v: Column): Column =
    toColumn(SqNormCastExpr(toExpression(v)))
  def unitize(v: Column): Column =
    toColumn(UnitizeExpr(toExpression(v)))
}

private[functions] trait VecPairExpr extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  // null elements and length mismatches return null on non-null inputs
  override def nullable: Boolean = true
  protected def elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  /** Σ f(x_i, y_i) over int/long arrays, as the HOF evaluates it:
    * zip_with runs the lambda at EVERY index where both elements are
    * non-null, so an ANSI overflow raises even when a null element or a
    * length mismatch (null padding) then makes the sum null. */
  protected def integralSum(a: ArrayData, b: ArrayData,
                            int: (Int, Int) => Int, long: (Long, Long) => Long): Any = {
    val na = a.numElements(); val nb = b.numElements()
    var poisoned = na != nb
    var acc = 0.0
    var i = 0
    while (i < math.min(na, nb)) {
      if (a.isNullAt(i) || b.isNullAt(i)) poisoned = true
      else if (elemType == IntegerType) acc += int(a.getInt(i), b.getInt(i)).toDouble
      else acc += long(a.getLong(i), b.getLong(i)).toDouble
      i += 1
    }
    if (poisoned) null else acc
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
        if lt == rt && (lt == DoubleType || lt == FloatType ||
          lt == IntegerType || lt == LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two arrays of the same numeric element type, " +
            s"got ${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }
  }
}

/** sqrt(aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, _+_)) */
case class EuclidDistExpr(left: Expression, right: Expression,
                          evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
  extends VecPairExpr {
  override def prettyName: String = "graft_euclid"
  private val ansi = evalMode == EvalMode.ANSI
  private def sqInt(x: Int, y: Int): Int =
    if (ansi) { val d = MathUtils.subtractExact(x, y); MathUtils.multiplyExact(d, d) }
    else (x - y) * (x - y)
  private def sqLong(x: Long, y: Long): Long =
    if (ansi) { val d = MathUtils.subtractExact(x, y); MathUtils.multiplyExact(d, d) }
    else (x - y) * (x - y)
  override def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[ArrayData]; val b = bv.asInstanceOf[ArrayData]
    if (elemType == IntegerType || elemType == LongType)
      return integralSum(a, b, sqInt, sqLong) match {
        case acc: Double => math.sqrt(acc)
        case _ => null
      }
    val n = a.numElements()
    if (b.numElements() != n) return null // zip_with null-pad poisons the sum
    var acc = 0.0
    var i = 0
    elemType match {
      case FloatType =>
        while (i < n) {
          if (a.isNullAt(i) || b.isNullAt(i)) return null
          val d = a.getFloat(i) - b.getFloat(i) // float sub, float mul —
          acc += (d * d).toDouble               // exactly the HOF's types
          i += 1
        }
      case DoubleType =>
        while (i < n) {
          if (a.isNullAt(i) || b.isNullAt(i)) return null
          val d = a.getDouble(i) - b.getDouble(i)
          acc += d * d
          i += 1
        }
    }
    math.sqrt(acc)
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): EuclidDistExpr = copy(left = l, right = r)
}

/** aggregate(zip_with(a, b, (x,y) => x*y), 0.0, _+_) */
case class DotProdExpr(left: Expression, right: Expression,
                       evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
  extends VecPairExpr {
  override def prettyName: String = "graft_dot"
  private val ansi = evalMode == EvalMode.ANSI
  private def mulInt(x: Int, y: Int): Int = if (ansi) MathUtils.multiplyExact(x, y) else x * y
  private def mulLong(x: Long, y: Long): Long =
    if (ansi) MathUtils.multiplyExact(x, y) else x * y
  override def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[ArrayData]; val b = bv.asInstanceOf[ArrayData]
    if (elemType == IntegerType || elemType == LongType)
      return integralSum(a, b, mulInt, mulLong)
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    elemType match {
      case FloatType =>
        while (i < n) {
          if (a.isNullAt(i) || b.isNullAt(i)) return null
          acc += (a.getFloat(i) * b.getFloat(i)).toDouble
          i += 1
        }
      case DoubleType =>
        while (i < n) {
          if (a.isNullAt(i) || b.isNullAt(i)) return null
          acc += a.getDouble(i) * b.getDouble(i)
          i += 1
        }
    }
    acc
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DotProdExpr = copy(left = l, right = r)
}

/** 1 − Σ least(a,b) / Σ greatest(a,b), sums like the HOF's
  * `aggregate(zip_with(a, b, least/greatest), 0.0, _+_)`. least/greatest
  * SKIP nulls, so the zip_with null-padding on a length mismatch feeds
  * the longer array's tail into BOTH sums — replicated here; a
  * both-null pair (only possible past both lengths — impossible — or
  * from null elements on both sides at the same index) poisons. */
case class RuzickaDistExpr(left: Expression, right: Expression) extends VecPairExpr {
  override def prettyName: String = "graft_ruzicka"
  private def at(v: ArrayData, i: Int): Double = elemType match {
    case FloatType => v.getFloat(i).toDouble
    case DoubleType => v.getDouble(i)
    case IntegerType => v.getInt(i).toDouble
    case _ => v.getLong(i).toDouble
  }
  override def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[ArrayData]; val b = bv.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    val n = math.max(na, nb)
    var smin = 0.0; var smax = 0.0
    var i = 0
    while (i < n) {
      val an = i >= na || a.isNullAt(i)
      val bn = i >= nb || b.isNullAt(i)
      if (an && bn) return null // least(null,null) = null poisons the sum
      else if (an) { val y = at(b, i); smin += y; smax += y }
      else if (bn) { val x = at(a, i); smin += x; smax += x }
      else {
        val x = at(a, i); val y = at(b, i)
        // least/greatest on the ELEMENT type then the double widening of
        // `acc + v` — for int/long inputs min/max are exact either way,
        // for float the comparison result is identical pre/post widening.
        // Spark orders NaN as the LARGEST value (unlike Math.min):
        // least(NaN, y) = y, greatest(NaN, y) = NaN.
        if (x != x) { smin += y; smax += x }
        else if (y != y) { smin += x; smax += y }
        else { smin += math.min(x, y); smax += math.max(x, y) }
      }
      i += 1
    }
    if (smax == 0.0) 0.0 // 1 − when(smax===0, 1).otherwise(...) = 1 − 1
    else 1.0 - smin / smax
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): RuzickaDistExpr = copy(left = l, right = r)
}

/** aggregate(transform(v, x => x.cast(double) * x.cast(double)), 0.0, _+_)
  * — the cast-then-multiply sum of squares (NOT the float-multiply form
  * cosine uses; this matches the `anisotropy`/norm call sites that cast
  * each element to double BEFORE squaring). */
case class SqNormCastExpr(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "graft_sqnorm"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // a null element returns null
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | FloatType | IntegerType | LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a numeric array, got ${other.catalogString}")
    }
  override def nullSafeEval(vv: Any): Any = {
    val v = vv.asInstanceOf[ArrayData]
    val n = v.numElements()
    var acc = 0.0
    var i = 0
    val et = elemType
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = et match {
        case FloatType => v.getFloat(i).toDouble
        case DoubleType => v.getDouble(i)
        case IntegerType => v.getInt(i).toDouble
        case _ => v.getLong(i).toDouble
      }
      acc += x * x
      i += 1
    }
    acc
  }
  override protected def withNewChildInternal(c: Expression): SqNormCastExpr =
    copy(child = c)
}

/** aggregate(v, 0.0, (acc, x) => acc + x*x) — square in the ELEMENT
  * type (float multiply for float arrays), widen on accumulate: the
  * norm form inside the HOF cosine. */
case class SqNormMulExpr(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "graft_sqnorm_mul"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // a null element returns null
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float|double>, got ${other.catalogString}")
    }
  override def nullSafeEval(vv: Any): Any = {
    val v = vv.asInstanceOf[ArrayData]
    val n = v.numElements()
    var acc = 0.0
    var i = 0
    if (elemType == FloatType) {
      while (i < n) {
        if (v.isNullAt(i)) return null
        val x = v.getFloat(i)
        acc += (x * x).toDouble
        i += 1
      }
    } else {
      while (i < n) {
        if (v.isNullAt(i)) return null
        val x = v.getDouble(i)
        acc += x * x
        i += 1
      }
    }
    acc
  }
  override protected def withNewChildInternal(c: Expression): SqNormMulExpr =
    copy(child = c)
}

/** Pq.unitize as one pass: norm = sqrt(aggregate(v, 0.0, acc + x*x));
  * transform(v, x => when(norm > 0.0, x / norm).otherwise(x)).
  * A null element → null norm → the when-guard is false → the INPUT
  * array comes back unchanged; same for norm 0 — but a NaN norm takes
  * the DIVIDE branch (Spark comparisons order NaN above every value,
  * so when(NaN > 0) is true) yielding all-NaN elements. Double arrays
  * only (every caller normalizes an already-double projection).
  */
case class UnitizeExpr(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "graft_unitize"
  override def dataType: DataType = child.dataType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<double>, got ${other.catalogString}")
    }
  override def nullSafeEval(vv: Any): Any = {
    val v = vv.asInstanceOf[ArrayData]
    val n = v.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return v.copy() // null elem → null norm → guard false
      val x = v.getDouble(i)
      acc += x * x
      i += 1
    }
    val norm = math.sqrt(acc)
    // Spark comparison semantics order NaN ABOVE zero: when(norm > 0)
    // is TRUE for a NaN norm, so only norm == 0.0 keeps the input
    if (norm == 0.0) return v.copy()
    val out = new Array[Any](n)
    i = 0
    while (i < n) { out(i) = v.getDouble(i) / norm; i += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): UnitizeExpr =
    copy(child = c)
}
