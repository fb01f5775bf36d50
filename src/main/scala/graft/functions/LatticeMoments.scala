package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** 128-bit signed accumulator pair for the exact cents-lattice moments:
  * Σx and Σx² over unscaled DECIMAL(18,2) values ("cents"), plus the
  * count and NaN-count the lattice mean/stddev need. Plain Java longs
  * with carry arithmetic — no BigDecimal anywhere on the per-row path.
  * An add that wraps past ±2¹²⁷ throws rather than leave a wrapped sum.
  */
final class MomentBuffer {
  var cnt = 0L; var nanc = 0L
  var s1hi = 0L; var s1lo = 0L
  var s2hi = 0L; var s2lo = 0L

  @inline private def carry(a: Long, b: Long, sum: Long): Long =
    ((a & b) | ((a | b) & ~sum)) >>> 63

  /** High word of a 128-bit add. The add wrapped exactly when both
    * operands have one sign and the result has the other. */
  @inline private def addHi(a: Long, b: Long, c: Long): Long = {
    val hi = a + b + c
    if (((a ^ hi) & (b ^ hi)) < 0) throw LatticeMoments.overflow()
    hi
  }

  def addS1(vhi: Long, vlo: Long): Unit = {
    val lo = s1lo + vlo
    s1hi = addHi(s1hi, vhi, carry(s1lo, vlo, lo))
    s1lo = lo
  }
  def addS2(vhi: Long, vlo: Long): Unit = {
    val lo = s2lo + vlo
    s2hi = addHi(s2hi, vhi, carry(s2lo, vlo, lo))
    s2lo = lo
  }
  def add(cents: Long): Unit = {
    cnt += 1
    addS1(cents >> 63, cents) // sign-extended 128-bit addend
    addS2(Math.multiplyHigh(cents, cents), cents * cents)
  }
  def merge(o: MomentBuffer): Unit = {
    cnt += o.cnt; nanc += o.nanc
    addS1(o.s1hi, o.s1lo); addS2(o.s2hi, o.s2lo)
  }
}

/** Exact decimal-lattice moments (count, NaN count, Σcents, Σcents²) in
  * ONE aggregate per column.
  *
  * Replaces the four-expression form `count(xc), sum(xc), sum(xc*xc),
  * sum(when(isnan)...)` over `xc = cast(col AS DECIMAL(18,2)) * 100
  * CAST DECIMAL(38,0)`: those pay a per-row BigDecimal multiply and two
  * Decimal aggregation-buffer adds per column — and because the exact
  * EDA aggregate already sits on the imperative (non-codegen) path next
  * to [[ExactPercentiles]], every one of those expression trees is
  * interpreted per row. Here the per-row work is one Decimal unscaled
  * read + three long additions + one `Math.multiplyHigh`.
  *
  * Parity: the input child IS the same `CAST(col AS DECIMAL(18,2))`
  * (null for NaN/null rows) the old expressions aggregated, and its
  * unscaled long is exactly the cents value; 128-bit accumulation of
  * exact integers returns bit-identical Σ/Σ² DECIMAL(38,0) results, so
  * the portable-double conversion downstream (and the DuckDB oracle)
  * are untouched. A sum needing more than 38 digits throws, mirroring
  * the ANSI Decimal-sum overflow the old tree would hit at the same
  * magnitude: Σcents² passes 10³⁸ after about 100 rows of
  * max-magnitude DECIMAL(18,2) values (|cents| < 10¹⁸), and wraps the
  * 128-bit accumulator after about 170, which [[MomentBuffer]] detects
  * and throws on. Σcents stays below 10³⁸ for any row count a Long
  * can hold.
  *
  * Children: `cents` DECIMAL(18,2) (the NaN-guarded cast), `nan`
  * BOOLEAN (`isnan(CAST(col AS DOUBLE))`). Output struct:
  * (cnt BIGINT, nanc BIGINT, s1 DECIMAL(38,0), s2 DECIMAL(38,0)) with
  * s1/s2 in CENTS and CENTS² units (the ×100 of the old lattice column
  * is the unscaled read itself).
  */
case class LatticeMoments(
    cents: Expression,
    nan: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MomentBuffer] {

  override def children: Seq[Expression] = Seq(cents, nan)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("cnt", LongType, nullable = false),
    StructField("nanc", LongType, nullable = false),
    StructField("s1", DecimalType(38, 0)),
    StructField("s2", DecimalType(38, 0))))

  override def createAggregationBuffer(): MomentBuffer = new MomentBuffer()

  override def update(buf: MomentBuffer, input: InternalRow): MomentBuffer = {
    val nv = nan.eval(input)
    if (nv != null && nv.asInstanceOf[Boolean]) buf.nanc += 1
    else {
      val cv = cents.eval(input)
      if (cv != null)
        buf.add(cv.asInstanceOf[Decimal].toUnscaledLong)
    }
    buf
  }

  override def merge(buf: MomentBuffer, other: MomentBuffer): MomentBuffer = {
    buf.merge(other); buf
  }

  private def dec128(hi: Long, lo: Long): Decimal = {
    val bytes = ByteBuffer.allocate(16).putLong(hi).putLong(lo).array()
    val bi = new java.math.BigInteger(bytes)
    val d = Decimal(new java.math.BigDecimal(bi))
    if (!d.changePrecision(38, 0)) throw LatticeMoments.overflow()
    d
  }

  override def eval(buf: MomentBuffer): Any =
    InternalRow(buf.cnt, buf.nanc,
      dec128(buf.s1hi, buf.s1lo), dec128(buf.s2hi, buf.s2lo))

  override def serialize(buf: MomentBuffer): Array[Byte] =
    ByteBuffer.allocate(48)
      .putLong(buf.cnt).putLong(buf.nanc)
      .putLong(buf.s1hi).putLong(buf.s1lo)
      .putLong(buf.s2hi).putLong(buf.s2lo).array()

  override def deserialize(bytes: Array[Byte]): MomentBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new MomentBuffer()
    b.cnt = bb.getLong; b.nanc = bb.getLong
    b.s1hi = bb.getLong; b.s1lo = bb.getLong
    b.s2hi = bb.getLong; b.s2lo = bb.getLong
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): LatticeMoments =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): LatticeMoments =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LatticeMoments =
    copy(cents = newChildren(0), nan = newChildren(1))
}

object LatticeMoments {
  import org.apache.spark.sql.GraftExprBridge

  private[functions] def overflow(): ArithmeticException =
    new ArithmeticException("lattice moment sum exceeds DECIMAL(38,0)")

  /** Column API: struct(cnt, nanc, s1, s2) of the cents lattice of
    * `cents` (a NaN-guarded DECIMAL(18,2) column; `nan` flags NaN input
    * rows). s1/s2 are in cents / cents² units. */
  def latticeMoments(cents: Column, nan: Column): Column =
    GraftExprBridge.toColumn(
      LatticeMoments(GraftExprBridge.toExpression(cents),
        GraftExprBridge.toExpression(nan)).toAggregateExpression())
}
