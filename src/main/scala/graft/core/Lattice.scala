package graft.core

import graft.functions.CentsSumOf
import org.apache.spark.sql.{Column, GraftExprBridge}
import org.apache.spark.sql.catalyst.expressions.EvalMode
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DecimalType

/** The cents lattice: exact money sums, and cross-engine-stable
  * conversion of exact integer aggregates to double.
  *
  * Exact sums. Money columns are summed exactly, as DECIMAL(18,2)
  * values, so every engine and every partial-merge order returns the
  * same total; [[centsSum]] is that sum for the whole library. Spark's
  * own `sum` of a DECIMAL(18,2) keeps a DECIMAL(28,2) buffer, which is
  * BigDecimal-backed, so each row pays a `Double.toString`-based cast,
  * a BigDecimal read, an add and a write-back. For a DOUBLE input
  * [[centsSum]] maps each row to its exact cents (a long) and adds
  * those in a 128-bit buffer ([[graft.functions.CentsSum]]).
  *
  * The cents rule: let `n = rint(x·100)`. If `|x| < 2^40` and
  * `n / 100.0 == x`, the row's cents are `n`. Any other row (NaN, ±Inf,
  * null, off the lattice or past the bound) takes Spark's own
  * `CAST(x AS DECIMAL(18,2))`, so its nulls and ANSI errors are Spark's.
  * Why the fast path equals the cast: the cast rounds
  * `Double.toString(x)` HALF_UP to two places. `n / 100.0 == x` means
  * `x` is the double nearest `n/100`, so `n/100` and that string both
  * lie within half an ulp of `x`. Below 2^40 an ulp is at most 2^-12,
  * far less than the 0.005 gap to a half-cent boundary, so the rounding
  * gives `n/100` exactly.
  *
  * Portable doubles. Round-13 sf0.1 certification lesson: casting an
  * exact integer (or exact decimal) aggregate above 2^53 to double is
  * NOT portable — DuckDB's hugeint→double conversion and its
  * decimal→double path (int128→double, then ÷10^scale) can
  * double-round, while Spark's BigDecimal.doubleValue rounds once;
  * q366's Σy² diverged by exactly 1 ulp (= 0.25 at 2^51 magnitude)
  * between the engines.
  *
  * The portable form splits the integer at 2^50: both the quotient
  * (< 2^53 for any sum below 10^30) and the remainder (< 2^50) convert
  * to double EXACTLY, the 2^50 multiply is exact (power of two), and
  * the single add rounds once — the same IEEE operation sequence on
  * both engines. Domain: NONNEGATIVE sums (Spark `div` truncates
  * toward zero, DuckDB `//` floors — they only agree above zero).
  *
  * The fragments reference the aggregate by COLUMN NAME, so call
  * sites aggregate the raw decimal sum first and convert in a
  * follow-up select. This object holds the Spark SQL half; the DuckDB
  * half, with `//` in place of `div`, is [[graft.oracle.LatticeOracle]].
  */
object Lattice {
  /** Exactly what `sum(x.cast(DecimalType(18, 2)))` returns: the same
    * DECIMAL(28,2) value, null when no input is non-null, and the same
    * ANSI errors. A DOUBLE `x` takes the cents rule above and the
    * 128-bit sum; any other input type stays Spark's `sum` of the cast.
    * Call sites keep their own `.cast("double")`, `coalesce` and
    * `round`. */
  def centsSum(x: Column): Column =
    GraftExprBridge.toColumn(CentsSumOf(
      GraftExprBridge.toExpression(x),
      GraftExprBridge.toExpression(x.cast(DecimalType(18, 2))),
      EvalMode.fromSQLConf(SQLConf.get)).toAggregateExpression())

  /** 2^50 — the split point. */
  val Split = "1125899906842624"

  /** Spark SQL fragment: stable double of a named nonnegative exact
    * DECIMAL(38,0) column. */
  def sparkPortableDouble(col: String): String =
    s"(CAST(($col div $Split) AS DOUBLE) * $Split + CAST(($col % $Split) AS DOUBLE))"

  /** Sign-safe variant: negate into the nonnegative domain first
    * (exact), convert, negate back (exact) — `div`/`//` only agree on
    * nonnegative operands, so the plain form above must never see a
    * negative sum. */
  def sparkPortableDoubleSigned(col: String): String =
    s"(CASE WHEN $col >= 0 THEN ${sparkPortableDouble(col)} " +
      s"ELSE -${sparkPortableDouble(s"(-$col)")} END)"
}
