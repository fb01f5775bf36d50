package graft.core

/** Cross-engine-stable conversion of EXACT integer aggregates to
  * double.
  *
  * Round-13 sf0.1 certification lesson: casting an exact integer (or
  * exact decimal) aggregate above 2^53 to double is NOT portable —
  * DuckDB's hugeint→double conversion and its decimal→double path
  * (int128→double, then ÷10^scale) can double-round, while Spark's
  * BigDecimal.doubleValue rounds once; q366's Σy² diverged by exactly
  * 1 ulp (= 0.25 at 2^51 magnitude) between the engines.
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
