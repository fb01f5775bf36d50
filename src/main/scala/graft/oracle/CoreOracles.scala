package graft.oracle

/** The DuckDB half of [[graft.core.Lattice]]'s portable-double fragments. */
object LatticeOracle {
  import graft.core.Lattice.Split

  /** DuckDB fragment: stable double of a named nonnegative HUGEINT (or
    * integer-valued) column. */
  def duckPortableDouble(col: String): String =
    s"(CAST(($col // $Split) AS DOUBLE) * $Split + CAST(($col % $Split) AS DOUBLE))"

  /** Sign-safe variant, as [[graft.core.Lattice.sparkPortableDoubleSigned]]. */
  def duckPortableDoubleSigned(col: String): String =
    s"(CASE WHEN $col >= 0 THEN ${duckPortableDouble(col)} " +
      s"ELSE -${duckPortableDouble(s"(-$col)")} END)"
}
