package graft.operators

import graft.core.TopK
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic weighted sampling — the reproducible form of
  * weighted-random selection a corpus pipeline needs (pick k docs per
  * source proportional to length/quality, identically on every run and
  * every engine).
  *
  * Efraimidis–Spirakis A-ES: draw u ∈ (0,1) per row, rank by u^(1/w);
  * the top-k per group is a weighted sample without replacement. The
  * draw is a Knuth multiplicative hash of the id — pure integer
  * arithmetic, so any engine reproduces it bit-identically (no RNG
  * stream, no engine-specific murmur seed).
  *
  * Scale: one shuffle on the group key; the per-group top-k is a
  * rank-window inside each partition (groups are hash-spread; a single
  * giant group behaves like any windowed top-k — AQE/salting if truly
  * degenerate).
  */
object Sampling {

  /** Deterministic uniform draw in (0,1) from an integer id. */
  def hashDraw(id: Column): Column =
    ((id.cast("long") * lit(2654435761L)) % lit(4294967296L) + lit(0.5)) / lit(4294967296.0)

  /** Weighted sample of `k` rows per group: P(row) ∝ weightCol, without
    * replacement, deterministic. Adds `sample_key` (the A-ES rank key). */
  def weightedSamplePerGroup(df: DataFrame, groupCol: String, idCol: String,
                             weightCol: String, k: Int): DataFrame = {
    require(k >= 1)
    val key = pow(hashDraw(col(idCol)), lit(1.0) / col(weightCol).cast("double"))
    TopK(df.withColumn("sample_key", key), Seq(col(groupCol)),
      Seq(col("sample_key").desc, col(idCol).asc), k)
  }
}
