package graft.ml

import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic subsample-bootstrap confidence intervals: B half-
  * sample replicates drawn by a PORTABLE md5 keep-predicate (the q56 /
  * q254 RNG convention — no engine RNG, so any engine reproduces the
  * exact replicate sets), replicate means decimal-exact, CI bounds
  * read off the ranked replicate means at the ⌈0.025·R⌉ / ⌈0.975·R⌉
  * positions (order statistics, no interpolation convention to
  * disagree on). The "m out of n" (m ≈ n/2) bootstrap — consistent
  * where the classic bootstrap is, and the subsampling makes each
  * replicate CHEAPER than the data, not a resampled copy of it.
  *
  * Scale shape: the unit frame fans out ×B through a broadcast
  * replicate spine, the md5 filter prunes half map-side, and one
  * (group, replicate) groupBy collapses everything — B·#groups rows of
  * state after the single shuffle. B is a constant (64): the fan-out
  * is a fixed small multiplier on the scan, not a data-squared blowup.
  */
object Bootstrap {

  /** Per-group mean with a (2.5%, 97.5%) subsample-bootstrap CI.
    * `idCol` must be unique per unit (it seeds the replicate draws);
    * values are summed as DECIMAL(18,2) so every replicate mean is
    * bit-identical on any engine. Returns
    * (group, n_units, mean, ci_lo, ci_hi, n_reps) floats 6dp. */
  def subsampleCi(df: DataFrame, groupCol: String, idCol: String,
                  valueCol: String, b: Int = 64): DataFrame = Checkpoints.scoped {
    require(b >= 4, s"need at least 4 replicates, got $b")
    val spark = df.sparkSession
    val units = Checkpoints.local(df.select(col(groupCol).as("__g"), col(idCol).as("__id"),
        col(valueCol).cast("decimal(18,2)").as("__y"))
      .filter(col("__y").isNotNull))
    val reps = spark.range(1, b + 1).toDF("__rep")
    val kept = units.crossJoin(broadcast(reps))
      .filter(substring(md5(concat(col("__id").cast("string"), lit(":"),
        col("__rep").cast("string"))), 1, 1) < "8")
    val perRep = kept.groupBy("__g", "__rep")
      .agg((sum("__y").cast("double") / count(lit(1))).as("__m"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__g")
    val ranked = perRep
      .withColumn("__r", row_number().over(
        w.orderBy(col("__m").asc, col("__rep").asc)))
      .withColumn("__nr", count(lit(1)).over(w))
    val ci = ranked.groupBy(col("__g"))
      .agg(
        max(when(col("__r") === ceil(lit(0.025) * col("__nr")),
          col("__m"))).as("__lo"),
        max(when(col("__r") === ceil(lit(0.975) * col("__nr")),
          col("__m"))).as("__hi"),
        first(col("__nr")).as("n_reps"))
    val full = units.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_units"),
        (sum("__y").cast("double") / count(lit(1))).as("__mean"))
    Checkpoints.local(full.join(ci, Seq("__g"), "left")
      .select(col("__g").as("group"), col("n_units"),
        round(col("__mean"), 6).as("mean"),
        round(col("__lo"), 6).as("ci_lo"),
        round(col("__hi"), 6).as("ci_hi"),
        coalesce(col("n_reps"), lit(0L)).as("n_reps")))
  }
}
