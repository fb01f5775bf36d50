package graft.dedup

import graft.core.Checkpoints
import graft.text.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketch calibration: how well does the MinHash Jaccard ESTIMATE
  * (matching-minima share over `numHashes` salted hashes) track the
  * EXACT Jaccard on this corpus? Every LSH deployment should read this
  * curve once before trusting its thresholds — the estimator's ±1/√k
  * noise is textbook (Broder 1997), but the realized bias on a given
  * token distribution is not. Output is a reliability table per
  * estimate decile: if mean_exact strays from mean_est, the chosen
  * band/row LSH config is mistuned for this corpus.
  *
  * Determinism discipline: the i-th hash of a token is
  * md5(i || '|' || token) — salted md5 hex strings, minimum by
  * lexicographic order, identical on Spark and DuckDB (no engine hash,
  * no RNG). The decile is the integer-lattice cut (10·matches) div k;
  * exact Jaccard uses distinct word tokens, matching q28's definition.
  *
  * Scale shape: calibration is an AUDIT-SAMPLE read by construction —
  * it needs the exact Jaccard, which only exists on a bounded sample
  * (`idCap`); production pairing stays with the LSH path
  * ([[Dedup.minhashLsh]]). The sample pair frame is fixed-size
  * (idCap²/2), independent of corpus scale. */
object SketchCalibration {

  /** Reliability table of the MinHash estimator per estimate decile.
    * Returns (decile, n_pairs, mean_est 6dp, mean_exact 6dp,
    * mean_abs_err 6dp). */
  def minhashReliability(docs: DataFrame, idCol: String,
                         textCol: String, numHashes: Int = 16,
                         idCap: Int = 200): DataFrame = Checkpoints.scoped {
    // idCap rows; both sides of the pair join
    val base = Checkpoints.local(docs.filter(col(idCol) < idCap && col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        array_distinct(Text.tokens(col(textCol))).as("__ws"))
      .filter(size(col("__ws")) > 0)
      .withColumn("__mins",
        transform(sequence(lit(0), lit(numHashes - 1)), i =>
          array_min(transform(col("__ws"), s =>
            md5(concat(i.cast("string"), lit("|"), s)))))))
    val pairs = base.as("a").join(base.as("b"),
      col("a.__id") < col("b.__id"))
    val matches = size(filter(
      zip_with(col("a.__mins"), col("b.__mins"), (x, y) => x === y),
      m => m)).cast("long")
    val inter = size(array_intersect(col("a.__ws"), col("b.__ws")))
      .cast("long")
    val union = size(array_distinct(
      concat(col("a.__ws"), col("b.__ws")))).cast("long")
    pairs
      .select(matches.as("__m"), inter.as("__i"), union.as("__u"))
      .select(expr(s"(10 * __m) div $numHashes").as("decile"),
        (col("__m").cast("double") / numHashes).as("__est"),
        (col("__i").cast("double") / col("__u")).as("__ex"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg("__est"), 6).as("mean_est"),
        round(avg("__ex"), 6).as("mean_exact"),
        round(avg(abs(col("__est") - col("__ex"))), 6)
          .as("mean_abs_err"))
      .orderBy("decile")
  }
}
