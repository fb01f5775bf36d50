package graft.proximity

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Johnson–Lindenstrauss distortion audit: project embeddings onto k
  * deterministic ±1 directions (a database-friendly JL transform —
  * Achlioptas 2003 showed Rademacher signs match Gaussian projections)
  * and report, per true-cosine decile, how far the projected cosine
  * drifts. The embedding-space sibling of the MinHash reliability
  * table (q513): read this once before trusting a compressed-vector
  * index at a given recall target — JL theory gives the ε bound, this
  * gives the realized distortion on YOUR vectors.
  *
  * Determinism discipline: the sign matrix is md5-derived
  * (sign(j,d) = +1 iff the first hex char of md5("j_d") < '8') — no
  * RNG, identical on both engines. Every dot product folds
  * LEFT-TO-RIGHT (Spark `aggregate` ≡ DuckDB `list_reduce`), so the
  * float sums are bit-identical and the decile cut never flips on a
  * last-ulp difference.
  *
  * Scale shape: the audit needs all-pairs true cosine, so it runs on a
  * fixed `idCap` sample by construction (pair count is idCap²/2,
  * independent of corpus scale) — production similarity stays with the
  * IVF/PQ/binary-quant paths; this is their calibration read. */
object JlAudit {

  private def foldSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, v) => acc + v)

  /** Distortion table per true-cosine decile. Returns (bucket — decile
    * of (cos+1)/2, n_pairs, mean_true 6dp, mean_proj 6dp,
    * mean_abs_err 6dp). */
  def jlDistortion(emb: DataFrame, idCol: String, vecCol: String,
                   k: Int = 16, idCap: Int = 500): DataFrame = Checkpoints.scoped {
    val x = transform(col(vecCol), v => v.cast("double"))
    // idCap rows; both sides of the pair join
    val base = Checkpoints.local(emb.filter(col(idCol) < idCap && col(vecCol).isNotNull)
      .select(col(idCol).as("__id"), x.as("__x"))
      .withColumn("__proj",
        transform(sequence(lit(0), lit(k - 1)), j =>
          foldSum(zip_with(col("__x"),
            sequence(lit(0L), size(col("__x")).cast("long") - 1),
            (v, d) => v * when(
              substring(md5(concat(j.cast("string"), lit("_"),
                d.cast("string"))), 1, 1) < "8",
              lit(1.0)).otherwise(lit(-1.0))))))
      .withColumn("__nx", sqrt(foldSum(
        transform(col("__x"), v => v * v))))
      .withColumn("__np", sqrt(foldSum(
        transform(col("__proj"), v => v * v)))))
    val pairs = base.as("a").join(base.as("b"),
      col("a.__id") < col("b.__id"))
    val cosT = foldSum(zip_with(col("a.__x"), col("b.__x"),
      (u, v) => u * v)) / (col("a.__nx") * col("b.__nx"))
    val cosP = foldSum(zip_with(col("a.__proj"), col("b.__proj"),
      (u, v) => u * v)) / (col("a.__np") * col("b.__np"))
    pairs.select(cosT.as("__ct"), cosP.as("__cp"))
      // greatest/least clamp: |cos| may exceed 1 by an ulp
      .select(greatest(least(floor((col("__ct") + 1.0) * 5)
          .cast("long"), lit(9L)), lit(0L)).as("bucket"),
        col("__ct"), col("__cp"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg("__ct"), 6).as("mean_true"),
        round(avg("__cp"), 6).as("mean_proj"),
        round(avg(abs(col("__ct") - col("__cp"))), 6)
          .as("mean_abs_err"))
      .orderBy("bucket")
  }
}
