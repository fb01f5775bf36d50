package graft.transforms

import graft.core.Lattice
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quantile normalization across groups (Bolstad et al. 2003): force
  * every group's value distribution onto the AVERAGE of the group
  * distributions, so a per-source score (quality, length, perplexity)
  * becomes comparable across corpora before thresholding — the missing
  * step between q30's raw quality signals and q105's domain mixing
  * when each source grades on its own curve.
  *
  * Binned form: row → within-group centile by the explicit
  * floor((rank−1)·B / n_g) formula (engine-agnostic, unlike NTILE's
  * front-loaded remainders), target value per centile = cross-group
  * mean of the per-group centile means. No pooled global sort — every
  * window is per-group (the natural partitioning), and the target
  * frame is B × #groups, metadata-sized. Values ride DECIMAL(18,2)
  * sums (`Lattice.centsSum`) so the per-centile means are
  * partition-order exact.
  */
object QuantileNorm {

  /** Returns one row per (grp, centile): (grp, centile, n,
    * raw_mean 6dp, qnorm_value 6dp) where qnorm_value is the shared
    * target the group's centile maps onto. Deterministic: rank ties
    * broken by `idCol`. */
  def quantileNormalize(df: DataFrame, groupCol: String, idCol: String,
                        valueCol: String, nBins: Int = 100): DataFrame = {
    require(nBins >= 2, "quantile normalization needs at least 2 bins")
    val v = col(valueCol).cast("double")
    val src = df.filter(v.isNotNull)
      .select(col(groupCol).as("grp"), col(idCol).as("id"), v.as("v"))
    val wRank = Window.partitionBy("grp").orderBy(col("v"), col("id"))
    val wN = Window.partitionBy("grp")
    val ranked = src
      .withColumn("__rn", row_number().over(wRank))
      .withColumn("__n", count(lit(1)).over(wN))
    val binned = ranked.withColumn("centile",
      (floor((col("__rn") - 1) * nBins / col("__n")) + 1).cast("int"))
    val perGroup = binned.groupBy("grp", "centile").agg(
      count(lit(1)).as("n"),
      (Lattice.centsSum(col("v")).cast("double") /
        count(lit(1))).as("__mean"))
    val target = perGroup.groupBy("centile")
      .agg(avg("__mean").as("__qn"))
    perGroup.join(target, Seq("centile"))
      .select(col("grp"), col("centile"), col("n"),
        round(col("__mean"), 6).as("raw_mean"),
        round(col("__qn"), 6).as("qnorm_value"))
  }
}
