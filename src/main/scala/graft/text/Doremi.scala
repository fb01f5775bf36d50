package graft.text

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi: Optimizing
  * Data Mixtures Speeds Up Language Model Pretraining"): turn per-domain
  * excess losses (proxy-model loss minus reference-model loss — how much
  * headroom a domain still has) into a training mixture via multiplicative
  * weights with per-step normalization and uniform smoothing:
  *
  *   λ_t ∝ α_{t−1} · exp(η · excess)        (multiplicative update)
  *   α_t = (1−c) · λ_t / Σλ_t + c / k       (normalize + smooth)
  *
  * The full paper alternates these steps with proxy retraining; given a
  * fixed excess-loss vector this is the deterministic inner loop, which
  * is what an engine can own (the trainer owns the outer loop).
  *
  * Scale: the state is domain-cardinality (k rows — metadata-sized, like
  * [[Budget]]'s waterfill), so the iteration runs on driver-local doubles;
  * the only corpus-sized work is whatever aggregate produced the excess
  * losses. Deterministic: no RNG, fixed iteration order by domain name.
  */
object Doremi {

  /** @param excess (domain, excess_loss) — one row per domain.
    * @return (domain, weight) summing to 1, after `steps` rounds. */
  def weights(excess: DataFrame, domainCol: String, excessCol: String,
              eta: Double = 1.0, steps: Int = 5,
              smoothing: Double = 0.01): DataFrame = {
    require(steps >= 1 && smoothing >= 0 && smoothing < 1)
    val rows = excess.select(col(domainCol).cast("string"), col(excessCol).cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    val k = rows.length
    require(k > 0, "no domains")
    val mult = rows.map { case (_, e) => math.exp(eta * e) }
    var alpha = Array.fill(k)(1.0 / k)
    var t = 0
    while (t < steps) {
      val lam = Array.tabulate(k)(i => alpha(i) * mult(i))
      val z = lam.sum
      alpha = Array.tabulate(k)(i => (1 - smoothing) * lam(i) / z + smoothing / k)
      t += 1
    }
    val spark = excess.sparkSession
    val out = rows.zipWithIndex.map { case ((d, _), i) => Row(d, alpha(i)) }
    // a local relation: collecting it runs no Spark job
    spark.createDataFrame(java.util.Arrays.asList(out: _*),
      StructType(Seq(StructField(domainCol, StringType), StructField("weight", DoubleType))))
  }
}
