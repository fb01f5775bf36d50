package graft.eda

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical copula grid: the rank-space dependence heatmap. Both
  * columns map to mid-rank deciles and each (u, v) cell reports its
  * density ratio vs independence (1.0 everywhere under independence;
  * diagonal mass = positive dependence, corner mass = tail
  * dependence). The full-distribution picture that a single
  * correlation number (q07/q197/q198) or one tail coefficient (q398)
  * projects away.
  *
  * Determinism discipline: deciles live on the integer lattice —
  * mid-ranks are half-integers, so decile = ((2·rank − 1) · 10) div
  * (2·N) is exact integer arithmetic on both engines; the density
  * ratio is one division of exact counts.
  *
  * Scale shape: two passes of the bucketed rank kernel
  * ([[graft.ml.Metrics.rowAvgRanks]], payload-carrying — no
  * single-partition sort), one integer groupBy to ≤100 cells. */
object Copula {

  /** Decile copula grid of (xCol, yCol). Returns
    * (u_decile, v_decile, n, density_ratio 6dp). */
  def copulaGrid(df: DataFrame, xCol: String, yCol: String,
                 buckets: Int = 256): DataFrame = {
    val base = df.select(col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .filter(col("__x").isNotNull && !isnan(col("__x")) &&
        col("__y").isNotNull && !isnan(col("__y")))
    val ranked = graft.ml.Metrics.rowAvgRanks(
      graft.ml.Metrics.rowAvgRanks(base, "__x", "__ru", buckets),
      "__y", "__rv", buckets)
    // N as a broadcast 1-row aggregate — never a global (single
    // partition) window over the corpus frame
    val cells = ranked.crossJoin(
      broadcast(base.agg(count(lit(1)).as("__n_total"))))
    // (2r−1)·10 div 2N: exact half-lattice decile, ties stay together
    val dec = (r: String) => expr(
      s"(CAST(2 * $r AS BIGINT) - 1) * 10 div (2 * __n_total)")
    cells.select(dec("__ru").as("u_decile"), dec("__rv").as("v_decile"),
        col("__n_total"))
      .groupBy("u_decile", "v_decile")
      .agg(count(lit(1)).as("n"), max("__n_total").as("__nt"))
      .withColumn("density_ratio",
        round(col("n") * lit(100.0) / col("__nt"), 6))
      .drop("__nt")
      .orderBy("u_decile", "v_decile")
  }
}
