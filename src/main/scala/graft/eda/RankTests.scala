package graft.eda

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rank-based two-sample tests beyond Mann–Whitney (q194): the
  * Brunner–Munzel test (Brunner & Munzel 2000 — the recommended
  * replacement for Mann–Whitney when variances/shapes differ; tests
  * P(X<Y)+½P(X=Y) = ½ without the exchangeability assumption) and the
  * Cucconi test (Cucconi 1968; Marozzi 2009 — a JOINT location-scale
  * rank test that beats running Wilcoxon and Ansari–Bradley
  * separately). Both consume tie-averaged mid-ranks from the bucketed
  * rank kernel ([[graft.ml.Metrics.rowAvgRanks]]) — no
  * single-partition sort at any cardinality; within-group ranks come
  * from the same kernel partitioned by group.
  *
  * p-values use the large-sample approximations (standard normal for
  * Brunner–Munzel via the shared A&S 26.2.17 polynomial — the exact
  * small-sample reference uses a t distribution, documented drift;
  * exp(−C) for Cucconi, its textbook asymptotic). Mid-ranks handle
  * ties on both engines identically (half-integer lattice). */
object RankTests {

  /** Φ upper tail for x ≥ 0 via A&S 26.2.17 (shared oracle twin). */
  private def phiUpper(x: Column): Column = {
    val k = lit(1.0) / (lit(1.0) + lit(0.2316419) * x)
    val poly = k * (lit(0.319381530) + k * (lit(-0.356563782) +
      k * (lit(1.781477937) + k * (lit(-1.821255978) +
        k * lit(1.330274429)))))
    lit(0.3989422804014327) * exp(lit(-0.5) * x * x) * poly
  }

  private def ranked(df: DataFrame, groupCol: String, valueCol: String,
                     a: String, b: String, buckets: Int): DataFrame = {
    val base = df
      .filter(col(groupCol).isin(a, b) && col(valueCol).isNotNull &&
        !isnan(col(valueCol).cast("double")))
      .select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
    graft.ml.Metrics.rowAvgRanks(
      graft.ml.Metrics.rowAvgRanks(base, "__v", "__rc", buckets),
      "__v", "__rw", buckets, partitionCols = Seq("__g"))
  }

  /** Brunner–Munzel test of H₀: P(X<Y)+½P(X=Y) = ½ for X from group
    * `a`, Y from group `b`. Returns one row: (n_x, n_y, p_hat 6dp —
    * the common-language effect size, w_stat 6dp, df_sat 4dp —
    * Satterthwaite degrees of freedom, p_value 6dp — normal approx).
    * Si² = var_samp(combined − within rank) per group (the paper's
    * deviation form collapses to exactly this). */
  def brunnerMunzel(df: DataFrame, groupCol: String, valueCol: String,
                    a: String, b: String,
                    buckets: Int = 256): DataFrame = {
    val g = ranked(df, groupCol, valueCol, a, b, buckets)
      .groupBy("__g")
      .agg(count(lit(1)).as("__n"), avg("__rc").as("__mc"),
        var_samp(col("__rc") - col("__rw")).as("__s"))
    val nx = max(when(col("__g") === a, col("__n"))).cast("double")
    val ny = max(when(col("__g") === b, col("__n"))).cast("double")
    val mcx = max(when(col("__g") === a, col("__mc")))
    val mcy = max(when(col("__g") === b, col("__mc")))
    val sx = max(when(col("__g") === a, col("__s")))
    val sy = max(when(col("__g") === b, col("__s")))
    g.agg(nx.cast("long").as("n_x"), ny.cast("long").as("n_y"),
        mcx.as("__mcx"), mcy.as("__mcy"), sx.as("__sx"), sy.as("__sy"))
      .select(col("n_x"), col("n_y"),
        round((col("__mcy") - (col("n_y") + 1) / 2.0) / col("n_x"), 6)
          .as("p_hat"),
        round(try_divide(
          col("n_x") * col("n_y") * (col("__mcy") - col("__mcx")),
          (col("n_x") + col("n_y")) *
            sqrt(col("n_x") * col("__sx") + col("n_y") * col("__sy"))),
          6).as("w_stat"),
        round(try_divide(
          pow(col("n_x") * col("__sx") + col("n_y") * col("__sy"), 2),
          pow(col("n_x") * col("__sx"), 2) / (col("n_x") - 1) +
            pow(col("n_y") * col("__sy"), 2) / (col("n_y") - 1)), 4)
          .as("df_sat"),
        round(lit(2.0) * phiUpper(abs(try_divide(
          col("n_x") * col("n_y") * (col("__mcy") - col("__mcx")),
          (col("n_x") + col("n_y")) *
            sqrt(col("n_x") * col("__sx") + col("n_y") * col("__sy"))))),
          6).as("p_value"))
  }

  /** Cucconi joint location-scale test: U from Σ(rank of b)², V from
    * Σ(contrary rank)², combined with their known correlation ρ.
    * Returns one row: (n_x, n_y, u_stat 6dp, v_stat 6dp, c_stat 6dp,
    * p_value 6dp — the exp(−C) asymptotic). Mid-ranks for ties. */
  def cucconi(df: DataFrame, groupCol: String, valueCol: String,
              a: String, b: String, buckets: Int = 256): DataFrame = {
    val r = ranked(df, groupCol, valueCol, a, b, buckets)
    val n1 = col("n1").cast("double")
    val n2 = col("n2").cast("double")
    val nn = col("__nn").cast("double")
    val denom = sqrt(n1 * n2 * (nn + 1) * (lit(2.0) * nn + 1) *
      (lit(8.0) * nn + 11) / 5.0)
    val withSums = r.agg(
      sum(when(col("__g") === a, 1L).otherwise(0L)).as("n1"),
      sum(when(col("__g") === b, 1L).otherwise(0L)).as("n2"),
      sum(when(col("__g") === b, col("__rc"))).as("__sr"),
      sum(when(col("__g") === b, col("__rc") * col("__rc")))
        .as("__sr2"),
      count(lit(1)).as("__nn"))
    val u = (lit(6.0) * col("__sr2") -
      n2 * (nn + 1) * (lit(2.0) * nn + 1)) / denom
    // Σ(N+1−R)² expanded: n₂(N+1)² − 2(N+1)ΣR + ΣR²
    val contrary = n2 * (nn + 1) * (nn + 1) -
      lit(2.0) * (nn + 1) * col("__sr") + col("__sr2")
    val v = (lit(6.0) * contrary -
      n2 * (nn + 1) * (lit(2.0) * nn + 1)) / denom
    val rho = lit(2.0) * (nn * nn - 4) /
      ((lit(2.0) * nn + 1) * (lit(8.0) * nn + 11)) - 1
    withSums
      .withColumn("__u", u).withColumn("__v", v).withColumn("__rho", rho)
      .withColumn("__c", try_divide(
        col("__u") * col("__u") + col("__v") * col("__v") -
          lit(2.0) * col("__rho") * col("__u") * col("__v"),
        lit(2.0) * (lit(1.0) - col("__rho") * col("__rho"))))
      .select(col("n1").as("n_x"), col("n2").as("n_y"),
        round(col("__u"), 6).as("u_stat"),
        round(col("__v"), 6).as("v_stat"),
        round(col("__c"), 6).as("c_stat"),
        round(exp(-col("__c")), 6).as("p_value"))
  }
}
