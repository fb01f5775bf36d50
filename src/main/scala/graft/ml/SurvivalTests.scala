package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Two-sample survival comparison — the hypothesis-test companion to
  * [[Stats.kaplanMeier]]'s curves (reference keeps survival plots in its
  * pandas utils; the test itself is beyond-reference, north-star scope).
  */
object SurvivalTests {

  /** Log-rank (Mantel–Cox) test: does arm A's survival differ from arm
    * B's? At every distinct event time t, arm A's observed events d1
    * compare to the hypergeometric expectation dt·n1/nt given the
    * at-risk sets; the z is Σ(O−E)/√ΣV with the standard variance
    * dt·n1·n0·(nt−dt) / (nt²·(nt−1)).
    *
    * Scale shape: one (t, arm) cell aggregate; at-risk counts come from
    * a desc-cumulative window over the FULL time×arm grid (zero-filled,
    * so an arm with no row at t still has its at-risk counted) —
    * day-granularity frames, never row frames. Per-time E and V terms
    * quantize to DECIMAL(28,9) before summing (order-free on any
    * engine). Single-row (nt=1) risk sets contribute zero variance.
    * Returns one row: (n_a, n_b, observed_a, expected_a 6dp,
    * o_minus_e 6dp, var_sum 6dp, z_stat 6dp). */
  def logRank(df: DataFrame, durationCol: String, eventCol: String,
              armCol: String, armA: String, armB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val base = df
      .filter(col(armCol).isin(armA, armB) &&
        col(durationCol).isNotNull)
      .select(col(durationCol).cast("long").as("t"),
        (col(eventCol) === 1).cast("long").as("e"),
        (col(armCol) === armA).cast("int").as("a"))
    val cells = base.groupBy("t", "a")
      .agg(count(lit(1)).as("n"), sum("e").as("d"))
    val grid = cells.select("t").distinct()
      .select(col("t"), explode(array(lit(0), lit(1))).as("a"))
    val full = grid.join(cells, Seq("t", "a"), "left")
      .na.fill(0L, Seq("n", "d"))
    val wr = Window.partitionBy("a").orderBy(desc("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = full.withColumn("r", sum("n").over(wr))
    val byT = risk.groupBy("t").agg(
      sum(when(col("a") === 1, col("r"))).as("n1"),
      sum(when(col("a") === 0, col("r"))).as("n0"),
      sum(when(col("a") === 1, col("d"))).as("d1"),
      sum(when(col("a") === 0, col("d"))).as("d0"))
      .withColumn("dt", col("d1") + col("d0"))
      .withColumn("nt", col("n1") + col("n0"))
      .filter(col("dt") > 0)
    val e1 = col("dt").cast("double") * col("n1") / col("nt")
    val v1 = when(col("nt") > 1,
      col("dt").cast("double") * col("n1") * col("n0") *
        (col("nt") - col("dt")) /
        (col("nt").cast("double") * col("nt") * (col("nt") - 1)))
      .otherwise(lit(0.0))
    val terms = byT.select(
      col("d1"),
      round(e1, 9).cast(DecimalType(28, 9)).as("__e"),
      round(v1, 9).cast(DecimalType(28, 9)).as("__v"))
    val sizes = base.groupBy().agg(
      sum(col("a").cast("long")).as("n_a"),
      sum(lit(1L) - col("a")).as("n_b"))
    terms.agg(
        sum("d1").as("observed_a"),
        sum("__e").cast("double").as("__esum"),
        sum("__v").cast("double").as("__vsum"))
      .crossJoin(broadcast(sizes))
      .select(col("n_a"), col("n_b"), col("observed_a"),
        round(col("__esum"), 6).as("expected_a"),
        round(col("observed_a") - col("__esum"), 6).as("o_minus_e"),
        round(col("__vsum"), 6).as("var_sum"),
        round(try_divide(col("observed_a") - col("__esum"),
          sqrt(col("__vsum"))), 6).as("z_stat"))
  }
}
