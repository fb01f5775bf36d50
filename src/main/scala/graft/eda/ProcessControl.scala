package graft.eda

import graft.core.Lattice
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical process control over event streams — the monitoring
  * read-outs (control charts, capability indices, outlier screens) a
  * data-quality pipeline runs per ingest batch. Every center line and
  * sigma estimate is built from exact decimal sums, so chart limits
  * are bit-identical across engines and partitionings.
  */
object ProcessControl {

  /** Exact mean of 6dp-rounded doubles: decimal sum, one division. */
  private def decMean(c: org.apache.spark.sql.Column) =
    sum(round(c, 6).cast(DecimalType(28, 6))).cast("double") /
      count(c)

  /** Individuals (I-MR) Shewhart chart on the daily mean: center =
    * mean of daily means, sigma = MR-bar / d2 (d2 = 1.128, the
    * standard moving-range-of-2 estimator — robust to a drifting
    * level, unlike the pooled stddev), Western Electric rule 1
    * (beyond 3 sigma) and rule 2 (9 consecutive points one side of
    * center) violation counts. Day frame only: the groupBy(day)
    * collapse happens first, every window rides the ~#days rows.
    * Returns one row:
    * (n_days, center 6dp, sigma_hat 6dp, n_rule1, n_rule2). */
  def shewhartI(events: DataFrame, tsCol: String,
                valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = graft.core.Tables.ltzTs(events, tsCol)
      .filter(col(valueCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg((Lattice.centsSum(col(valueCol)).cast("double") /
        count(lit(1))).as("m"))
    val w = Window.orderBy("day")
    val withMr = d.withColumn("__mr",
      abs(col("m") - lag("m", 1).over(w)))
    val stats = withMr.agg(count(lit(1)).as("n_days"),
      decMean(col("m")).as("__center"),
      (decMean(col("__mr")) / 1.128).as("__sigma"))
    val w9 = w.rowsBetween(-8, Window.currentRow)
    val side = signum(col("m") - col("__center"))
    withMr.crossJoin(broadcast(stats))
      .withColumn("__side9", when(count(lit(1)).over(w9) === 9,
        sum(side).over(w9)))
      .agg(first("n_days").as("n_days"),
        round(first("__center"), 6).as("center"),
        round(first("__sigma"), 6).as("sigma_hat"),
        sum((abs(col("m") - col("__center")) >
          lit(3.0) * col("__sigma")).cast("long")).as("n_rule1"),
        sum((abs(col("__side9")) === 9).cast("long")).as("n_rule2"))
  }

  /** Process capability per group against fixed spec limits:
    * Cp = (USL−LSL)/6σ (potential — the spread the spec allows over
    * the spread the process uses) and Cpk = min(USL−μ, μ−LSL)/3σ
    * (actual — penalized for off-center). μ and σ come from exact
    * decimal power sums (Σx at (18,2), Σx² at (37,4)) so the indices
    * are partitioning-independent. One map-combinable groupBy.
    * Returns (group, n, mean 6dp, sigma 6dp, cp 6dp, cpk 6dp). */
  def capability(df: DataFrame, groupCol: String, valueCol: String,
                 lsl: Double, usl: Double): DataFrame = {
    // cents lattice + portable double (see core/Lattice.scala)
    val x = (col(valueCol).cast(DecimalType(18, 2)) * lit(100))
      .cast(DecimalType(38, 0))
    val pd = graft.core.Lattice.sparkPortableDouble _
    val g = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("__s1i"),
        sum(x * x).as("__s2i"))
      .selectExpr("group", "n",
        s"${pd("__s1i")} / 100.0 AS __s1",
        s"${pd("__s2i")} / 10000.0 AS __s2")
    val nd = col("n").cast("double")
    val mu = col("__s1") / nd
    val sig = sqrt((col("__s2") - nd * mu * mu) / (nd - 1))
    g.filter(col("n") > 1)
      .select(col("group"), col("n"), round(mu, 6).as("mean"),
        round(sig, 6).as("sigma"),
        round(when(sig > 0, lit(usl - lsl) / (lit(6.0) * sig)), 6)
          .as("cp"),
        round(when(sig > 0,
          least(lit(usl) - mu, mu - lit(lsl)) / (lit(3.0) * sig)), 6)
          .as("cpk"))
      .orderBy("group")
  }

  /** Grubbs extreme-outlier statistic per group:
    * G = max|x−μ|/σ, with the offending value (deterministic
    * tie-break: smallest such value). Two map-combinable aggregates —
    * exact-decimal moments, then a broadcast join back for the argmax
    * — never a sort. The screening question G answers ("is the single
    * worst point beyond what n normal draws produce?") precedes any
    * bulk outlier scan. Returns (group, n, g_stat 6dp, extreme_value).
    */
  def grubbs(df: DataFrame, groupCol: String,
             valueCol: String): DataFrame = {
    // cents lattice + portable double (see core/Lattice.scala): exact
    // integer moments whose double conversion is cross-engine stable
    val x = (col(valueCol).cast(DecimalType(18, 2)) * lit(100))
      .cast(DecimalType(38, 0))
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("group"),
        col(valueCol).cast("double").as("__v"), x.as("__xd"))
    val pd = graft.core.Lattice.sparkPortableDouble _
    val g = base.groupBy("group")
      .agg(count(lit(1)).as("n"),
        sum(col("__xd")).as("__s1i"),
        sum(col("__xd") * col("__xd")).as("__s2i"))
      .filter(col("n") > 2)
      .selectExpr("group", "n",
        s"${pd("__s1i")} / 100.0 AS __s1",
        s"${pd("__s2i")} / 10000.0 AS __s2")
    val nd = col("n").cast("double")
    val moments = g.select(col("group"), col("n"),
      (col("__s1") / nd).as("__mu"),
      sqrt((col("__s2") - nd * (col("__s1") / nd) *
        (col("__s1") / nd)) / (nd - 1)).as("__sig"))
    val dev = base.join(broadcast(moments), Seq("group"))
      .select(col("group"), col("n"), col("__sig"), col("__v"),
        abs(col("__v") - col("__mu")).as("__d"))
    val mx = dev.groupBy("group")
      .agg(max("__d").as("__dm"), first("n").as("n"),
        first("__sig").as("__sg"))
    dev.select(col("group"), col("__v"), col("__d"))
      .join(broadcast(mx), Seq("group"))
      .groupBy(col("group"))
      .agg(first("n").as("n"),
        round(when(first("__sg") > 0,
          first("__dm") / first("__sg")), 6).as("g_stat"),
        min(when(col("__d") === col("__dm"), col("__v")))
          .as("extreme_value"))
      .orderBy("group")
  }
}
