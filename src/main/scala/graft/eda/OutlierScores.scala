package graft.eda

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.Metrics

/** ECOD-style unsupervised outlier scoring (Li et al., TKDE 2022:
  * "ECOD: Unsupervised Outlier Detection Using Empirical Cumulative
  * Distribution Functions") — the parameter-free cousin of the
  * reference's IQR/σ outlier filters (src/workbench/algorithms/sql/
  * outliers.py), useful where a single-column rule misses jointly-odd
  * rows. Simplified aggregation (documented): per feature the tail
  * probability is min(left ECDF, right ECDF) and the row score is
  * Σ −ln(tail) over features, i.e. the two-sided variant without the
  * skew-switching max — monotone-equivalent for ranking on symmetric
  * features and exactly reproducible in ANSI SQL.
  *
  * Scale shape: the selected columns stack to a (id, feature, value)
  * long frame (one projection + explode); per-row ECDF counts come from
  * the PAYLOAD-CARRYING bucket-partitioned rank kernel
  * ([[graft.ml.Metrics.rowAvgRanks]] with per-feature bounds —
  * count(≤v) = avg_rank + (t−1)/2), so there is no single-partition
  * sort at any cardinality and no distinct-cell join-back over the
  * long frame (the r8–r12 shape paid a second corpus shuffle for it);
  * the final score is one groupBy(id). Returns the top-k rows by
  * (score desc, id): (id, ecod_score).
  */
object OutlierScores {

  def ecodTopK(df: DataFrame, idCol: String, cols: Seq[String],
               k: Int = 20): DataFrame = {
    val long = df.select(col(idCol).as("__id"),
        explode(array(cols.map(c =>
          struct(lit(c).as("f"), col(c).cast("double").as("v"))): _*)).as("p"))
      .select(col("__id"), col("p.f").as("__f"), col("p.v").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
    // per-row tie-averaged ranks via the PAYLOAD-CARRYING rank kernel
    // (per-feature bounds): the long frame flows through ONE bucketed
    // rank pass carrying __id, replacing the r8-r12 shape — a
    // distinct-cell rank frame JOINED BACK onto the long frame — which
    // paid a second full shuffle of the corpus-sized long frame plus the
    // (__f, __v) join build (r13 plan audit). avg_rank and tie counts are
    // identical integers-in-double, so every tail value is unchanged.
    val totals = long.groupBy("__f").agg(count(lit(1)).as("__nf"))
    val scored = Metrics.rowAvgRanks(long, "__v", "__r",
        partitionCols = Seq("__f"), tiesAs = Some("__t"))
      .join(broadcast(totals), "__f")
      // count(≤v) from the tie-averaged rank; right tail mirrors it
      .withColumn("__leq", col("__r") + (col("__t") - 1) / 2.0)
      .withColumn("__tail",
        least(col("__leq") / col("__nf"),
          (col("__nf") - col("__leq") + col("__t")) / col("__nf")))
      .groupBy("__id")
      .agg(round(sum(-log(col("__tail"))), 6).as("ecod_score"))
    // distributed top-k (TakeOrderedAndProject), never a global window;
    // id tiebreak keeps the cut deterministic across engines
    scored.orderBy(col("ecod_score").desc, col("__id")).limit(k)
      .select(col("__id").as(idCol), col("ecod_score"))
  }

  /** Two-feature Mahalanobis outlier distance — the correlation-aware
    * cousin of the per-column IQR/MAD filters: a row can sit inside
    * both marginal ranges yet be far from the joint ellipse. Two
    * features keep the covariance inverse in closed form
    * (d² = (dx²σy² − 2·dx·dy·σxy + dy²σx²) / (σx²σy² − σxy²)), so the
    * whole operator is ONE moments aggregate (var_pop/covar_pop — the
    * same Welford kernels in Spark and the oracle engine) broadcast
    * into a codegen projection, then a distributed top-k
    * (TakeOrderedAndProject, id tiebreak). Higher dimensions would
    * invert the (d×d, metadata-sized) matrix on the driver and inject
    * the coefficients as plan constants — same shape. Returns the
    * top-k (id, mahalanobis_sq). */
  def mahalanobisTopK(df: DataFrame, idCol: String, xCol: String,
                      yCol: String, k: Int = 20): DataFrame = {
    val base = df.select(col(idCol).as("__id"),
        col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .filter(col("__x").isNotNull && !isnan(col("__x")) &&
        col("__y").isNotNull && !isnan(col("__y")))
    val m = base.agg(avg("__x").as("__mx"), avg("__y").as("__my"),
      var_pop("__x").as("__vx"), var_pop("__y").as("__vy"),
      covar_pop("__x", "__y").as("__cxy"))
    val dx = col("__x") - col("__mx")
    val dy = col("__y") - col("__my")
    val det = col("__vx") * col("__vy") - col("__cxy") * col("__cxy")
    base.crossJoin(broadcast(m))
      .select(col("__id"),
        round(try_divide(
          dx * dx * col("__vy") - lit(2.0) * dx * dy * col("__cxy") +
            dy * dy * col("__vx"), det), 6).as("mahalanobis_sq"))
      .orderBy(col("mahalanobis_sq").desc, col("__id")).limit(k)
      .select(col("__id").as(idCol), col("mahalanobis_sq"))
  }

  /** HBOS — histogram-based outlier score (Goldstein & Dengel 2012):
    * per feature an equal-width histogram, per row the summed
    * log-inverse bin density Σ_f ln(n_f / count_f(bin(x))). The
    * linear-time member of the outlier family (vs [[ecodTopK]]'s rank
    * ECDFs): two corpus passes, no rank kernel, so it is the one to
    * reach for first at 100 TB.
    *
    * Scale shape: pass 1 is ONE min/max aggregate over the selected
    * columns (broadcast single row); the (feature, bin) histogram is a
    * map-combinable groupBy over the exploded long frame; the score
    * pass joins the long frame to the BROADCAST (#features × bins)
    * count table and groupBy(id)-sums. Bin assignment uses the exact
    * double expression floor((x−min)/(max−min)·bins) clamped to
    * bins−1, so engines agree bit-for-bit. Constant features
    * (max = min) collapse to bin 0 (density 1 → score term 0). Null /
    * NaN cells are skipped (contribute nothing). Returns the top-k
    * (id, hbos_score 6dp), (score desc, id) deterministic. */
  def hbosTopK(df: DataFrame, idCol: String, cols: Seq[String],
               bins: Int = 10, k: Int = 20): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val long = df.select(col(idCol).as("__id"),
        explode(array(cols.map(c =>
          struct(lit(c).as("f"), col(c).cast("double").as("v"))): _*)).as("p"))
      .select(col("__id"), col("p.f").as("__f"), col("p.v").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
    val bounds = long.groupBy("__f")
      .agg(min("__v").as("__lo"), max("__v").as("__hi"),
        count(lit(1)).as("__nf"))
    val binned = long.join(broadcast(bounds), "__f")
      .withColumn("__bin",
        when(col("__hi") > col("__lo"),
          least(lit(bins - 1), floor((col("__v") - col("__lo")) /
            (col("__hi") - col("__lo")) * bins)))
          .otherwise(0L))
    val hist = binned.groupBy("__f", "__bin")
      .agg(count(lit(1)).as("__cnt"), first("__nf").as("__nf"))
    binned.select(col("__id"), col("__f"), col("__bin"))
      .join(broadcast(hist), Seq("__f", "__bin"))
      .groupBy("__id")
      .agg(round(sum(log(col("__nf").cast("double") / col("__cnt"))), 6)
        .as("hbos_score"))
      .orderBy(col("hbos_score").desc, col("__id")).limit(k)
      .select(col("__id").as(idCol), col("hbos_score"))
  }
}
