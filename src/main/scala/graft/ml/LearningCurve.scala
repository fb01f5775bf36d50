package graft.ml

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learning-curve diagnostics for a closed-form model: fit a simple
  * (one-feature) OLS regression on growing training fractions and
  * score each fit on a FIXED held-out slice — the classic "is more
  * data still buying accuracy?" read (Banko & Brill 2001 popularized
  * the curve; every data-acquisition decision wants it). A flattening
  * r² says the model is capacity-bound, not data-bound; a still-rising
  * curve says buy/ingest more data.
  *
  * Determinism discipline: the train/test split is a Knuth
  * multiplicative hash bucket of a caller-supplied integer row key —
  * exact int64 arithmetic, identical on every engine (no RNG, no
  * engine hash). All fits are closed-form moment algebra: ONE scan
  * aggregates (n, Σx, Σy, Σxy, Σx², Σy²) per bucket (≤100 cells) and
  * every fraction's coefficients and test r² derive from sums over
  * those cells — slope/intercept on the train prefix, SSE expanded as
  * Σy² − 2aΣy − 2bΣxy + 2abΣx + a²n + b²Σx² on the test moments.
  *
  * Scale shape at 100 TB: one corpus scan → 100-cell frame → driver-free
  * column algebra on a fractions×cells join (tiny). Adding fractions
  * costs nothing but rows in the metadata frame. */
object LearningCurve {

  /** OLS learning curve of `yCol ~ xCol`. `keyExpr` must be an exact
    * integer row key (split determinism) — negative keys are fine: the
    * Spark side buckets with pmod and the oracle twin double-mods to
    * the same non-negative residue (ADVICE r12: DuckDB's sign-preserving
    * `%` would otherwise split negative keys differently per engine).
    * Buckets < frac train; buckets
    * >= `testFrom` are the fixed holdout. Returns per fraction:
    * (frac, n_train, n_test, slope 6dp, intercept 6dp, r2_test 6dp). */
  def simpleOlsCurve(df: DataFrame, xCol: String, yCol: String,
                     keyExpr: Column, fractions: Seq[Int] = Seq(10, 20, 40, 80),
                     testFrom: Int = 80): DataFrame = Checkpoints.scoped {
    val ss = df.sparkSession
    import ss.implicits._
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    // 100 rows; train and test both read it
    val cells = Checkpoints.local(df.filter(x.isNotNull && y.isNotNull)
      // pre-mod by 1e9+7 keeps the Knuth product inside int64 for any
      // key domain (1e9·2654435761 < 2^63; a raw 1e10 key overflows)
      .select(pmod(pmod(keyExpr, lit(1000000007L)) * lit(2654435761L),
          lit(100)).as("__b"),
        x.as("__x"), y.as("__y"))
      .groupBy("__b")
      .agg(count(lit(1)).as("n"), sum("__x").as("sx"),
        sum("__y").as("sy"),
        sum(col("__x") * col("__y")).as("sxy"),
        sum(col("__x") * col("__x")).as("sxx"),
        sum(col("__y") * col("__y")).as("syy")))
    val fr = fractions.toDF("frac")
    val train = fr.join(cells, col("__b") < col("frac"))
      .groupBy("frac")
      .agg(sum("n").as("tn"), sum("sx").as("tsx"), sum("sy").as("tsy"),
        sum("sxy").as("tsxy"), sum("sxx").as("tsxx"))
    val test = cells.filter(col("__b") >= testFrom)
      .agg(sum("n").as("hn"), sum("sx").as("hsx"), sum("sy").as("hsy"),
        sum("sxy").as("hsxy"), sum("sxx").as("hsxx"),
        sum("syy").as("hsyy"))
    val tn = col("tn").cast("double")
    val b = try_divide(tn * col("tsxy") - col("tsx") * col("tsy"),
      tn * col("tsxx") - col("tsx") * col("tsx"))
    val joined = train.crossJoin(broadcast(test))
      .withColumn("__slope", b)
      .withColumn("__a",
        try_divide(col("tsy") - col("__slope") * col("tsx"), tn))
    val hn = col("hn").cast("double")
    val sse = col("hsyy") - lit(2.0) * col("__a") * col("hsy") -
      lit(2.0) * col("__slope") * col("hsxy") +
      lit(2.0) * col("__a") * col("__slope") * col("hsx") +
      col("__a") * col("__a") * hn +
      col("__slope") * col("__slope") * col("hsxx")
    val sst = col("hsyy") - try_divide(col("hsy") * col("hsy"), hn)
    joined.select(col("frac"), col("tn").as("n_train"),
        col("hn").as("n_test"),
        round(col("__slope"), 6).as("slope"),
        round(col("__a"), 6).as("intercept"),
        round(lit(1.0) - try_divide(sse, sst), 6).as("r2_test"))
      .orderBy("frac")
  }
}
