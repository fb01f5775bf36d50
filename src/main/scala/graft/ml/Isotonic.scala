package graft.ml

import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Isotonic (monotone) calibration of a binary outcome against a
  * score — the non-parametric upgrade to q187/q413's binned
  * calibration: the pool-adjacent-violators fit, computed EXACTLY via
  * the minimax characterization
  *   iso(i) = max_{j≤i} min_{k≥i} mean(y over buckets j..k)
  * (Ayer et al. 1955; Barlow & Brunk 1972) over score buckets. PAV is
  * inherently sequential; the minimax form is pure relational algebra.
  *
  * Scale shape at 100 TB: ONE corpus scan aggregates per-bucket
  * (n, positives) — everything after runs on the B-row bucket frame:
  * prefix sums via a window over ≤B rows, the (j,k) interval means on
  * a B²/2-row self-join, the minimax on a ≤B³-row join — all metadata
  * for any sane B (default 20 → 8k rows). Interval means are single
  * divisions of exact int64 prefix sums, so the fit is bit-exact
  * cross-engine (min/max over identical doubles).
  */
object Isotonic {

  /** Isotonic calibration table over `buckets` equal-width score
    * buckets. Returns (bucket, n, n_pos, mean_score 6dp, frac_pos 6dp,
    * iso_prob 6dp) with iso_prob non-decreasing in bucket. */
  def calibrate(df: DataFrame, scoreCol: String, labelCol: String,
                buckets: Int = 20): DataFrame = Checkpoints.scoped {
    val v = col(scoreCol).cast("double")
    val y = col(labelCol).cast("boolean")
    // bounds come from the SAME filtered frame as the cells (ADVICE r12:
    // a null-label or NaN-score row holding the min/max score would
    // shift the Spark bucket edges but not the oracle's, diverging every
    // bucket assignment); NaN scores are dropped like Copula/RankTests
    val src = df.filter(v.isNotNull && y.isNotNull && !isnan(v))
    val bounds = src.agg(min(v).as("__lo"), max(v).as("__hi"))
    // ≤ buckets rows; read by three consumers
    val cells = Checkpoints.local(src
      .crossJoin(broadcast(bounds))
      .withColumn("__b",
        when(col("__hi") === col("__lo"), lit(0))
          .otherwise(least(
            floor((v - col("__lo")) /
              ((col("__hi") - col("__lo")) / buckets)),
            lit(buckets - 1))).cast("int"))
      .groupBy("__b")
      .agg(count(lit(1)).as("n"),
        sum(when(y, 1L).otherwise(0L)).as("n_pos"),
        sum(v).as("__sv")))
    val wPre = Window.orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = cells
      .withColumn("__cw", sum("n").over(wPre))
      .withColumn("__cp", sum("n_pos").over(wPre))
      .select(col("__b"), col("__cw"), col("__cp"))
    // interval mean A(j,k) = (cp_k − cp_{j-1}) / (cw_k − cw_{j-1}):
    // intervals starting past bucket jm pair with every later k, and
    // the from-the-start intervals (j = 0) come straight from the
    // prefix row. With empty buckets, j = jm+1 still keys each
    // present-bucket interval exactly once and "j ≤ i" still means
    // "interval starts at or before present bucket i".
    val ivInner = pre.as("k").join(pre.as("jm"),
        col("jm.__b") < col("k.__b"))
      .select((col("jm.__b") + 1).as("__j"), col("k.__b").as("__k"),
        ((col("k.__cp") - col("jm.__cp")).cast("double") /
          (col("k.__cw") - col("jm.__cw"))).as("__a"))
    val iv = ivInner.unionByName(pre.select(lit(0).as("__j"),
      col("__b").as("__k"),
      (col("__cp").cast("double") / col("__cw")).as("__a")))
    val pos = cells.select(col("__b").as("__i"))
    val minOverK = pos.join(iv,
        col("__j") <= col("__i") && col("__k") >= col("__i"))
      .groupBy("__i", "__j")
      .agg(min("__a").as("__m"))
    val iso = minOverK.groupBy("__i")
      .agg(max("__m").as("__iso"))
    cells.join(iso, col("__b") === col("__i"))
      .select(col("__b").as("bucket"), col("n"), col("n_pos"),
        round(col("__sv") / col("n"), 6).as("mean_score"),
        round(col("n_pos").cast("double") / col("n"), 6)
          .as("frac_pos"),
        round(col("__iso"), 6).as("iso_prob"))
      .orderBy("bucket")
  }
}
