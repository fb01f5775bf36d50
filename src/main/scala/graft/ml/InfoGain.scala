package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Information-gain ranking of numeric features against a binary
  * label — the split-gain screen a feature-selection pass runs before
  * training (the numeric-feature counterpart of the q155/q156
  * MI/χ² contingency kernels, and of the reference's feature-quality
  * metrics surface).
  *
  * Scale shape: ONE wide exact-percentile aggregate computes every
  * feature's equi-depth bin edges in a single pass (the
  * descriptive-stats pattern; 6dp-quantized edges so edge-sitting
  * values bin identically in every engine); binning is a codegen
  * comparison chain; ONE explode + groupBy collapses the corpus to
  * (feature, bin, label-count) cells; entropies are aggregates OF THE
  * CELLS (metadata). Natural-log entropies. */
object InfoGain {

  def infoGain(df: DataFrame, features: Seq[String], labelCol: String,
               bins: Int = 5): DataFrame = {
    require(bins >= 2 && features.nonEmpty)
    val ps = (1 until bins).map(_.toDouble / bins)
    val base = df.filter(col(labelCol).isNotNull)
      .withColumn("__y", col(labelCol).cast("int"))
    val edgeRow = base.agg(
      graft.functions.ExactPercentiles
        .exactPercentiles(col(features.head).cast("double"), ps)
        .as(s"__e_${features.head}"),
      features.tail.map(c => graft.functions.ExactPercentiles
        .exactPercentiles(col(c).cast("double"), ps).as(s"__e_$c")): _*)
      .head()
    def edges(c: String): Seq[Double] = {
      val i = edgeRow.fieldIndex(s"__e_$c")
      if (edgeRow.isNullAt(i)) Seq.empty
      else edgeRow.getSeq[Double](i)
        .map(e => BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
    }
    def binOf(c: String): Column =
      edges(c).foldLeft(lit(0))((acc, e) =>
        acc + when(col(c).cast("double") > e, 1).otherwise(0))
    val long = base.select(col("__y"),
      explode(array(features.map(c =>
        struct(lit(c).as("f"), binOf(c).as("b"))): _*)).as("p"))
    val cells = long.groupBy(col("p.f").as("__f"), col("p.b").as("__b"))
      .agg(count(lit(1)).as("__n"), sum("__y").as("__pos"))
    // binary entropy of a (pos, n) cell, 0·ln0 := 0 — the same guarded
    // form the oracle SQL uses, so engines agree exactly at 6dp
    def h(pos: Column, n: Column): Column = {
      val p = pos / n.cast("double")
      val q = lit(1.0) - p
      when(p > 0, -p * log(p)).otherwise(0.0) +
        when(q > 0, -q * log(q)).otherwise(0.0)
    }
    val totals = cells.groupBy("__f")
      .agg(sum("__n").as("__nt"), sum("__pos").as("__post"),
        count(lit(1)).as("n_bins"))
    cells.join(totals, "__f")
      .groupBy(col("__f").as("feature"))
      .agg(first("n_bins").as("n_bins"),
        round(h(first("__post"), first("__nt")) -
          sum(col("__n") / col("__nt").cast("double") *
            h(col("__pos"), col("__n"))), 6).as("info_gain"))
  }

  /** Decision stump: the single best threshold split of a binary
    * label on one numeric feature — the primitive every tree learner
    * repeats, exposed directly as the "where does this feature
    * separate the classes" read-out. Candidate thresholds are the
    * inner equi-depth percentiles (6dp-quantized plan constants, the
    * [[infoGain]] edge convention); for each, the weighted Gini
    * impurity of the two sides; gain = parent Gini − best split Gini.
    *
    * Scale shape: one exact-percentile aggregate, then ALL candidate
    * splits evaluate in ONE conditional-moment aggregate over the
    * corpus (4 sums per threshold — no explode, no second pass), and
    * the argmin rides the #thresholds literal frame. Returns one row:
    * (threshold, n_left, n_right, gini_parent, gini_split, gain) 6dp.
    */
  def bestSplit(df: DataFrame, featureCol: String, labelCol: String,
                candidates: Int = 19): DataFrame = {
    require(candidates >= 1 && candidates <= 99)
    val x = col(featureCol).cast("double")
    val base = df.filter(col(labelCol).isNotNull && x.isNotNull &&
        !isnan(x))
      .select(x.as("__x"), col(labelCol).cast("long").as("__y"))
    val ps = (1 to candidates).map(_.toDouble / (candidates + 1))
    val eRow = base.agg(graft.functions.ExactPercentiles
      .exactPercentiles(col("__x"), ps)).head()
    if (eRow.isNullAt(0))
      return df.sparkSession.range(0).select(lit(0.0).as("threshold"),
        lit(0L).as("n_left"), lit(0L).as("n_right"),
        lit(0.0).as("gini_parent"), lit(0.0).as("gini_split"),
        lit(0.0).as("gain"))
    val ts = eRow.getSeq[Double](0)
      .map(e => BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble).distinct
    val aggs = Seq(count(lit(1)).as("__n"), sum("__y").as("__p")) ++
      ts.zipWithIndex.flatMap { case (t, i) => Seq(
        sum(when(col("__x") <= t, 1L).otherwise(0L)).as(s"__nl$i"),
        sum(when(col("__x") <= t, col("__y")).otherwise(0L)).as(s"__pl$i"))
      }
    val m = base.agg(aggs.head, aggs.tail: _*)
    def gini(pos: Column, n: Column): Column = {
      val p = pos.cast("double") / n.cast("double")
      when(n > 0, lit(1.0) - p * p - (lit(1.0) - p) * (lit(1.0) - p))
        .otherwise(lit(0.0))
    }
    val rows = ts.zipWithIndex.map { case (t, i) =>
      val nl = col(s"__nl$i")
      val pl = col(s"__pl$i")
      val nr = col("__n") - nl
      val pr = col("__p") - pl
      val gs = nl.cast("double") / col("__n") * gini(pl, nl) +
        nr.cast("double") / col("__n") * gini(pr, nr)
      struct(lit(t).as("threshold"), nl.as("n_left"), nr.as("n_right"),
        gs.as("gini_split"))
    }
    m.select(col("__n"), col("__p"), explode(array(rows: _*)).as("c"))
      .select(col("__n"), col("__p"), col("c.*"))
      // argmin split: min struct on (gini_split, threshold) tiebreak
      .withColumn("__gp", gini(col("__p"), col("__n")))
      .orderBy(col("gini_split"), col("threshold")).limit(1)
      .select(col("threshold"), col("n_left"), col("n_right"),
        round(col("__gp"), 6).as("gini_parent"),
        round(col("gini_split"), 6).as("gini_split"),
        round(col("__gp") - col("gini_split"), 6).as("gain"))
  }

  /** Gini split sweep over MANY pre-binned features at once: for each
    * feature, the binary split (bins ≤ t vs > t) with the largest
    * Gini-impurity decrease against a binary label — q412's stump,
    * swept as a feature-ranking table from ONE stacked shuffle
    * (the q373 stacked-audit shape). Split scores are deterministic
    * rationals of integer counts; the best split ties to the SMALLEST
    * bin. Returns (feature, n, best_bin, gini_parent 6dp,
    * gini_decrease 6dp) ordered by feature. */
  def giniSweep(df: DataFrame, features: Seq[String],
                labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(features.nonEmpty)
    val y = (col(labelCol).cast("int") === 1).cast("long")
    val stacked = df.filter(col(labelCol).isNotNull)
      .select(explode(array(features.map(f =>
        struct(lit(f).as("f"), col(f).cast("long").as("b"),
          y.as("y"))): _*)).as("s"))
      .select(col("s.f"), col("s.b"), col("s.y"))
      .filter(col("b").isNotNull)
    val bins = stacked.groupBy("f", "b")
      .agg(count(lit(1)).as("__n"), sum("y").as("__p"))
    val wc = Window.partitionBy("f").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy("f")
    val cum = bins
      .withColumn("__cn", sum("__n").over(wc))
      .withColumn("__cp", sum("__p").over(wc))
      .withColumn("__tn", sum("__n").over(wt))
      .withColumn("__tp", sum("__p").over(wt))
      .filter(col("__cn") < col("__tn")) // a split must leave a right side
    def gini(p: org.apache.spark.sql.Column,
             n: org.apache.spark.sql.Column) = {
      val r = p.cast("double") / n.cast("double")
      lit(2.0) * r * (lit(1.0) - r)
    }
    val parent = gini(col("__tp"), col("__tn"))
    val child =
      (col("__cn").cast("double") / col("__tn")) *
        gini(col("__cp"), col("__cn")) +
      ((col("__tn") - col("__cn")).cast("double") / col("__tn")) *
        gini(col("__tp") - col("__cp"), col("__tn") - col("__cn"))
    val scored = cum.withColumn("__dec", parent - child)
      .withColumn("__parent", parent)
    val best = scored.groupBy("f").agg(max("__dec").as("__mx"))
    scored.join(best, Seq("f"))
      .filter(col("__dec") === col("__mx"))
      .groupBy(col("f").as("feature"))
      .agg(first("__tn").as("n"), min("b").as("best_bin"),
        round(first("__parent"), 6).as("gini_parent"),
        round(first("__mx"), 6).as("gini_decrease"))
      .orderBy("feature")
  }
}
