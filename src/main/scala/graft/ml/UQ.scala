package graft.ml

import graft.core.TopK
import graft.stores.DriverParquet
import org.apache.spark.ml.regression.RandomForestRegressionModel
import org.apache.spark.ml.util.GraftModelIO
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType, StructField, StructType}

/** UQ model v0: split-conformal prediction intervals + residual-aware
  * confidence, calibrated on out-of-fold predictions
  * (reference: src/workbench/algorithms/dataframe/uq_model_v0.py:61-363).
  *
  * Calibration (fit):
  *  1. nonconformity = |y − ŷ| / max(std, 1e-10); per confidence level α,
  *     scale factor q_α = exact quantile of the scores at
  *     min(⌈(n+1)α⌉/n, 1) — the split-conformal finite-sample adjustment
  *     (Lei et al. 2018).
  *  2. ŷ is cut into ≤10 quantile bins; within each bin an isotonic
  *     regression std → |residual| (global-fit fallback under 20 samples)
  *     gives the expected-residual curve. Isotonic fits use Spark MLlib's
  *     distributed PAVA, so calibration never materializes rows on the
  *     driver — only the pooled piecewise-linear thresholds come back.
  *  3. The 0..100 percentiles of expected residual on the calibration set
  *     back the percentile-rank confidence score.
  *
  * Inference (predict) is one narrow projection: interval columns are
  *  pure column arithmetic (codegen'd); expected residual + confidence
  *  interpolate the broadcast threshold curves in a JVM UDF (the curves
  *  are data-dependent-size arrays — as literals they would blow up
  *  codegen; as a broadcast lookup they are a per-row binary search).
  */
object UQ {

  val DefaultConfidenceLevels: Seq[Double] = Seq(0.50, 0.68, 0.80, 0.90, 0.95)
  val DefaultBins = 10
  val MinSamplesPerBin = 20L

  /** Interval column names per confidence level (uq_model_v0.py:47-55). */
  val QuantileColumns: Map[Double, (String, String)] = Map(
    0.50 -> ("q_25", "q_75"), 0.68 -> ("q_16", "q_84"),
    0.80 -> ("q_10", "q_90"), 0.90 -> ("q_05", "q_95"),
    0.95 -> ("q_025", "q_975"))

  /** Piecewise-linear isotonic curve (MLlib boundaries/predictions ==
    * sklearn X_thresholds_/y_thresholds_). */
  case class IsotonicCurve(x: Array[Double], y: Array[Double]) {
    /** np.interp semantics: clip outside the boundary range. */
    def interp(v: Double): Double = {
      if (x.isEmpty) return 0.0
      if (v <= x.head) return y.head
      if (v >= x.last) return y.last
      var i = java.util.Arrays.binarySearch(x, v)
      if (i >= 0) y(i)
      else {
        i = -i - 1 // insertion point; 0 < i < x.length here
        val t = (v - x(i - 1)) / (x(i) - x(i - 1))
        y(i - 1) + t * (y(i) - y(i - 1))
      }
    }
  }

  case class UQModelV0(
      confidenceLevels: Seq[Double],
      scaleFactors: Map[String, Double],
      binEdges: Array[Double],
      bins: Seq[IsotonicCurve],
      residualPercentiles: Array[Double]) extends Serializable {

    /** searchsorted(edges, pred, right) − 1, clipped to [0, nbins−1]. */
    private[ml] def binIndex(pred: Double): Int = {
      var i = java.util.Arrays.binarySearch(binEdges, pred)
      if (i >= 0) { // step right over any equal run (side="right")
        while (i < binEdges.length && binEdges(i) == pred) i += 1
      } else i = -i - 1
      math.min(math.max(i - 1, 0), bins.size - 1)
    }

    def expectedResidual(pred: Double, std: Double): Double =
      math.max(bins(binIndex(pred)).interp(std), 0.0)

    /** 1 − percentile-rank of the expected residual, clipped to [0,1]. */
    def confidence(expResidual: Double): Double = {
      var i = java.util.Arrays.binarySearch(residualPercentiles, expResidual)
      if (i >= 0) {
        while (i < residualPercentiles.length && residualPercentiles(i) == expResidual) i += 1
      } else i = -i - 1
      math.min(math.max(1.0 - i.toDouble / residualPercentiles.length, 0.0), 1.0)
    }

    /** Append UQ columns: expected_residual, confidence, q_50 = ŷ and the
      * interval bounds for every calibrated confidence level
      * (uq_model_v0.py:258-341). `df` keeps its id columns — the
      * reference's `query` index passthrough. */
    def predict(df: DataFrame, predCol: String, stdCol: String): DataFrame = {
      val model = this
      val cal = udf { (pred: Double, std: Double) =>
        val er = model.expectedResidual(pred, std)
        (er, model.confidence(er))
      }
      // rows with no usable (pred, std) get NULL scores and intervals —
      // greatest(null, 1e-10) would otherwise emit a zero-width interval
      // (false extreme certainty) exactly where the ensemble gave none;
      // matches v1's unresolved-row semantics. NaN counts as missing too:
      // it passes isNull but crashes interp's binary search.
      val missing = col(predCol).isNull || col(stdCol).isNull ||
        isnan(col(predCol).cast("double")) || isnan(col(stdCol).cast("double"))
      val safeStd = greatest(col(stdCol).cast("double"), lit(1e-10))
      val withCal = df
        .withColumn("__uq", when(missing, lit(null))
          .otherwise(cal(col(predCol).cast("double"), col(stdCol).cast("double"))))
        .withColumn("expected_residual", col("__uq._1"))
        .withColumn("confidence", col("__uq._2"))
        .drop("__uq")
        .withColumn("q_50", col(predCol).cast("double"))
      confidenceLevels.filter(QuantileColumns.contains).foldLeft(withCal) { (d, a) =>
        val q = scaleFactors(f"$a%.2f")
        val (lo, hi) = QuantileColumns(a)
        d.withColumn(lo, when(missing, lit(null))
            .otherwise(col(predCol).cast("double") - lit(q) * safeStd))
          .withColumn(hi, when(missing, lit(null))
            .otherwise(col(predCol).cast("double") + lit(q) * safeStd))
      }
    }

    /** Persist as a one-row parquet table (the Spark-native analogue of
      * the reference's uq_metadata_v0.json). */
    def save(spark: SparkSession, dir: String): Unit =
      writeParams(spark, dir,
        ("confidence_levels", Doubles, confidenceLevels),
        ("scale_factors", ScaleFactorsType, scaleFactorRows(scaleFactors)),
        ("bin_edges", Doubles, binEdges.toSeq),
        ("bins", ArrayType(pair(Doubles, Doubles)),
          bins.map(c => Row(c.x.toSeq, c.y.toSeq))),
        ("residual_percentiles", Doubles, residualPercentiles.toSeq))
  }

  // one-row parameter tables: written on the driver, read back without
  // the schema-inference job (tuple-encoder layout: pairs are `_1`/`_2`
  // structs, as the Dataset writes of earlier builds stored them)
  private val Doubles = ArrayType(DoubleType)
  private def pair(a: DataType, b: DataType) =
    StructType(Seq(StructField("_1", a), StructField("_2", b)))
  private val ScaleFactorsType = ArrayType(pair(StringType, DoubleType))
  private def scaleFactorRows(m: Map[String, Double]): Seq[Row] =
    m.toSeq.sortBy(_._1).map { case (a, q) => Row(a, q) }

  private def writeParams(spark: SparkSession, dir: String,
                          fields: (String, DataType, Any)*): Unit =
    DriverParquet.writeTable(spark, dir,
      StructType(fields.map { case (n, t, _) => StructField(n, t) }),
      Seq(Row.fromSeq(fields.map(_._3))))

  private def readParams(spark: SparkSession, dir: String): Row =
    DriverParquet.read(spark, dir).head()

  /** Fit on out-of-fold columns of `df` (uq_model_v0.py:180-256). */
  def fit(df: DataFrame, yCol: String, predCol: String, stdCol: String,
          confidenceLevels: Seq[Double] = DefaultConfidenceLevels,
          nBins: Int = DefaultBins): UQModelV0 = {
    val y = col(yCol).cast("double")
    val yp = col(predCol).cast("double")
    val std = col(stdCol).cast("double")
    val base = df.select(y.as("y"), yp.as("yp"), std.as("std"))
      .filter(col("y").isNotNull && col("yp").isNotNull && col("std").isNotNull)
      // NaN passes isNotNull but falls through every bin-range comparison
      // → null bin → encoder crash in the grouped PAVA; drop like nulls
      .filter(!isnan(col("y")) && !isnan(col("yp")) && !isnan(col("std")))
      .withColumn("abs_res", abs(col("y") - col("yp")))
      .withColumn("score", col("abs_res") / greatest(col("std"), lit(1e-10)))
      .cache()
    val n = base.count()
    require(n > 0, "UQ.fit needs a non-empty calibration set")

    // split-conformal scale factors: one exact-percentile aggregate for
    // all levels (finite-sample adjusted quantiles)
    val adjusted = confidenceLevels.map(a => math.min(math.ceil((n + 1) * a) / n, 1.0))
    val qRow = base.select(graft.functions.ExactPercentiles
      .exactPercentiles(col("score"), adjusted).as("q")).head()
    val scaleFactors = confidenceLevels.zip(qRow.getSeq[Double](0))
      .map { case (a, q) => f"$a%.2f" -> q }.toMap

    // quantile bin edges over ŷ: linspace percentiles, dedup, ±1e-6 pads
    // (uq_model_v0.py:83-90)
    val probs = (0 to nBins).map(_.toDouble / nBins)
    val rawEdges = base.select(graft.functions.ExactPercentiles
      .exactPercentiles(col("yp"), probs).as("e")).head().getSeq[Double](0)
    val distinctEdges = rawEdges.distinct.sorted
    val unique =
      if (distinctEdges.length < 2) // constant ŷ → one bin around the value
        Array(distinctEdges.head - 1e-6, distinctEdges.head + 1e-6)
      else {
        val a = distinctEdges.toArray
        a(0) -= 1e-6; a(a.length - 1) += 1e-6; a
      }

    // per-bin isotonic std → |residual| with global fallback (<20 rows);
    // nested when-chain must be built right-associatively (otherwise()
    // applies once per chain)
    val binExpr = unique.init.indices.map { i =>
      when(col("yp") >= unique(i) && col("yp") < unique(i + 1), i)
    }.reduceRight((a, b) => a.otherwise(b))
    val binned = base.withColumn("bin", binExpr).cache()
    val counts = binned.groupBy("bin").count().collect()
      .collect { case r if !r.isNullAt(0) => r.getInt(0) -> r.getLong(1) }.toMap
    // ALL per-bin PAVA fits in ONE distributed pass (sequential MLlib
    // fits were ~11 jobs and the dominant cost of this query); the global
    // fallback rides along as bin −1, only when an under-filled bin needs it
    val needGlobal = unique.init.indices
      .exists(i => counts.getOrElse(i, 0L) < MinSamplesPerBin)
    import binned.sparkSession.implicits._
    val perBin = binned.select(col("bin"), col("std"), col("abs_res"))
      .as[(Int, Double, Double)]
    val fitInput =
      if (needGlobal)
        perBin.union(binned.select(lit(-1).as("bin"), col("std"), col("abs_res"))
          .as[(Int, Double, Double)])
      else perBin
    val curveMap = fitInput
      .groupByKey(_._1)
      .mapGroups((bin, it) => (bin, pavaCurve(it.map(t => (t._2, t._3)))))
      .collect().toMap
    val globalCurve = curveMap.getOrElse(-1, IsotonicCurve(Array(0.0), Array(0.0)))
    val curves = unique.init.indices.map { i =>
      if (counts.getOrElse(i, 0L) < MinSamplesPerBin) globalCurve
      else curveMap.getOrElse(i, globalCurve)
    }

    // expected residual on the calibration set → 0..100 percentile table
    val model0 = UQModelV0(confidenceLevels, scaleFactors, unique, curves,
      Array.empty[Double])
    val erUdf = udf((p: Double, s: Double) => model0.expectedResidual(p, s))
    val pcts = binned.select(graft.functions.ExactPercentiles
      .exactPercentiles(erUdf(col("yp"), col("std")), (0 to 100).map(_ / 100.0))
      .as("p")).head().getSeq[Double](0).toArray
    base.unpersist(); binned.unpersist()
    model0.copy(residualPercentiles = pcts)
  }

  /** In-executor PAVA over one bin's (x, y) points: sort by x, average
    * duplicate x, pool adjacent violators, emit block-edge thresholds —
    * the same piecewise curve MLlib/sklearn isotonic produce, with the
    * sklearn y_min=0 clamp. Runs inside mapGroups so every bin fits in
    * one task; bin size is calibration-set/n_bins. */
  private[ml] def pavaCurve(points: Iterator[(Double, Double)]): IsotonicCurve = {
    val raw = points.toArray
    if (raw.isEmpty) return IsotonicCurve(Array(0.0), Array(0.0))
    java.util.Arrays.sort(raw, Ordering.by((p: (Double, Double)) => p._1))
    // collapse duplicate x to (x, meanY, weight)
    val xs = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]
    var i = 0
    while (i < raw.length) {
      var j = i; var sy = 0.0
      while (j < raw.length && raw(j)._1 == raw(i)._1) { sy += raw(j)._2; j += 1 }
      xs += ((raw(i)._1, sy / (j - i), (j - i).toDouble))
      i = j
    }
    // stack-based pool-adjacent-violators: block = (wSum, wySum, xMin, xMax)
    val st = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    xs.foreach { case (x, y, w) =>
      st += Array(w, y * w, x, x)
      while (st.length > 1 &&
          st(st.length - 2)(1) / st(st.length - 2)(0) >= st.last(1) / st.last(0)) {
        val top = st.remove(st.length - 1)
        val prev = st.last
        prev(0) += top(0); prev(1) += top(1); prev(3) = top(3)
      }
    }
    val bx = scala.collection.mutable.ArrayBuffer.empty[Double]
    val by = scala.collection.mutable.ArrayBuffer.empty[Double]
    st.foreach { b =>
      val v = math.max(b(1) / b(0), 0.0) // sklearn y_min = 0 clamp
      bx += b(2); by += v
      if (b(3) > b(2)) { bx += b(3); by += v }
    }
    IsotonicCurve(bx.toArray, by.toArray)
  }

  /** UQ model v1 (reference: uq_model_v1.py:45-407): a RandomForest
    * error model over the neighborhood feature vector
    * [prediction, prediction_std, knn_distance, knn_target_std,
    * local_pred_gap] (the [[graft.proximity.Analytics.residualFeatures]]
    * output), with NORMALIZED conformal intervals — the interval width is
    * q_α × expected_residual, so locally-hard regions get wider bands
    * (Lei et al. 2018 locally-adaptive conformal). Confidence is the
    * same percentile-rank as v0.
    *
    * Spark-first: the error model is MLlib's distributed RF; feature
    * NaN-fills mirror `_stack_features` (knn_distance→0.5, others→0);
    * rows the proximity could not resolve keep q_50 but get null
    * confidence/intervals (uq_model_v1.py:284-295).
    */
  case class UQModelV1(
      confidenceLevels: Seq[Double],
      scaleFactors: Map[String, Double],
      residualPercentiles: Array[Double],
      errorModel: RandomForestRegressionModel)
    extends Serializable {

    /** 1 − percentile-rank, same rule as v0. */
    def confidence(expResidual: Double): Double = {
      var i = java.util.Arrays.binarySearch(residualPercentiles, expResidual)
      if (i >= 0) {
        while (i < residualPercentiles.length && residualPercentiles(i) == expResidual) i += 1
      } else i = -i - 1
      math.min(math.max(1.0 - i.toDouble / residualPercentiles.length, 0.0), 1.0)
    }

    /** Append expected_residual / confidence / interval columns to a
      * frame carrying prediction, std, and the knn feature columns. */
    def predict(df: DataFrame, predCol: String, stdCol: String): DataFrame = {
      val assembled = UQ.assembleV1(df, predCol, stdCol)
      val missing = col("knn_distance").isNull || col("knn_target_std").isNull
      val model = this
      val confUdf = udf((er: Double) => model.confidence(er))
      val withEr = errorModel.setPredictionCol("__er").transform(assembled)
        .withColumn("expected_residual", when(missing, lit(null)).otherwise(col("__er")))
        .withColumn("confidence",
          when(missing, lit(null)).otherwise(confUdf(col("__er"))))
        .withColumn("q_50", col(predCol).cast("double"))
      confidenceLevels.filter(QuantileColumns.contains).foldLeft(withEr) { (d, a) =>
        val q = scaleFactors(f"$a%.2f")
        val (lo, hi) = QuantileColumns(a)
        d.withColumn(lo, when(missing, lit(null))
            .otherwise(col(predCol).cast("double") - lit(q) * col("__er")))
          .withColumn(hi, when(missing, lit(null))
            .otherwise(col(predCol).cast("double") + lit(q) * col("__er")))
      }.drop("__er", "__uq_features")
    }

    def save(spark: SparkSession, dir: String): Unit = {
      GraftModelIO.save(errorModel, s"$dir/error_model")
      writeParams(spark, s"$dir/params",
        ("confidence_levels", Doubles, confidenceLevels),
        ("scale_factors", ScaleFactorsType, scaleFactorRows(scaleFactors)),
        ("residual_percentiles", Doubles, residualPercentiles.toSeq))
    }
  }

  /** `_stack_features` (uq_model_v1.py:393-399): canonical order +
    * NaN fills, as an MLlib features vector. */
  private[ml] def assembleV1(df: DataFrame, predCol: String, stdCol: String): DataFrame = {
    val filled = df
      .withColumn("__f_pred", col(predCol).cast("double"))
      .withColumn("__f_std", col(stdCol).cast("double"))
      .withColumn("__f_kd", coalesce(col("knn_distance").cast("double"), lit(0.5)))
      .withColumn("__f_kts", coalesce(col("knn_target_std").cast("double"), lit(0.0)))
      .withColumn("__f_gap", coalesce(col("local_pred_gap").cast("double"), lit(0.0)))
    new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("__f_pred", "__f_std", "__f_kd", "__f_kts", "__f_gap"))
      .setOutputCol("__uq_features").setHandleInvalid("keep")
      .transform(filled)
      .drop("__f_pred", "__f_std", "__f_kd", "__f_kts", "__f_gap")
  }

  /** Fit v1 on out-of-fold rows that already carry the residual features
    * (compose with Analytics.residualFeatures for the knn columns). */
  def fitV1(df: DataFrame, yCol: String, predCol: String, stdCol: String,
            confidenceLevels: Seq[Double] = DefaultConfidenceLevels,
            numTrees: Int = 50, maxDepth: Int = 8, seed: Long = 42L): UQModelV1 = {
    val assembled = assembleV1(df, predCol, stdCol)
      .withColumn("__abs_res", abs(col(yCol).cast("double") - col(predCol).cast("double")))
      .filter(col("__abs_res").isNotNull)
      // NaN y/pred/std pass isNotNull but would poison the RF error-model
      // labels and the conformal scale-factor percentiles (same guard as
      // fit() for v0 above)
      .filter(!isnan(col("__abs_res")) && !isnan(col(stdCol).cast("double")))
      .cache()
    val n = assembled.count()
    require(n > 0, "UQ.fitV1 needs a non-empty calibration set")
    val rf = new org.apache.spark.ml.regression.RandomForestRegressor()
      .setFeaturesCol("__uq_features").setLabelCol("__abs_res")
      .setPredictionCol("__er") // "prediction" would collide with the data
      .setNumTrees(numTrees).setMaxDepth(maxDepth).setSeed(seed)
      .fit(assembled)
    val withEr = rf.transform(assembled)
      .withColumn("__score", col("__abs_res") / greatest(col("__er"), lit(1e-10)))
      .cache()
    val adjusted = confidenceLevels.map(a => math.min(math.ceil((n + 1) * a) / n, 1.0))
    val qRow = withEr.select(graft.functions.ExactPercentiles
      .exactPercentiles(col("__score"), adjusted).as("q")).head()
    val scaleFactors = confidenceLevels.zip(qRow.getSeq[Double](0))
      .map { case (a, q) => f"$a%.2f" -> q }.toMap
    val pcts = withEr.select(graft.functions.ExactPercentiles
      .exactPercentiles(col("__er"), (0 to 100).map(_ / 100.0)).as("p"))
      .head().getSeq[Double](0).toArray
    assembled.unpersist(); withEr.unpersist()
    UQModelV1(confidenceLevels, scaleFactors, pcts, rf)
  }

  /** Load a model saved by [[UQModelV1.save]]. */
  def loadV1(spark: SparkSession, dir: String): UQModelV1 = {
    val r = readParams(spark, s"$dir/params")
    UQModelV1(
      r.getSeq[Double](r.fieldIndex("confidence_levels")),
      r.getSeq[Row](r.fieldIndex("scale_factors"))
        .map(p => p.getString(0) -> p.getDouble(1)).toMap,
      r.getSeq[Double](r.fieldIndex("residual_percentiles")).toArray,
      GraftModelIO.load(RandomForestRegressionModel.read, s"$dir/error_model"))
  }

  // ────────────────────────── UQ v2 ──────────────────────────

  /** Neighbor-target quantiles v2 emits (uq_model_v2.py:55-68). */
  val V2Quantiles: Seq[(Double, String)] = Seq(
    0.025 -> "q_025", 0.05 -> "q_05", 0.10 -> "q_10", 0.16 -> "q_16",
    0.25 -> "q_25", 0.50 -> "q_50", 0.75 -> "q_75", 0.84 -> "q_84",
    0.90 -> "q_90", 0.95 -> "q_95", 0.975 -> "q_975")

  /** UQ model v2: pure applicability-domain confidence from proximity
    * neighbors — no model fit, no ensemble std
    * (reference: uq_model_v2.py:1-360).
    * `confidence = (1 − distance_pct) · (1 − variance_pct)` where each
    * percentile ranks the query's neighborhood stat against the training
    * set's empirical 0..100-percentile distribution; intervals are the
    * neighbors' own target quantiles (centered on the neighbor median,
    * deliberately NOT on the model prediction).
    *
    * Everything is one grouped aggregate + literal-array ranking
    * expressions — fully relational, no UDF, oracle-checkable (q71).
    */
  case class UQModelV2(
      k: Int,
      distancePercentiles: Array[Double],
      variancePercentiles: Array[Double]) extends Serializable {

    def save(spark: SparkSession, dir: String): Unit =
      writeParams(spark, dir,
        ("k", IntegerType, k),
        ("distance_percentiles", Doubles, distancePercentiles.toSeq),
        ("variance_percentiles", Doubles, variancePercentiles.toSeq))

    /** AD scores + neighbor-derived intervals for every query id present
      * in `neighbors`. Queries the proximity dropped stay present with
      * null scores (reindex semantics, uq_model_v2.py:330-335).
      * `statsRound` must match the value used at fit time. */
    def predict(queries: DataFrame, neighbors: DataFrame, targets: DataFrame,
                idCol: String, targetCol: String,
                statsRound: Option[Int] = None): DataFrame = {
      val stats = UQ.v2Stats(neighbors, targets, idCol, targetCol, k, statsRound)
      def rankPct(v: org.apache.spark.sql.Column, arr: Array[Double]) =
        least(size(filter(array(arr.map(lit).toIndexedSeq: _*), p => p <= v))
          / lit(arr.length.toDouble), lit(1.0))
      val scored = stats
        .withColumn("distance_percentile",
          rankPct(col("neighbor_distance"), distancePercentiles))
        .withColumn("variance_percentile",
          when(col("neighbor_target_std").isNull, lit(1.0)) // <2 neighbors → worst case
            .otherwise(rankPct(col("neighbor_target_std"), variancePercentiles)))
        .withColumn("confidence", greatest(lit(0.0),
          (lit(1.0) - col("distance_percentile")) * (lit(1.0) - col("variance_percentile"))))
      queries.select(col(idCol).as("id")).distinct()
        .join(scored, Seq("id"), "left")
        .select((Seq("id", "confidence", "neighbor_distance", "neighbor_target_mean",
          "neighbor_target_std", "distance_percentile", "variance_percentile") ++
          V2Quantiles.map(_._2)).map(col): _*)
    }
  }

  /** Per-query neighborhood stats: k unique nearest neighbors (dedup
    * keep-nearest, then top-k), mean distance, neighbor-target mean/std,
    * and the 11 neighbor-target quantiles — ONE grouped aggregate after
    * two windowed ranks (uq_model_v2.py:70-77, 304-314). */
  /** `roundTo`: optionally round every stat (Some(6) in oracle-compared
    * queries) — ulp-level summation-order differences between engines
    * otherwise flip percentile-rank boundaries. */
  private[ml] def v2Stats(neighbors: DataFrame, targets: DataFrame,
                          idCol: String, targetCol: String, k: Int,
                          roundTo: Option[Int] = None): DataFrame = {
    val dedup = TopK(neighbors, Seq(col("id"), col("neighbor_id")), Seq(asc("distance")), 1)
    val topk = TopK(dedup, Seq(col("id")), Seq(asc("distance"), asc("neighbor_id")), k)
    val nt = targets.select(col(idCol).as("neighbor_id"),
      col(targetCol).cast("double").as("__nt"))
    val raw = topk.join(nt, Seq("neighbor_id"))
      .groupBy("id")
      .agg(avg("distance").as("neighbor_distance"),
        avg("__nt").as("neighbor_target_mean"),
        stddev("__nt").as("neighbor_target_std"),
        graft.functions.ExactPercentiles
          .exactPercentiles(col("__nt"), V2Quantiles.map(_._1)).as("__q"))
      .select(col("*") +: V2Quantiles.zipWithIndex.map { case ((_, name), i) =>
        element_at(col("__q"), i + 1).as(name) }: _*)
      .drop("__q")
    roundTo match {
      case None => raw
      case Some(p) =>
        val statCols = Seq("neighbor_distance", "neighbor_target_mean",
          "neighbor_target_std") ++ V2Quantiles.map(_._2)
        statCols.foldLeft(raw)((d, c) => d.withColumn(c, round(col(c), p)))
    }
  }

  /** Fit v2: 0..100 percentiles of (mean neighbor distance, neighbor
    * target std) across the training set's own neighborhoods
    * (uq_model_v2.py:175-238). Null stats (e.g. <2 neighbors) are
    * dropped like the reference's dropna. */
  def fitV2(neighbors: DataFrame, targets: DataFrame, idCol: String,
            targetCol: String, k: Int = 10,
            statsRound: Option[Int] = None): UQModelV2 = {
    val stats = v2Stats(neighbors, targets, idCol, targetCol, k, statsRound).cache()
    val probs = (0 to 100).map(_ / 100.0)
    val row = stats.select(
      graft.functions.ExactPercentiles
        .exactPercentiles(col("neighbor_distance"), probs).as("dp"),
      graft.functions.ExactPercentiles
        .exactPercentiles(col("neighbor_target_std"), probs).as("vp")).head()
    stats.unpersist()
    require(!row.isNullAt(0) && !row.isNullAt(1),
      "UQModelV2 fit produced no valid neighborhood stats — need ≥ k+1 rows")
    // with statsRound, the INTERPOLATED percentile values must be rounded
    // too — engines compute the lerp with different expression shapes, and
    // a 1-ulp difference breaks exact-equality rank boundaries
    def maybeRound(a: Array[Double]) = statsRound match {
      case None => a
      case Some(p) => // HALF_UP like SQL ROUND on both engines
        a.map(v => BigDecimal(v).setScale(p, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    UQModelV2(k, maybeRound(row.getSeq[Double](0).toArray),
      maybeRound(row.getSeq[Double](1).toArray))
  }

  /** Load a model saved by [[UQModelV2.save]]. */
  def loadV2(spark: SparkSession, dir: String): UQModelV2 = {
    val r = readParams(spark, dir)
    UQModelV2(r.getInt(r.fieldIndex("k")),
      r.getSeq[Double](r.fieldIndex("distance_percentiles")).toArray,
      r.getSeq[Double](r.fieldIndex("variance_percentiles")).toArray)
  }

  /** Load a model saved by [[UQModelV0.save]]. */
  def load(spark: SparkSession, dir: String): UQModelV0 = {
    val r = readParams(spark, dir)
    UQModelV0(
      r.getSeq[Double](r.fieldIndex("confidence_levels")),
      r.getSeq[Row](r.fieldIndex("scale_factors"))
        .map(p => p.getString(0) -> p.getDouble(1)).toMap,
      r.getSeq[Double](r.fieldIndex("bin_edges")).toArray,
      r.getSeq[Row](r.fieldIndex("bins"))
        .map(b => IsotonicCurve(b.getSeq[Double](0).toArray, b.getSeq[Double](1).toArray)),
      r.getSeq[Double](r.fieldIndex("residual_percentiles")).toArray)
  }
}
