package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.{GBTClassifier, LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.{PCA, StandardScaler, StringIndexer, StringIndexerModel, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.param.IntParam
import org.apache.spark.ml.regression.{GBTRegressor, LinearRegression, RandomForestRegressor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** ML loop: MLlib pipelines replacing the reference's SageMaker
  * train/deploy/infer cycle (reference: src/workbench/core/transforms/
  * features_to_model/features_to_model.py, model_to_endpoint/,
  * endpoint_core.py) — training and inference stay in-cluster, so the
  * reference's 100-row HTTP batching and error-isolation machinery
  * disappears entirely.
  *
  * The model loop's decisions live here once: the estimator per (kind,
  * algo) and its knob table ([[trainRegressor]], [[trainClassifier]]),
  * the fit for a registered model type ([[train]]), the fitted label
  * indexer's labels ([[classLabels]]) and the prediction-to-label
  * mapping ([[labelPredictions]]). Onboarding, cross-fold refits and HPO
  * trials all fit and label through them.
  */
object Models {

  /** Train a regression pipeline (assemble → scale → estimator).
    * Returns the fitted model; `model.transform(df)` is the inference
    * path (no endpoint, no batching).
    *
    * `algo` picks the estimator — the reference's default model scripts
    * are XGBoost tree ensembles (features_to_model.py:162-211,
    * model_scripts/), so the tree family is first-class here too:
    * "gbt" (gradient-boosted trees, the XGBoost analogue), "rf"
    * (random forest), "linear" (the deterministic default that anchors
    * the oracle checks). Tree fits are seeded — reproducible within
    * MLlib, though coordinates are engine-specific (rows-only checks).
    *
    * `params` are explicit hyperparameters — the estimator-side half of
    * the HPO trial contract (reference: the per-framework knob
    * application in src/workbench/training/xgb_hpo.py:36-52 merged into
    * the fit by hpo_runner.py:81-89 `merge_config`). Knob names follow
    * MLlib param names, integer knobs are floored, and unknown knobs
    * fail loudly so a typo'd search space can't silently search
    * nothing. */
  def trainRegressor(df: DataFrame, features: Seq[String], target: String,
                     algo: String = "linear", params: Map[String, Double] = Map.empty,
                     seed: Long = 42L): PipelineModel =
    new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(features.toArray).setOutputCol("__features"),
      new StandardScaler().setInputCol("__features").setOutputCol("__scaled"),
      estimator("regressor", algo, target, params, seed))).fit(df)

  /** Train a classification pipeline (label-index → assemble → estimator).
    * `algo`: "logistic" (default; also accepts "linear" as the alias the
    * regressor side uses), "rf", or "gbt" (binary targets only — MLlib's
    * GBTClassifier limit, matching XGBoost's binary:logistic default).
    * `params` as for [[trainRegressor]]. */
  def trainClassifier(df: DataFrame, features: Seq[String], target: String,
                      algo: String = "logistic", params: Map[String, Double] = Map.empty,
                      seed: Long = 42L): PipelineModel =
    new Pipeline().setStages(Array(
      new StringIndexer().setInputCol(target).setOutputCol("__label"),
      new VectorAssembler().setInputCols(features.toArray).setOutputCol("__features"),
      estimator("classifier", algo, target, params, seed))).fit(df)

  /** Fit the standard pipeline for a registered model type: "classifier"
    * trains [[trainClassifier]], anything else [[trainRegressor]]. */
  def train(df: DataFrame, modelType: String, features: Seq[String], target: String,
            algo: String): PipelineModel = modelType match {
    case "classifier" => trainClassifier(df, features, target, algo)
    case _ => trainRegressor(df, features, target, algo)
  }

  /** Tunable knobs per estimator family, by MLlib param name. */
  private val Knobs: Map[String, Set[String]] = Map(
    "gbt" -> Set("maxDepth", "maxIter", "stepSize", "subsamplingRate", "minInstancesPerNode"),
    "rf" -> Set("maxDepth", "numTrees", "subsamplingRate", "minInstancesPerNode"),
    "linear" -> Set("regParam", "elasticNetParam"),
    "logistic" -> Set("regParam", "elasticNetParam", "maxIter"))

  /** The final pipeline stage: one constructor per (kind, algo), the
    * kind's column wiring (a regressor reads the scaled vector and the
    * raw target, a classifier the assembled vector and the indexed
    * label), then the family's knobs from `params`. */
  private def estimator(kind: String, algo: String, target: String,
                        params: Map[String, Double], seed: Long): PipelineStage = {
    val (family, est): (String, PipelineStage) = (kind, algo) match {
      case ("regressor", "linear") => ("linear", new LinearRegression())
      case ("regressor", "rf") => ("rf", new RandomForestRegressor().setSeed(seed))
      case ("regressor", "gbt") => ("gbt", new GBTRegressor().setSeed(seed))
      case ("regressor", other) => throw new IllegalArgumentException(
        s"unknown regressor algo '$other' (linear | rf | gbt)")
      case (_, "logistic" | "linear") => ("logistic", new LogisticRegression())
      case (_, "rf") => ("rf", new RandomForestClassifier().setSeed(seed))
      case (_, "gbt") => ("gbt", new GBTClassifier().setSeed(seed))
      case (_, other) => throw new IllegalArgumentException(
        s"unknown classifier algo '$other' (logistic | rf | gbt)")
    }
    val wiring =
      if (kind == "regressor")
        Seq("featuresCol" -> "__scaled", "labelCol" -> target, "predictionCol" -> "prediction")
      else Seq("featuresCol" -> "__features", "labelCol" -> "__label",
        "predictionCol" -> "prediction", "probabilityCol" -> "pred_proba")
    wiring.foreach { case (k, v) => est.set(est.getParam(k), v) }
    params.foreach { case (k, v) =>
      if (!Knobs(family).contains(k))
        throw new IllegalArgumentException(s"unknown $family knob '$k'")
      val p = est.getParam(k)
      est.set(p, if (p.isInstanceOf[IntParam]) Int.box(v.toInt) else Double.box(v))
    }
    est
  }

  /** The fitted label indexer's labels in index order; empty for a
    * pipeline without one (every regressor). */
  def classLabels(pipeline: PipelineModel): Seq[String] =
    pipeline.stages.collectFirst {
      case si: StringIndexerModel => si.labelsArray(0).toSeq
    }.getOrElse(Nil)

  /** A fitted classifier's output in label terms, given its pipeline's
    * [[classLabels]]: one `<label>_proba` column per label from the
    * `pred_proba` vector, and a numeric `prediction` index replaced by
    * its label (an index always falls inside its own pipeline's
    * labels). `confidence` keeps `pred_proba` and adds the rowwise max
    * probability; without it `pred_proba` is dropped. */
  def labelPredictions(out: DataFrame, labels: Seq[String],
                       confidence: Boolean): DataFrame = {
    val expanded =
      if (!out.columns.contains("pred_proba")) out
      else {
        val arr = out.withColumn("__proba", vector_to_array(col("pred_proba")))
        if (confidence) probaColumns(arr, "__proba", labels).drop("__proba")
        else expandProba(arr, "__proba", labels).drop("__proba", "pred_proba")
      }
    if (labels.nonEmpty && expanded.schema("prediction").dataType.isInstanceOf[NumericType])
      expanded.withColumn("prediction", element_at(
        array(labels.map(lit): _*), col("prediction").cast("int") + 1))
    else expanded
  }

  /** Per-feature importance from a fitted pipeline — the model-side half
    * of the reference's SHAP read-back surface (reference:
    * utils/shap_utils.py:1-60 retrieves per-feature importance artifacts
    * published at training time; model_scripts compute them in the
    * training container). MLlib equivalents: tree ensembles expose
    * Gini/impurity `featureImportances`; linear families expose signed
    * coefficients (rank by |value|). Indices map 1:1 to the
    * VectorAssembler input order, i.e. `features`. None when the final
    * stage has no importance notion (e.g. KMeans). */
  def featureImportance(pipeline: PipelineModel, features: Seq[String]): Option[Seq[(String, Double)]] = {
    import org.apache.spark.ml.classification.{GBTClassificationModel, LogisticRegressionModel, RandomForestClassificationModel}
    import org.apache.spark.ml.regression.{GBTRegressionModel, LinearRegressionModel, RandomForestRegressionModel}
    val vec: Option[Seq[Double]] = pipeline.stages.reverse.collectFirst {
      case m: GBTRegressionModel => m.featureImportances.toArray.toSeq
      case m: RandomForestRegressionModel => m.featureImportances.toArray.toSeq
      case m: GBTClassificationModel => m.featureImportances.toArray.toSeq
      case m: RandomForestClassificationModel => m.featureImportances.toArray.toSeq
      case m: LinearRegressionModel => m.coefficients.toArray.toSeq
      case m: LogisticRegressionModel =>
        if (m.numClasses == 2) m.coefficients.toArray.toSeq
        else { // multiclass: mean |coefficient| per feature across classes
          val mat = m.coefficientMatrix
          (0 until mat.numCols).map(j =>
            (0 until mat.numRows).map(i => math.abs(mat(i, j))).sum / mat.numRows)
        }
    }
    vec.filter(_.size == features.size).map(features.zip(_))
  }

  /** smart_aggregator: KMeans-cluster rows toward ~targetRows clusters,
    * then per-cluster mean(numeric) / first(other) + aggregation_count
    * (reference: src/workbench/algorithms/dataframe/smart_aggregator.py:
    * 13-94). Fully distributed: MLlib KMeans + one groupBy.
    */
  def smartAggregate(df: DataFrame, numericCols: Seq[String], targetRows: Int,
                     seed: Long = 42L): DataFrame = {
    val assembled = new VectorAssembler().setInputCols(numericCols.toArray)
      .setOutputCol("__features").setHandleInvalid("skip").transform(df)
    val k = math.max(2, math.min(targetRows, 1000))
    val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("__features")
      .setPredictionCol("__cluster").fit(assembled)
    val clustered = model.transform(assembled)
    val otherCols = df.columns.filterNot(numericCols.contains).toSeq
    val aggs = numericCols.map(c => avg(col(c)).as(c)) ++
      otherCols.map(c => first(col(c)).as(c)) :+ count(lit(1)).as("aggregation_count")
    clustered.groupBy("__cluster").agg(aggs.head, aggs.tail: _*).drop("__cluster")
  }

  /** Projection2D: PCA to (x, y) — the distributed projection the
    * reference offers alongside driver-side UMAP/TSNE
    * (reference: src/workbench/algorithms/dataframe/projection_2d.py:
    * 17-166; PCA is the scale path, UMAP/TSNE stay sampled/driver-side
    * by design there too).
    */
  def projection2D(df: DataFrame, numericCols: Seq[String]): DataFrame = {
    val assembled = new VectorAssembler().setInputCols(numericCols.toArray)
      .setOutputCol("__features").setHandleInvalid("skip").transform(df)
    val scaled = new StandardScaler().setInputCol("__features").setOutputCol("__scaled")
      .setWithMean(true).fit(assembled).transform(assembled)
    val pca = new PCA().setK(2).setInputCol("__scaled").setOutputCol("__pc").fit(scaled)
    pca.transform(scaled).withColumn("__arr", vector_to_array(col("__pc")))
      .withColumn("x", col("__arr")(0)).withColumn("y", col("__arr")(1))
      .drop("__features", "__scaled", "__pc", "__arr")
  }

  /** Residual-based uncertainty intervals from KNN neighborhood stats —
    * the core of the reference's UQ model family (reference:
    * src/workbench/algorithms/dataframe/uq_model_v{0,1,2}.py): the
    * interval around a prediction is ±z × the neighborhood target std,
    * floored by the global residual std so sparse neighborhoods don't
    * collapse to zero width.
    */
  def uqIntervals(residualFeatures: DataFrame, z: Double = 1.96): DataFrame = {
    val gsRow = residualFeatures
      .agg(stddev(col("target") - col("prediction"))).head()
    val globalStd = if (gsRow.isNullAt(0)) 0.0 else gsRow.getDouble(0)
    val width = greatest(coalesce(col("knn_target_std"), lit(globalStd)), lit(globalStd)) * z
    residualFeatures
      .withColumn("pred_lower", col("prediction") - width)
      .withColumn("pred_upper", col("prediction") + width)
      .withColumn("interval_width", width * 2)
  }

  /** Expand a probability array column into per-label columns
    * (reference: src/workbench/utils/pandas_utils.py:1045-1075). */
  def expandProba(df: DataFrame, probaCol: String, labels: Seq[String]): DataFrame =
    labels.zipWithIndex.foldLeft(df) { case (d, (l, i)) =>
      d.withColumn(s"${l}_proba", col(probaCol).getItem(i))
    }

  /** Rowwise max-probability / confidence
    * (reference: pandas_utils.py:270-307). */
  def withConfidence(df: DataFrame, probaCol: String): DataFrame =
    df.withColumn("confidence", array_max(col(probaCol)))

  /** [[expandProba]] then [[withConfidence]] over one array column. */
  def probaColumns(df: DataFrame, probaCol: String, labels: Seq[String]): DataFrame =
    withConfidence(expandProba(df, probaCol, labels), probaCol)

  /** Per-task loss weights inversely proportional to non-null/non-NaN
    * target coverage, mean-normalized to 1 — equalizes each task's
    * gradient contribution in a multi-task fit
    * (reference: utils/multi_task.py:12-46). ONE aggregate pass for all
    * tasks. Only for symmetric setups; a primary+auxiliary setup wants
    * manual primary-favored weights instead (see the reference note). */
  def inverseCountTaskWeights(df: DataFrame, targetCols: Seq[String]): Seq[Double] = {
    require(targetCols.nonEmpty, "inverseCountTaskWeights: no target columns")
    val aggs = targetCols.map(c =>
      count(when(col(c).isNotNull && !isnan(col(c).cast("double")), 1)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val counts = targetCols.indices.map(row.getLong(_).toDouble)
    require(counts.forall(_ > 0),
      s"All tasks must have at least one non-NaN row; got counts $counts")
    val inv = counts.map(1.0 / _)
    val mean = inv.sum / inv.size
    inv.map(_ / mean)
  }
}
