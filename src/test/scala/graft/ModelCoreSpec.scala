package graft

import graft.ml.{Hpo, Models}
import graft.text.Doremi
import org.apache.spark.ml.{Model, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.{GBTClassifier, LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.regression.{GBTRegressor, LinearRegression, RandomForestRegressor}
import org.apache.spark.sql.functions._

/** The model loop's shared core in `ml/Models`: one estimator builder
  * per (kind, algo) with one knob table per algo, one fit by model type,
  * one label read and one prediction-to-label mapping — and a guard that
  * keeps copies of them out of the rest of `src/main`. */
class ModelCoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val reg = (1 to 40).map(i => (i.toDouble, (i % 7).toDouble, i * 2.0 + 1))
    .toDF("x", "z", "y")
  private lazy val cls = (1 to 40).map(i => (i.toDouble, (i % 7).toDouble,
    if (i <= 25) "low" else "high")).toDF("x", "z", "cls")

  /** Every param value of a stage by name (uid-free). */
  private def paramsOf(stage: PipelineStage): Map[String, Any] =
    stage.extractParamMap().toSeq.map(pp => pp.param.name -> pp.value).toMap

  /** The estimator a fitted pipeline's final stage came from. */
  private def built(p: PipelineModel): PipelineStage =
    p.stages.last.asInstanceOf[Model[_]].parent

  test("the default-params path builds the estimator each algo built before") {
    // the estimators as the per-algo trainers wrote them out by hand
    val regressors = Seq(
      "linear" -> new LinearRegression().setFeaturesCol("__scaled")
        .setLabelCol("y").setPredictionCol("prediction"),
      "rf" -> new RandomForestRegressor().setSeed(42L)
        .setFeaturesCol("__scaled").setLabelCol("y").setPredictionCol("prediction"),
      "gbt" -> new GBTRegressor().setSeed(42L)
        .setFeaturesCol("__scaled").setLabelCol("y").setPredictionCol("prediction"))
    val classifiers = Seq(
      "logistic" -> new LogisticRegression().setFeaturesCol("__features")
        .setLabelCol("__label").setPredictionCol("prediction").setProbabilityCol("pred_proba"),
      "linear" -> new LogisticRegression().setFeaturesCol("__features")
        .setLabelCol("__label").setPredictionCol("prediction").setProbabilityCol("pred_proba"),
      "rf" -> new RandomForestClassifier().setSeed(42L).setFeaturesCol("__features")
        .setLabelCol("__label").setPredictionCol("prediction").setProbabilityCol("pred_proba"),
      "gbt" -> new GBTClassifier().setSeed(42L).setFeaturesCol("__features")
        .setLabelCol("__label").setPredictionCol("prediction").setProbabilityCol("pred_proba"))
    regressors.foreach { case (algo, want) =>
      val got = built(Models.trainRegressor(reg, Seq("x", "z"), "y", algo))
      assert(paramsOf(got) == paramsOf(want), s"regressor $algo")
    }
    classifiers.foreach { case (algo, want) =>
      val got = built(Models.trainClassifier(cls, Seq("x", "z"), "cls", algo))
      assert(paramsOf(got) == paramsOf(want), s"classifier $algo")
    }
  }

  test("knobs set MLlib params by name; unknown algos and knobs keep their messages") {
    val g = built(Models.trainRegressor(reg, Seq("x"), "y", "gbt",
      Map("maxDepth" -> 3.7, "maxIter" -> 4.0, "stepSize" -> 0.2)))
    assert(paramsOf(g)("maxDepth") == 3 && paramsOf(g)("maxIter") == 4 &&
      paramsOf(g)("stepSize") == 0.2)
    val r = built(Models.trainClassifier(cls, Seq("x"), "cls", "rf",
      Map("numTrees" -> 5.0, "subsamplingRate" -> 0.5)))
    assert(paramsOf(r)("numTrees") == 5 && paramsOf(r)("subsamplingRate") == 0.5)
    val l = built(Models.trainClassifier(cls, Seq("x"), "cls", "linear",
      Map("regParam" -> 0.1, "maxIter" -> 7.0)))
    assert(paramsOf(l)("regParam") == 0.1 && paramsOf(l)("maxIter") == 7)

    def message(f: => Any): String = intercept[IllegalArgumentException](f).getMessage
    assert(message(Models.trainRegressor(reg, Seq("x"), "y", "logistic")) ==
      "unknown regressor algo 'logistic' (linear | rf | gbt)")
    assert(message(Models.trainClassifier(cls, Seq("x"), "cls", "xgb")) ==
      "unknown classifier algo 'xgb' (logistic | rf | gbt)")
    Seq(("regressor", "gbt", "numTrees", "unknown gbt knob 'numTrees'"),
        ("regressor", "rf", "stepSize", "unknown rf knob 'stepSize'"),
        ("regressor", "linear", "maxIter", "unknown linear knob 'maxIter'"),
        ("classifier", "linear", "maxDepth", "unknown logistic knob 'maxDepth'"),
        ("classifier", "gbt", "numTrees", "unknown gbt knob 'numTrees'"),
        ("classifier", "rf", "regParam", "unknown rf knob 'regParam'"))
      .foreach { case (kind, algo, knob, want) =>
        val got =
          if (kind == "regressor") message(Models.trainRegressor(reg, Seq("x"), "y", algo, Map(knob -> 1.0)))
          else message(Models.trainClassifier(cls, Seq("x"), "cls", algo, Map(knob -> 1.0)))
        assert(got == want)
      }
  }

  test("train dispatches on model type; classLabels reads the fitted indexer") {
    val c = Models.train(cls, "classifier", Seq("x"), "cls", "linear")
    assert(Models.classLabels(c) == Seq("low", "high")) // frequency order
    val r = Models.train(reg, "regressor", Seq("x"), "y", "linear")
    assert(Models.classLabels(r).isEmpty)
    assert(r.stages.last.isInstanceOf[org.apache.spark.ml.regression.LinearRegressionModel])
  }

  test("labelPredictions maps indices to labels and expands the proba vector") {
    val p = Models.trainClassifier(cls, Seq("x"), "cls")
    val labels = Models.classLabels(p)
    val out = p.transform(cls)
    // the index→label mapping the HPO classifier trial used to build
    val whenChain = labels.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (l, i)) => when(col("prediction") === i.toDouble, lit(l)).otherwise(acc)
    }
    val want = out.select(col("x"), whenChain.as("prediction")).orderBy("x").collect().toSeq

    val kept = Models.labelPredictions(out, labels, confidence = true)
    assert(kept.select("x", "prediction").orderBy("x").collect().toSeq == want)
    assert(Seq("pred_proba", "low_proba", "high_proba", "confidence").forall(kept.columns.contains))
    assert(!kept.columns.contains("__proba"))
    val row = kept.orderBy("x").head()
    assert(row.getAs[Double]("confidence") ==
      math.max(row.getAs[Double]("low_proba"), row.getAs[Double]("high_proba")))

    val dropped = Models.labelPredictions(out, labels, confidence = false)
    assert(dropped.select("x", "prediction").orderBy("x").collect().toSeq == want)
    assert(Seq("low_proba", "high_proba").forall(dropped.columns.contains))
    assert(Seq("pred_proba", "confidence", "__proba").forall(c => !dropped.columns.contains(c)))
  }

  test("trialsDf and Doremi weights are local relations: collecting them runs no job") {
    val res = Hpo.evaluateConfigs(Seq(Map("a" -> 3.0), Map("a" -> 1.0), Map("a" -> 2.0)))(_("a"))
    val trials = Hpo.trialsDf(spark, res)
    var rows = Array.empty[org.apache.spark.sql.Row]
    assert(jobsDuring { rows = trials.collect() } == 0)
    assert(rows.map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getBoolean(3))).toSeq ==
      Seq((0, 3.0, 3.0, false), (1, 1.0, 1.0, true), (2, 2.0, 2.0, false)))

    val w = Doremi.weights(Seq(("b", 0.5), ("a", 0.1)).toDF("domain", "excess"),
      "domain", "excess")
    var ws = Array.empty[org.apache.spark.sql.Row]
    assert(jobsDuring { ws = w.collect() } == 0)
    assert(ws.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(math.abs(ws.map(_.getDouble(1)).sum - 1.0) < 1e-12)
  }

  test("only ml/Models.scala reads indexer labels, expands probas or fits by model type") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    // a `modelType` match whose cases call the per-kind trainers
    val dispatch = """(?s)modelType\s+match\s*\{[^}]*train(Classifier|Regressor)""".r
    val offenders = files(root).filter(_.getName.endsWith(".scala"))
      .map(f => root.toPath.relativize(f.toPath).toString ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      .filter(_._1 != "graft/ml/Models.scala")
      .flatMap { case (path, src) =>
        Seq("labelsArray", "StringIndexerModel", "Models.expandProba")
          .filter(src.contains)
          .++(dispatch.findFirstIn(src).map(_ => "modelType dispatch"))
          .map(path -> _)
      }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
