package graft

import graft.ml.Hpo
import org.apache.spark.sql.functions._

/** HPO harness (VERDICT r6 item 4): the reference's search-space specs +
  * seeded random search + fit-on-folds trial contract
  * (training/hpo_harness.py, hpo_runner.py) over the existing CrossFold. */
class HpoSpec extends SparkSpec {
  import spark.implicits._

  // deterministic quadratic-ish regression fixture: the target depends on
  // x nonlinearly, so a depth-capped GBT visibly underfits and the search
  // has a real gradient to descend
  private lazy val fixture = spark.range(600).selectExpr(
    "id",
    "CAST(id % 25 AS DOUBLE) AS x",
    "CAST(id % 7 AS DOUBLE) AS y",
    "CAST((id % 25) * (id % 25) + 3 * (id % 7) AS DOUBLE) AS target")

  test("sampler: deterministic under a seed, respects bounds/steps/options") {
    val space = Map[String, Hpo.ParamSpec](
      "depth" -> Hpo.IntRange(2, 8, 2),
      "lr" -> Hpo.FloatRange(0.01, 0.5, log = true),
      "sub" -> Hpo.Choice(Seq(0.5, 0.8, 1.0)))
    val a = (1 to 50).map(_ => Hpo.sample(space, new scala.util.Random(7)))
    val b = (1 to 50).map(_ => Hpo.sample(space, new scala.util.Random(7)))
    assert(a == b, "same seed must draw identical configs")
    val rng = new scala.util.Random(11)
    (1 to 200).map(_ => Hpo.sample(space, rng)).foreach { c =>
      val d = c("depth"); val lr = c("lr"); val s = c("sub")
      assert(d >= 2 && d <= 8 && d.toInt % 2 == 0, s"depth off-grid: $d")
      assert(lr >= 0.01 && lr <= 0.5, s"lr out of range: $lr")
      assert(Seq(0.5, 0.8, 1.0).contains(s), s"sub not an option: $s")
    }
  }

  test("spec validation fails loud") {
    intercept[IllegalArgumentException](Hpo.IntRange(5, 5))
    intercept[IllegalArgumentException](Hpo.IntRange(1, 9, 0))
    intercept[IllegalArgumentException](Hpo.FloatRange(0.5, 0.1))
    intercept[IllegalArgumentException](Hpo.FloatRange(0.0, 1.0, log = true))
    intercept[IllegalArgumentException](Hpo.Choice(Nil))
    intercept[IllegalArgumentException](
      Hpo.runSearch(Map("d" -> Hpo.IntRange(1, 2)), 0)(_ => 0.0))
    intercept[IllegalArgumentException] {
      graft.ml.Models.trainRegressor(fixture, Seq("x"), "target",
        "gbt", Map("nope" -> 1.0))
    }
  }

  test("runSearch: the best trial beats the crippled default config") {
    // default = a depth-1, 2-iteration GBT (deliberately weak); the space
    // includes real depths, so the searched winner must do better OOF
    val trialFn = Hpo.regressorTrialFn(fixture, "id", Seq("x", "y"), "target",
      "gbt", k = 3)
    val defaultRmse = trialFn(Map("maxDepth" -> 1.0, "maxIter" -> 2.0))
    val space = Map[String, Hpo.ParamSpec](
      "maxDepth" -> Hpo.IntRange(2, 6),
      "maxIter" -> Hpo.IntRange(10, 30, 10))
    val res = Hpo.runSearch(space, nTrials = 4, seed = 42L)(trialFn)
    assert(res.bestMetric < defaultRmse,
      s"searched best ${res.bestMetric} should beat default $defaultRmse")
    assert(res.trials.size == 4)
    assert(res.bestMetric == res.trials.map(_.metric).min)
  }

  test("runSearch is deterministic under seed 42; trialsDf shape is sane") {
    val trialFn = Hpo.regressorTrialFn(fixture, "id", Seq("x", "y"), "target",
      "gbt", k = 3)
    val space = Map[String, Hpo.ParamSpec](
      "maxDepth" -> Hpo.IntRange(2, 5),
      "maxIter" -> Hpo.IntRange(5, 15, 5))
    val r1 = Hpo.runSearch(space, nTrials = 3, seed = 42L)(trialFn)
    val r2 = Hpo.runSearch(space, nTrials = 3, seed = 42L)(trialFn)
    assert(r1.trials.map(_.config) == r2.trials.map(_.config))
    assert(r1.trials.map(_.metric) == r2.trials.map(_.metric),
      "fold fits must be deterministic under the shared seed")
    val df = Hpo.trialsDf(spark, r1)
    assert(df.columns.toSeq == Seq("trial", "maxDepth", "maxIter", "metric", "is_best"))
    assert(df.count() == 3)
    assert(df.filter(col("is_best")).count() == 1)
    val bestRow = df.filter(col("is_best")).head()
    assert(bestRow.getDouble(bestRow.fieldIndex("metric")) == r1.bestMetric)
  }

  test("mode=max picks the largest objective") {
    val space = Map[String, Hpo.ParamSpec]("k" -> Hpo.IntRange(1, 100))
    val res = Hpo.runSearch(space, nTrials = 8, seed = 1L, mode = "max")(c => c("k"))
    assert(res.bestMetric == res.trials.map(_.metric).max)
    assert(res.best("k") == res.bestMetric)
  }

  test("default spaces sample valid configs for every algo's tuned fit") {
    val rng = new scala.util.Random(5)
    // every sampled config must be applicable without an unknown-knob error
    val gbtCfg = Hpo.sample(Hpo.defaultSpace("gbt"), rng)
    val rfCfg = Hpo.sample(Hpo.defaultSpace("rf"), rng)
    val linCfg = Hpo.sample(Hpo.defaultSpace("linear"), rng)
    val small = fixture.limit(120)
    graft.ml.Models.trainRegressor(small, Seq("x"), "target",
      "gbt", gbtCfg.updated("maxIter", 5.0))
    graft.ml.Models.trainRegressor(small, Seq("x"), "target",
      "rf", rfCfg.updated("numTrees", 5.0))
    graft.ml.Models.trainRegressor(small, Seq("x"), "target", "linear", linCfg)
    intercept[IllegalArgumentException](Hpo.defaultSpace("xgboost"))
  }

  test("evaluateConfigs scores an explicit candidate list in order") {
    val res = Hpo.evaluateConfigs(Seq(
      Map("a" -> 3.0), Map("a" -> 1.0), Map("a" -> 2.0)))(c => c("a"))
    assert(res.trials.map(_.trial) == Seq(0, 1, 2))
    assert(res.best == Map("a" -> 1.0) && res.bestMetric == 1.0)
    intercept[IllegalArgumentException](Hpo.evaluateConfigs(Nil)(_ => 0.0))
  }

  test("shortlist: best-k configs in metric order, ties keep trial order") {
    val res = Hpo.Result(Map("a" -> 1.0), 1.0, Seq(
      Hpo.Trial(0, Map("a" -> 3.0), 3.0),
      Hpo.Trial(1, Map("a" -> 1.0), 1.0),
      Hpo.Trial(2, Map("a" -> 9.0), 1.0),
      Hpo.Trial(3, Map("a" -> 2.0), 2.0)))
    assert(Hpo.shortlist(res, 2) == Seq(Map("a" -> 1.0), Map("a" -> 9.0)))
    assert(Hpo.shortlist(res, 1, mode = "max") == Seq(Map("a" -> 3.0)))
    intercept[IllegalArgumentException](Hpo.shortlist(res, 0))
  }

  test("classifierTrialFn: OOF accuracy, label-string mapping across folds") {
    // class = whether x crosses a threshold, learnable by a small rf;
    // three class labels exercise fold-local index → label mapping
    val clf = spark.range(600).selectExpr(
      "id",
      "CAST(id % 30 AS DOUBLE) AS x",
      "CASE WHEN id % 30 < 10 THEN 'low' WHEN id % 30 < 20 THEN 'mid' ELSE 'high' END AS cls")
    val trialFn = Hpo.classifierTrialFn(clf, "id", Seq("x"), "cls", "rf", k = 3)
    val acc = trialFn(Map("numTrees" -> 10.0, "maxDepth" -> 4.0))
    // OOF refits shift the two split thresholds slightly per fold, so
    // near-perfect, not perfect
    assert(acc > 0.85, s"separable classes should score high OOF accuracy, got $acc")
    // a stump forest can't split three classes on one feature perfectly
    val weak = trialFn(Map("numTrees" -> 1.0, "maxDepth" -> 1.0))
    assert(weak < acc, s"depth-1 accuracy $weak should trail depth-4 $acc")
  }
}
