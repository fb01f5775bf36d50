package graft.ml

import graft.core.Checkpoints
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, StructField, StructType}

/** Hyperparameter-optimization harness — the reference's framework-agnostic
  * HPO layer re-expressed in-cluster (reference:
  * src/workbench/training/hpo_harness.py:45-99 backend-agnostic search-space
  * specs IntRange/FloatRange/Choice, :237-297 `run_search`;
  * hpo_runner.py:64-79 the `trial_fn` contract "config → scalar metric",
  * :430-474 `trial_records` per-trial table; default knob spaces
  * xgb_hpo.py:36-52).
  *
  * Backend: deterministic-seed random search. The reference's serial
  * backend is exactly this loop (hpo_harness.py falls back to a
  * seeded sampler when Ray/Optuna are absent); Spark-side each trial is
  * already a distributed k-fold fit, so trial-level parallelism would
  * only contend for the same executors (the same argument
  * xgb_hpo.py:9-13 makes for capping XGBoost trial concurrency).
  *
  * Scale shape: one trial = k distributed MLlib fits over [[CrossFold]]
  * folds; the driver holds only the nTrials×knobs config table. Nothing
  * here caps at 100 TB — the fold fits are the scaling unit.
  */
object Hpo {

  /** Backend-agnostic knob specs (hpo_harness.py:45-99). Values are
    * carried as Double in configs — integer knobs are floored on
    * application ([[Models.trainRegressor]]). */
  sealed trait ParamSpec
  final case class IntRange(low: Int, high: Int, step: Int = 1) extends ParamSpec {
    require(low < high, s"IntRange needs low < high, got low=$low, high=$high")
    require(step >= 1, s"IntRange step must be >= 1, got $step")
  }
  final case class FloatRange(low: Double, high: Double, log: Boolean = false) extends ParamSpec {
    require(low < high, s"FloatRange needs low < high, got low=$low, high=$high")
    require(!log || low > 0, s"FloatRange(log=true) needs low > 0, got low=$low")
  }
  final case class Choice(options: Seq[Double]) extends ParamSpec {
    require(options.nonEmpty, "Choice needs at least one option")
  }

  type Config = Map[String, Double]

  final case class Trial(trial: Int, config: Config, metric: Double)
  /** run_search result shape (hpo_harness.py:226-234 HpoResult). */
  final case class Result(best: Config, bestMetric: Double, trials: Seq[Trial])

  /** Default per-algo knob spaces — the reference ships per-framework
    * default spaces the user can search without writing one
    * (xgb_hpo.py:28-52 basic/reg groups), translated to MLlib param
    * names. Tree iteration/count ranges are bench-scale sane; widen for
    * a real cluster run. */
  def defaultSpace(algo: String): Map[String, ParamSpec] = algo match {
    case "gbt" => Map(
      "maxDepth" -> IntRange(3, 10),
      "maxIter" -> IntRange(10, 100, 10),
      "stepSize" -> FloatRange(0.01, 0.3, log = true),
      "subsamplingRate" -> FloatRange(0.5, 1.0),
      "minInstancesPerNode" -> IntRange(1, 20))
    case "rf" => Map(
      "numTrees" -> IntRange(20, 200, 20),
      "maxDepth" -> IntRange(3, 12),
      "subsamplingRate" -> FloatRange(0.5, 1.0),
      "minInstancesPerNode" -> IntRange(1, 20))
    case "linear" | "logistic" => Map(
      "regParam" -> FloatRange(1e-4, 1.0, log = true),
      "elasticNetParam" -> FloatRange(0.0, 1.0))
    case other => throw new IllegalArgumentException(
      s"no default space for algo '$other' (gbt | rf | linear | logistic)")
  }

  /** Draw one config. Knobs are visited in sorted-name order so the
    * draw sequence — hence the whole search — is a pure function of
    * (space, seed), independent of Map iteration order. */
  def sample(space: Map[String, ParamSpec], rng: scala.util.Random): Config =
    space.toSeq.sortBy(_._1).map { case (name, spec) =>
      val v = spec match {
        case IntRange(lo, hi, st) => (lo + st * rng.nextInt((hi - lo) / st + 1)).toDouble
        case FloatRange(lo, hi, false) => lo + (hi - lo) * rng.nextDouble()
        case FloatRange(lo, hi, true) =>
          math.exp(math.log(lo) + (math.log(hi) - math.log(lo)) * rng.nextDouble())
        case Choice(opts) => opts(rng.nextInt(opts.size))
      }
      name -> v
    }.toMap

  /** Seeded random search: nTrials draws from `space`, each scored by
    * `trialFn` (the hpo_runner.py:64-79 contract: a config in, one
    * scalar objective out — here typically a mean cross-fold metric).
    * `mode` is "min" (losses) or "max" (AUC-style scores). */
  def runSearch(space: Map[String, ParamSpec], nTrials: Int, seed: Long = 42L,
                mode: String = "min")(trialFn: Config => Double): Result = {
    require(nTrials >= 1, s"need at least one trial, got $nTrials")
    require(mode == "min" || mode == "max", s"mode must be min|max, got '$mode'")
    val rng = new scala.util.Random(seed)
    val trials = (0 until nTrials).map(i => { val c = sample(space, rng); Trial(i, c, trialFn(c)) })
    val best = if (mode == "min") trials.minBy(_.metric) else trials.maxBy(_.metric)
    Result(best.config, best.metric, trials)
  }

  /** Per-trial table (hpo_runner.py:430-474 `trial_records`): one row per
    * trial with its knob values, objective, and best-flag — the search's
    * relational read-back surface. */
  def trialsDf(spark: SparkSession, res: Result): DataFrame = {
    val knobs = res.trials.headOption.map(_.config.keys.toSeq.sorted).getOrElse(Nil)
    val schema = StructType(
      StructField("trial", IntegerType) +:
      knobs.map(StructField(_, DoubleType)) :+
      StructField("metric", DoubleType) :+
      StructField("is_best", BooleanType))
    val rows = res.trials.map { t =>
      Row.fromSeq(t.trial +: knobs.map(t.config) :+ t.metric :+
        (t.config == res.best && t.metric == res.bestMetric))
    }
    // a local relation: collecting it runs no Spark job
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Score an explicit config list instead of sampling
    * (hpo_harness.py:299-338 `evaluate_configs` — the rerank-finalists /
    * compare-known-candidates path). Trial ids are list positions. */
  def evaluateConfigs(configs: Seq[Config], mode: String = "min")(
      trialFn: Config => Double): Result = {
    require(configs.nonEmpty, "need at least one config")
    require(mode == "min" || mode == "max", s"mode must be min|max, got '$mode'")
    val trials = configs.zipWithIndex.map { case (c, i) => Trial(i, c, trialFn(c)) }
    val best = if (mode == "min") trials.minBy(_.metric) else trials.maxBy(_.metric)
    Result(best.config, best.metric, trials)
  }

  /** Best-k trial configs for a rerank pass (hpo_runner.py:528-543
    * `shortlist_configs`): the cheap-objective search feeds its
    * finalists to [[evaluateConfigs]] under a more expensive objective
    * (more folds, full data). Ties keep trial order. */
  def shortlist(res: Result, k: Int, mode: String = "min"): Seq[Config] = {
    require(k >= 1, s"shortlist needs k >= 1, got $k")
    val sorted = if (mode == "min") res.trials.sortBy(t => (t.metric, t.trial))
                 else res.trials.sortBy(t => (-t.metric, t.trial))
    sorted.take(k).map(_.config)
  }

  /** The fit-on-folds trial function (hpo_runner.py:64-79 `make_trial_fn`
    * over the cross-fold split): fit the tuned regressor on each fold's
    * train side, predict its held-out fold, return the out-of-fold RMSE.
    * Scoring in the regime the winner is used in — OOF, not train. */
  def regressorTrialFn(df: DataFrame, idCol: String, features: Seq[String],
                       target: String, algo: String, k: Int = 3,
                       seed: Long = 42L): Config => Double = cfg => Checkpoints.scoped {
    val oof = CrossFold.run(df, idCol, k) { (train, test) =>
      Models.trainRegressor(train, features, target, algo, cfg, seed)
        .transform(test)
        .select(col(idCol), col(target), col("prediction"))
    }
    oof.agg(sqrt(avg(pow(col(target) - col("prediction"), 2))).as("rmse")).head.getDouble(0)
  }

  /** Classifier trial function: out-of-fold accuracy (use mode = "max").
    * Each fold refits the label indexer on its train side, so the
    * prediction is mapped back to the label STRING before the stitch —
    * fold-local indices are not comparable across folds (the same
    * pitfall CrossFold's classifier path documents). */
  def classifierTrialFn(df: DataFrame, idCol: String, features: Seq[String],
                        target: String, algo: String, k: Int = 3,
                        seed: Long = 42L): Config => Double = cfg => Checkpoints.scoped {
    val oof = CrossFold.run(df, idCol, k) { (train, test) =>
      val m = Models.trainClassifier(train, features, target, algo, cfg, seed)
      Models.labelPredictions(m.transform(test), Models.classLabels(m), confidence = false)
        .select(col(idCol), col(target), col("prediction"))
    }
    oof.agg(avg(when(col(target) === col("prediction"), 1.0).otherwise(0.0))).head.getDouble(0)
  }
}
