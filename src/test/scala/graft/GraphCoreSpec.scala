package graft

import graft.core.Checkpoints
import graft.dedup.Components
import graft.eda.{Association, Concentration, MultipleTesting, SkewReport, StatTests}
import graft.ml.{Hpo, SpectralEmbedding, Stats}
import graft.proximity.{Graph, Truss}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The graph family's shared core: every intermediate local checkpoint
  * is released once the returned frame no longer reads it, the
  * canonical edge set is built in one place, and [[Checkpoints.release]]
  * frees what `unpersist` does not. The same release check covers the
  * stats operators that checkpoint an intermediate and the HPO trial
  * functions. */
class GraphCoreSpec extends SparkSpec {
  import spark.implicits._

  // a triangle 1-2-3 with a parallel edge (1,2) twice, both orientations
  // of 1-2, a self-loop on 4, and a tail 3-4-5-3
  private lazy val edges = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L),
      (3L, 4L), (4L, 4L), (4L, 5L), (5L, 3L))
    .toDF("src", "dst").withColumn("w", lit(0.5))
  private lazy val pairs = edges.select(col("src").as("id_a"), col("dst").as("id_b"))
  private lazy val ids = Seq(1L, 4L).toDF("id")

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `f`'s result and the ids of the RDDs it left persisted. */
  private def persistedBy[A](f: => A): (A, Set[Int]) = {
    val before = persisted()
    val out = f
    (out, persisted() -- before)
  }

  private def checkpointsIn(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  private val entryPoints: Seq[(String, () => DataFrame)] = Seq(
    "Graph.pageRank" -> (() => Graph.pageRank(edges)),
    "Graph.labelPropagation" -> (() => Graph.labelPropagation(edges)),
    "Graph.triangleCount" -> (() => Graph.triangleCount(edges)),
    "Graph.personalizedPageRank" -> (() => Graph.personalizedPageRank(edges, ids)),
    "Graph.bfsDepths" -> (() => Graph.bfsDepths(edges, ids, 3)),
    "Graph.kcorePeel" -> (() => Graph.kcorePeel(edges, k = 2, rounds = 3)),
    "Graph.degreeStats" -> (() => Graph.degreeStats(edges)),
    "Graph.linkPrediction" -> (() => Graph.linkPrediction(edges)),
    "Graph.clusteringCoefficient" -> (() => Graph.clusteringCoefficient(edges)),
    "Graph.ssspWeighted" -> (() => Graph.ssspWeighted(edges, ids, 3)),
    "Graph.modularity" -> (() => Graph.modularity(edges,
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L)).toDF("id", "label"))),
    "Graph.hits" -> (() => Graph.hits(edges)),
    "Graph.assortativity" -> (() => Graph.assortativity(edges)),
    "Truss.supportHistogram" -> (() => Truss.supportHistogram(edges)),
    "Truss.richClub" -> (() => Truss.richClub(edges, Seq(1, 2))),
    "Components.connectedComponents" -> (() => Components.connectedComponents(pairs)),
    "Components.connectedComponentsStar" ->
      (() => Components.connectedComponentsStar(pairs)),
    "Components.dedupByPairs" -> (() => Components.dedupByPairs(
      Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id"), "id", pairs)),
    "SpectralEmbedding.embed" -> (() => SpectralEmbedding.embed(edges, "src", "dst",
      iters = 3)))

  // three groups, two ordinal codes on a shared 0..3 scale, a positive
  // value and an event flag
  private lazy val cells = spark.range(60).selectExpr(
    "CAST(id % 3 AS STRING) AS g", "id % 4 AS a", "(id * 7) % 4 AS b",
    "CAST(id * 1.5 + id % 7 + 1 AS DOUBLE) AS v", "CAST(id % 2 AS INT) AS e")

  private val statsEntryPoints: Seq[(String, () => DataFrame)] = Seq(
    "Stats.gkGamma" -> (() => Stats.gkGamma(cells, "a", "b")),
    "Stats.somersD" -> (() => Stats.somersD(cells, "a", "b")),
    "Stats.concordanceIndex" -> (() => Stats.concordanceIndex(cells, "v", "e", "a")),
    "Stats.bowker" -> (() => Stats.bowker(cells, "a", "b")),
    "StatTests.kendallTauB" -> (() => StatTests.kendallTauB(cells, "a", "b")),
    "StatTests.uncertaintyCoefficient" ->
      (() => StatTests.uncertaintyCoefficient(cells, "a", "b")),
    "Association.miMatrix" -> (() => Association.miMatrix(cells, Seq("g", "a", "b"))),
    "MultipleTesting.pairwiseTestsBH" ->
      (() => MultipleTesting.pairwiseTestsBH(cells, "g", "v")),
    "MultipleTesting.pairwiseTestsHolm" ->
      (() => MultipleTesting.pairwiseTestsHolm(cells, "g", "v")),
    "Concentration.hillTailIndex" -> (() => Concentration.hillTailIndex(cells, "v", k = 10)),
    "SkewReport.keySkew" -> (() => SkewReport.keySkew(cells, "a")))

  private def table(name: String): DataFrame = graft.core.Tables.load(spark, sf, name)

  // one entry point per file whose end-of-call `unpersist()` on a local
  // checkpoint freed nothing
  private val scopedEntryPoints: Seq[(String, () => DataFrame)] = Seq(
    "Forecast.seasonalDecompose" -> (() => graft.operators.Forecast.seasonalDecompose(
      table("events"), "ts", "value")),
    "Reporting.shapleyAttribution" -> (() => graft.operators.Reporting.shapleyAttribution(
      table("events"), "user_id", "ts", "event_type", convType = "purchase")),
    "Preference.cohenKappa" -> (() => graft.ml.Preference.cohenKappa(cells.select(
      col("a").cast("string").as("x"), col("b").cast("string").as("y")), "x", "y")),
    "LeakageSplit.leakageSafeSplit" -> (() => graft.dedup.LeakageSplit.leakageSafeSplit(
      table("documents"), "doc_id", "text", shingleSize = 8, maxDf = 5, iters = 4,
      trainFraction = 0.8)),
    "Dedup.jaccardJoinPrefix" -> (() => graft.dedup.Dedup.jaccardJoinPrefix(
      table("documents").filter(col("doc_id") < 200), "doc_id", "text", threshold = 0.5)),
    "Distinctive.distinctiveTerms" -> (() => graft.text.Distinctive.distinctiveTerms(
      table("documents"), "source", "text", topK = 5, minCount = 5L)),
    "Hierarchy.flatten" -> (() => graft.operators.Hierarchy.flatten(
      Seq((1L, None), (2L, Some(1L)), (3L, Some(2L)), (4L, Some(2L)))
        .toDF("id", "parent"), "id", "parent")),
    "FuzzyJoin.sequenceNeighbors" -> (() => graft.operators.FuzzyJoin.sequenceNeighbors(
      table("events"), "user_id", "ts", "event_type", "event_id", k = 10)),
    "Skyline.skyline" -> (() => graft.operators.Skyline.skyline(table("part"),
      Seq("p_size" -> true, "p_retailprice" -> false))),
    "Contamination.contaminationSweep" -> (() =>
      graft.dedup.Contamination.contaminationSweep(table("documents"), "doc_id", "text",
        Seq("mod50" -> (col("doc_id") % 50 === 0)))),
    "BinaryQuant.hammingTopK" -> (() => graft.proximity.BinaryQuant.hammingTopK(
      table("embeddings").select("vec_id", "embedding"),
      table("embeddings").filter(col("vec_id") % 100 === 0).select("vec_id"),
      "vec_id", "embedding", dim = 64, k = 10)),
    "Embeddings.twoNnIntrinsicDim" -> (() => graft.proximity.Embeddings.twoNnIntrinsicDim(
      table("embeddings").filter(col("vec_id") < 400), "vec_id", "embedding")),
    "Lift.liftTable" -> (() => graft.ml.Lift.liftTable(cells.select(
      (col("v") / 100).as("p"), col("e").as("y")), "p", "y", bands = 4)),
    "Bootstrap.subsampleCi" -> (() => graft.ml.Bootstrap.subsampleCi(table("events"),
      "event_type", "event_id", "value", b = 16)))

  (entryPoints ++ statsEntryPoints ++ scopedEntryPoints).foreach { case (name, run) =>
    test(s"$name keeps only the checkpoints its result reads") {
      val (out, added) = persistedBy(run())
      val read = checkpointsIn(out)
      assert(added.subsetOf(read), s"left persisted: ${added -- read}")
      // and nothing the result reads was released
      assert(out.collect().nonEmpty)
    }
  }

  private lazy val reg = spark.range(90).selectExpr("id", "CAST(id % 9 AS DOUBLE) AS x",
    "CAST((id % 9) * 2 + id % 2 AS DOUBLE) AS y")

  Seq(
    "Hpo.regressorTrialFn" -> (() => Hpo.regressorTrialFn(reg, "id", Seq("x"), "y",
      "linear", k = 3)(Map.empty)),
    "Hpo.classifierTrialFn" -> (() => Hpo.classifierTrialFn(
      reg.withColumn("cls", when(col("x") < 4, "low").otherwise("high")),
      "id", Seq("x"), "cls", "logistic", k = 3)(Map.empty))
  ).foreach { case (name, trial) =>
    test(s"a $name trial leaves no persisted RDD") {
      val (metric, added) = persistedBy(trial())
      assert(!metric.isNaN)
      assert(added.isEmpty, s"left persisted: $added")
    }
  }

  test("clusteringCoefficient evaluates its input plan once") {
    val rows = spark.sparkContext.longAccumulator("clustering-input-rows")
    val tick = udf { (x: Long) => rows.add(1); x }.asNondeterministic()
    val counted = edges.select(tick(col("src")).as("src"), col("dst"))
    val cc = Graph.clusteringCoefficient(counted)
    assert(cc.collect().length == 5)
    assert(rows.value == edges.count())
  }

  test("Checkpoints.release frees a local checkpoint that unpersist leaves") {
    val (cp, added) = persistedBy(spark.range(10).toDF().localCheckpoint(true))
    assert(added.size == 1 && added == checkpointsIn(cp))
    cp.unpersist()
    cp.unpersist(blocking = true)
    assert(added.subsetOf(persisted()))
    Checkpoints.release(cp)
    assert(added.intersect(persisted()).isEmpty)
  }

  test("one canonical undirected edge set; no unpersist in Graph or Truss") {
    val dir = new java.io.File("src/main/scala/graft/proximity")
    assert(dir.isDirectory, dir.getAbsolutePath)
    val src = dir.listFiles.toSeq.filter(_.getName.endsWith(".scala")).map { f =>
      f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }.toMap
    val canon = """least(col("src"), col("dst"))"""
    val uses = src.map { case (f, s) =>
      f -> java.util.regex.Pattern.quote(canon).r.findAllMatchIn(s).size
    }.filter(_._2 > 0)
    assert(uses.values.sum == 1, uses)
    Seq("Graph.scala", "Truss.scala").foreach { f =>
      assert(!src(f).contains(".unpersist("), f)
    }
  }
}
