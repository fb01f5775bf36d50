package graft.proximity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph / landscape / residual analytics over KNN neighbor tables.
  *
  * Every operator takes the canonical neighbor table (id, neighbor_id,
  * distance) produced by Proximity.knnJoin plus the source rows, and stays
  * fully distributed (joins + groupBy; no driver materialization) —
  * unlike the reference, which runs these in pandas/networkx client-side.
  */
object Analytics {

  /** Per-query KNN aggregates + residual-vs-neighborhood features
    * (reference: src/workbench/algorithms/dataframe/residual_features.py:
    * 161-212): mean neighbor distance, mean/std of neighbor target, and
    * `local_pred_gap = prediction − knn_target_mean`. Neighbor rows are
    * capped to the k nearest per id (window) before aggregating.
    */
  def residualFeatures(neighbors: DataFrame, rows: DataFrame, idCol: String,
                       targetCol: String, predCol: String, k: Int): DataFrame = {
    val capped = Proximity.keepBest(neighbors, asc("distance"), k)
    val nTarget = rows.select(col(idCol).as("neighbor_id"),
      col(targetCol).cast("double").as("__nt"))
    val aggs = capped.join(nTarget, Seq("neighbor_id"))
      .groupBy("id")
      .agg(avg("distance").as("knn_distance"),
        avg("__nt").as("knn_target_mean"),
        stddev("__nt").as("knn_target_std"))
    // emit one row per QUERY id (the ids present in the neighbor table),
    // not per reference row — `rows` supplies targets for both roles
    rows.select(col(idCol).as("id"), col(targetCol).cast("double").as("target"),
        col(predCol).cast("double").as("prediction"))
      .join(neighbors.select("id").distinct(), Seq("id"), "left_semi")
      .join(aggs, Seq("id"), "left")
      .withColumn("local_pred_gap", col("prediction") - col("knn_target_mean"))
  }

  /** KNN-edge graph with `minEdges` guaranteed per node plus all extra
    * edges above `extraThreshold` similarity; weight = 1 − distance/max
    * (reference: src/workbench/algorithms/graph/light/proximity_graph.py:
    * 22-110). Returns an edge DataFrame (src, dst, weight).
    */
  def proximityGraph(neighbors: DataFrame, minEdges: Int = 2,
                     extraThreshold: Double = 0.8): DataFrame = {
    val mdRow = neighbors.agg(max("distance")).head()
    val maxDist = if (mdRow.isNullAt(0)) 0.0 else mdRow.getDouble(0)
    val weighted = neighbors.select(col("id").as("src"), col("neighbor_id").as("dst"),
      (lit(1.0) - col("distance") / lit(if (maxDist == 0) 1.0 else maxDist)).as("weight"))
    val w = Window.partitionBy("src").orderBy(desc("weight"), asc("dst"))
    weighted.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= minEdges || col("weight") > extraThreshold)
      .drop("__rank")
  }

  /** Ego subgraph: edges within `hops` of a center node
    * (reference: proximity_graph.py ego-subgraph). One self-join per hop
    * over the edge list — no driver-side graph object. */
  def egoSubgraph(edges: DataFrame, center: Long, hops: Int = 1): DataFrame = {
    var nodes = edges.sparkSession.createDataFrame(Seq(Tuple1(center))).toDF("node")
    var h = 0
    while (h < hops) {
      val expanded = edges
        .join(nodes.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"))
      nodes = nodes.unionByName(expanded).distinct()
      h += 1
    }
    edges.join(nodes.withColumnRenamed("node", "src"), Seq("src"))
      .join(nodes.withColumnRenamed("node", "dst"), Seq("dst"))
      .select("src", "dst", "weight")
  }

  /** Laplacian smoothness of a node signal over a weighted edge list:
    * per-node Σ w·(y_i − y_j)² and the global xᵀLx / |E| diagnostic
    * (reference: src/workbench/algorithms/graph/light/
    * laplacian_smoothness.py:14-95). Returns per-node rows plus the
    * global value broadcast on every row as `global_smoothness`.
    */
  def laplacianSmoothness(edges: DataFrame, rows: DataFrame, idCol: String,
                          targetCol: String): DataFrame = {
    val y = rows.select(col(idCol).as("__id"), col(targetCol).cast("double").as("__y"))
    val withY = edges
      .join(y.select(col("__id").as("src"), col("__y").as("__ysrc")), Seq("src"))
      .join(y.select(col("__id").as("dst"), col("__y").as("__ydst")), Seq("dst"))
      .withColumn("__term", col("weight") * pow(col("__ysrc") - col("__ydst"), 2))
    val perNode = withY.groupBy(col("src").as("id"))
      .agg(sum("__term").as("node_smoothness"), count(lit(1)).as("degree"))
    val global = withY.agg((sum("__term") / count(lit(1))).as("g"))
    perNode.crossJoin(broadcast(global)).withColumnRenamed("g", "global_smoothness")
  }

  /** Target-landscape diagnostics
    * (reference: src/workbench/algorithms/dataframe/target_landscape.py:
    * 27-120):
    *  - duplicates: coincident groups (distance ≈ 0) and their target spread
    *  - cliffs: steep target gradient between distinct close neighbors
    *  - isolated: rows whose nearest neighbor is farther than a quantile cut
    */
  def landscapeDuplicates(neighbors: DataFrame, rows: DataFrame, idCol: String,
                          targetCol: String, eps: Double = 1e-6): DataFrame = {
    val t = rows.select(col(idCol).as("neighbor_id"), col(targetCol).cast("double").as("__nt"))
    neighbors.filter(col("distance") <= eps)
      .join(t, Seq("neighbor_id"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_coincident"),
        (max("__nt") - min("__nt")).as("target_spread"))
  }

  def landscapeCliffs(neighbors: DataFrame, rows: DataFrame, idCol: String,
                      targetCol: String, eps: Double = 1e-6): DataFrame = {
    val tq = rows.select(col(idCol).as("id"), col(targetCol).cast("double").as("__tq"))
    val tn = rows.select(col(idCol).as("neighbor_id"), col(targetCol).cast("double").as("__tn"))
    neighbors.filter(col("distance") > eps)
      .join(tq, Seq("id")).join(tn, Seq("neighbor_id"))
      .withColumn("target_gradient", abs(col("__tq") - col("__tn")) / col("distance"))
      .select("id", "neighbor_id", "distance", "target_gradient")
  }

  def landscapeIsolated(neighbors: DataFrame, quantile: Double = 0.9): DataFrame = {
    val nearest = neighbors.groupBy("id").agg(min("distance").as("nn_distance"))
    val cutRow = nearest.agg(expr(s"percentile(nn_distance, $quantile)")).head()
    if (cutRow.isNullAt(0)) nearest.filter(lit(false))
    else nearest.filter(col("nn_distance") > cutRow.getDouble(0))
  }

  /** Feature/target gradient pairs between close rows
    * (reference: src/workbench/algorithms/dataframe/storage/
    * target_gradients.py:12-40). */
  def targetGradients(neighbors: DataFrame, rows: DataFrame, idCol: String,
                      targetCol: String): DataFrame = {
    val tq = rows.select(col(idCol).as("id"), col(targetCol).cast("double").as("__tq"))
    val tn = rows.select(col(idCol).as("neighbor_id"), col(targetCol).cast("double").as("__tn"))
    neighbors.join(tq, Seq("id")).join(tn, Seq("neighbor_id"))
      .select(col("id"), col("neighbor_id"),
        col("distance").as("feature_diff"),
        (col("__tn") - col("__tq")).as("target_diff"),
        when(col("distance") > 0, abs(col("__tn") - col("__tq")) / col("distance"))
          .otherwise(lit(null)).as("target_gradient"))
  }

  /** FeatureSpider: KNN-regressor QA — per row, the prediction implied by
    * its neighborhood (mean neighbor target), the gap to its own target,
    * and coincident / high-gradient flags
    * (reference: src/workbench/algorithms/dataframe/storage/
    * feature_spider.py:11-50).
    */
  def featureSpider(neighbors: DataFrame, rows: DataFrame, idCol: String,
                    targetCol: String, gradientCut: Double, eps: Double = 1e-6): DataFrame = {
    val t = rows.select(col(idCol).as("neighbor_id"), col(targetCol).cast("double").as("__nt"))
    val grads = targetGradients(neighbors, rows, idCol, targetCol)
    val aggs = neighbors.join(t, Seq("neighbor_id"))
      .groupBy("id")
      .agg(avg("__nt").as("knn_prediction"),
        max(when(col("distance") <= eps, 1).otherwise(0)).as("__coinc"))
    val cliffs = grads.groupBy("id")
      .agg(max(when(col("target_gradient") > gradientCut, 1).otherwise(0)).as("__cliff"))
    rows.select(col(idCol).as("id"), col(targetCol).cast("double").as("target"))
      .join(neighbors.select("id").distinct(), Seq("id"), "left_semi")
      .join(aggs, Seq("id"), "left").join(cliffs, Seq("id"), "left")
      .na.fill(0, Seq("__coinc", "__cliff"))
      .withColumn("knn_error", abs(col("target") - col("knn_prediction")))
      .withColumn("coincident", col("__coinc") === 1)
      .withColumn("high_gradient", col("__cliff") === 1)
      .drop("__coinc", "__cliff")
  }

  /** Multi-task alignment diagnostics: for a wide multi-task frame,
    * pairwise Pearson r between task columns plus pairwise coverage (the
    * fraction of rows where both tasks are present)
    * (reference: src/workbench/algorithms/dataframe/
    * multi_task_alignment.py:31-100). One aggregate pass.
    */
  def multiTaskAlignment(df: DataFrame, taskCols: Seq[String]): DataFrame = {
    val pairs = for { a <- taskCols; b <- taskCols if a < b } yield (a, b)
    val n = count(lit(1))
    val aggs = pairs.flatMap { case (a, b) =>
      Seq(corr(col(a), col(b)).as(s"${a}__${b}__r"),
        (count(when(col(a).isNotNull && col(b).isNotNull, 1)).cast("double") / n)
          .as(s"${a}__${b}__cov"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackExpr = pairs.map { case (a, b) =>
      s"'$a', '$b', `${a}__${b}__r`, `${a}__${b}__cov`"
    }.mkString(", ")
    wide.selectExpr(
      s"stack(${pairs.size}, $stackExpr) as (task_1, task_2, pearson_r, coverage)")
  }

  /** Row tags: zero-target / coincident / high-target-gradient
    * neighborhood, as an array column
    * (reference: src/workbench/algorithms/dataframe/storage/
    * row_tagger.py:10-30). */
  def rowTags(neighbors: DataFrame, rows: DataFrame, idCol: String,
              targetCol: String, gradientCut: Double, eps: Double = 1e-6): DataFrame = {
    val grads = targetGradients(neighbors, rows, idCol, targetCol)
      .groupBy("id")
      .agg(max(when(col("feature_diff") <= eps, 1).otherwise(0)).as("__coinc"),
        max(when(col("target_gradient") > gradientCut, 1).otherwise(0)).as("__cliff"))
    rows.select(col(idCol).as("id"), col(targetCol).cast("double").as("__t"))
      .join(grads, Seq("id"), "left").na.fill(0, Seq("__coinc", "__cliff"))
      .select(col("id"), array_compact(array(
        when(col("__t") === 0, "zero_target"),
        when(col("__coinc") === 1, "coincident"),
        when(col("__cliff") === 1, "high_gradient"))).as("tags"))
  }

  /** Filter rows by tag membership over an array<string> tag column
    * (reference: src/workbench/utils/chem_utils/mol_tagging.py:386-434):
    * `require` tags must ALL be present, `exclude` tags must ALL be
    * absent, `requirePrefix` needs ≥1 tag matching any prefix,
    * `excludePrefix` forbids every prefix. Pure codegen'd array
    * predicates — no UDF, no shuffle. Rows with a null tag array never
    * match (the reference would throw on them). */
  def filterByTags(df: DataFrame, require: Seq[String] = Nil,
                   exclude: Seq[String] = Nil,
                   requirePrefix: Seq[String] = Nil,
                   excludePrefix: Seq[String] = Nil,
                   tagColumn: String = "tags"): DataFrame = {
    val tags = col(tagColumn)
    def matchesAny(t: org.apache.spark.sql.Column) =
      (p: Seq[String]) => p.map(t.startsWith(_)).reduce(_ || _)
    val conds: Seq[org.apache.spark.sql.Column] =
      require.map(t => array_contains(tags, t)) ++
        exclude.map(t => coalesce(!array_contains(tags, t), lit(false))) ++
        (if (requirePrefix.isEmpty) Nil
         else Seq(exists(tags, t => matchesAny(t)(requirePrefix)))) ++
        (if (excludePrefix.isEmpty) Nil
         else Seq(coalesce(!exists(tags, t => matchesAny(t)(excludePrefix)), lit(false))))
    conds.foldLeft(df)((d, c) => d.filter(c))
  }
}
