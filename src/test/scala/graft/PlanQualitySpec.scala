package graft

import org.apache.spark.sql.functions._

/** Plan-quality regression checks (VERDICT r1 item 10): pushdown evidence
  * that used to live only in PLANS.md prose is now asserted, so a
  * refactor that silently breaks parquet pushdown fails the suite. */
class PlanQualitySpec extends SparkSpec {

  private def pushedFiltersNonEmpty(plan: String): Boolean =
    "PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined

  test("q01: lineitem date filter reaches the parquet scan") {
    val plan = SparkEntry.queries("q01_pricing_summary")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(pushedFiltersNonEmpty(plan), plan)
  }

  test("q09: outlier bound filters reach the parquet scan") {
    val plan = SparkEntry.queries("q09_outliers")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(pushedFiltersNonEmpty(plan), plan)
  }

  test("q15: temporal-split timestamp filter reaches the parquet scan") {
    val plan = SparkEntry.queries("q15_temporal_split")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(pushedFiltersNonEmpty(plan), plan)
  }

  test("q62: ranged quantile split has no window/single-partition stage") {
    val plan = SparkEntry.queries("q62_quantile_split_ranged")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("SinglePartition"), plan)
  }

  test("q74: rocAuc is adaptive — window form at toy scale, no bucket shuffles") {
    // VERDICT r3 item 6: below RankSmallMaxRows the kernel takes the
    // plain rank window (two fewer shuffles — 0.23 s vs 0.72 s at
    // sf0.1); the bucketed scale shape is asserted by the forced-
    // bucketed test below
    val plan = SparkEntry.queries("q74_roc_auc")(spark, sf)
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the rank-prefix window")
    // small path: exactly the score-ordered prefix window, and none of
    // the bucketed pipeline's bucket-keyed windows/aggregates
    assert(!plan.toString.contains("bucket"),
      "toy-scale rocAuc should not take the bucketed pipeline")
  }

  test("rank kernel: bucketed path keeps its shape and matches the window path") {
    import org.apache.spark.sql.functions._
    val df = spark.range(5000).selectExpr("CAST(id % 7 AS DOUBLE) + id * 1e-4 AS score",
      "CAST(id % 3 = 0 AS INT) AS pos", "'all' AS g")
    // forced-bucketed (smallMaxRows = 0) must window by (group, bucket)
    val bucketed = graft.ml.Metrics.rankedScores(df, "g", "pos", "score", 64,
      smallMaxRows = 0)
    val rankWindows = bucketed.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.orderSpec.exists(_.child.references.exists(_.name == "score")) => w
    }
    assert(rankWindows.nonEmpty &&
      rankWindows.forall(_.partitionSpec.exists(_.references.exists(_.name == "bucket"))),
      "forced-bucketed kernel must partition the rank window by bucket")
    // adaptive (default threshold) routes this 5k-row frame to the plain
    // window form — identical avg_rank results either way
    val small = graft.ml.Metrics.rankedScores(df, "g", "pos", "score", 64)
    def m(d: org.apache.spark.sql.DataFrame) =
      d.select("score", "n", "n_pos", "avg_rank").collect()
        .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(m(bucketed) == m(small))
  }

  test("rocAuc on an empty/all-null score frame returns a null-AUC row") {
    import spark.implicits._
    val empty = Seq.empty[(Int, java.lang.Double)].toDF("pos", "score")
    val out = graft.ml.Metrics.rocAuc(empty, "pos", "score").collect()
    assert(out.length == 1 && out(0).isNullAt(0))
  }

  test("ensemble aggregation: shuffle count does not scale with model count M") {
    import spark.implicits._
    // the union+groupBy design claims ONE aggregation shuffle no matter
    // how many model branches feed it — a merge-per-model plan (the
    // pandas-merge shape) would add an Exchange per upstream
    def up(n: Int) = (1 to 20).map(i => (i.toLong, i * n * 1.0, 0.5))
      .toDF("id", "prediction", "confidence")
    def exchanges(m: Int): Int =
      "Exchange".r.findAllIn(
        graft.ml.Ensemble.Mean("m")((1 to m).map(up), "id")
          .queryExecution.executedPlan.toString).length
    assert(exchanges(3) == exchanges(6),
      "ensemble shuffle count must be M-invariant")
  }

  test("inference cache: keep-last dedup window is key-partitioned") {
    import spark.implicits._
    val cat = new graft.api.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-plancache").toString)
    val ep = cat.onboardFormulaModel("pq_m", 0.0, Seq("x" -> 1.0),
      target = "__absent__").toEndpoint("pq-end")
    val cache = new graft.api.InferenceCache(ep, "k")
    cache.inference(Seq((1L, 1.0)).toDF("k", "x"))
    val out = cache.inference(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "x"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global single-partition stage in the cached-inference plan:\n$plan")
  }

  test("q109/q110: corpus scoring and report plans have no single-partition stage") {
    Seq("q109_lm_score", "q110_corpus_report").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.sparkPlan.toString
      assert(!plan.contains("SinglePartition"), s"$q:\n$plan")
      // (a BroadcastNestedLoopJoin against the 1-row LM-total aggregate
      // is the intended scalar-broadcast pattern, not a data crossjoin)
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  test("packingManifest: per-row cumsum window is bucket-partitioned, not global") {
    val docs = spark.range(500).selectExpr("id", "'tok tok tok' AS text")
    val plan = graft.text.Packing.packingManifest(docs, "id", "text", 128)
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    // exactly two windows: the metadata offsets frame (≤buckets rows,
    // unpartitioned by design) and the per-row cumsum, which must carry
    // the bucket key in its partition spec
    assert(windows.size == 2, plan.toString)
    assert(windows.count(_.partitionSpec.nonEmpty) == 1, plan.toString)
    assert(windows.filter(_.partitionSpec.nonEmpty)
      .head.partitionSpec.exists(_.toString.contains("__b")), plan.toString)
  }

  test("contamination: shingle match is a broadcast equi-join, never a cross join") {
    val docs = spark.range(200)
      .selectExpr("id", "concat('w', id % 9, ' w', id % 7, ' w', id % 5, ' w', id % 3) AS text")
    val plan = graft.text.Contamination.contaminated(
      docs.filter(col("id") >= 50), "id", "text",
      docs.filter(col("id") < 50), "id", "text", n = 2)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("temperatureSample: fraction lookup broadcasts; corpus is never shuffled") {
    val docs = spark.range(1000).selectExpr("id", "concat('s', id % 4) AS src")
    val plan = graft.text.Mixing.temperatureSample(docs, "id", "src", 0.7, 100)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q22: customer/supplier join strategy is size-based (VERDICT r6 item 3)") {
    // Only nation/region carry broadcast hints; customer/supplier must be
    // AQE's size-based call — BHJ at toy SF, SMJ when broadcast is turned
    // off. A pinned hint would keep them BHJ with the thresholds at -1.
    def finalPlan(threshold: String): String = {
      val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      val olds = keys.map(k => k -> spark.conf.getOption(k))
      try {
        keys.foreach(spark.conf.set(_, threshold))
        val df = SparkEntry.queries("q22_nation_revenue")(spark, sf)
        df.collect() // materialize so AQE's final plan is in place
        // keep only the final-plan section (AQE's toString appends the
        // initial plan, which would double-count joins)
        df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      } finally olds.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    def bhj(p: String) = "BroadcastHashJoin".r.findAllIn(p).size
    val sized = finalPlan("10485760")
    val noBroadcast = finalPlan("-1")
    assert(bhj(sized) > 2, s"expected size-based broadcasts at toy SF:\n$sized")
    assert(bhj(noBroadcast) == 2, // exactly the hinted nation/region
      s"with thresholds off only hinted dims may broadcast:\n$noBroadcast")
    assert(noBroadcast.contains("SortMergeJoin"), noBroadcast)
  }

  test("line dedup: no single-partition stage in explode→anti-join→reassemble") {
    val docs = spark.range(300)
      .selectExpr("id", "concat('line', id % 5, repeat(' filler text', 5)) AS text")
    val plan = graft.text.LineDedup.dedupCharChunks(docs, "id", "text", 8, 2)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("q122: url dedup window is keyed on url_norm, never a global window") {
    val plan = SparkEntry.queries("q122_url_curation")(spark, sf)
      .queryExecution.executedPlan.toString
    // the row_number must partition by the normalized URL — a global
    // (empty-key) window would single-partition the corpus
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.contains("hashpartitioning(url_norm"), plan)
  }

  test("q124: source-overlap pairing is a shingle equi-join, never a cross join") {
    val plan = SparkEntry.queries("q124_source_overlap")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q127: incremental dedup anti-join reads only fingerprint from the store") {
    val docs = graft.core.Tables.load(spark, sf, "documents")
    val store = java.nio.file.Files
      .createTempDirectory("graft-plan-inc").toString + "/store"
    graft.dedup.Incremental.dedupAndIngest(spark,
      docs.filter(col("doc_id") < 100), "doc_id", "text", store, "b1")
    val plan = graft.dedup.Incremental.newDocuments(spark,
      docs.filter(col("doc_id") >= 100), "doc_id", "text", store)
      .queryExecution.executedPlan.toString
    // column pruning: the store side of the anti-join must not read id
    // or batch_id — at 100 TB the store scan is the fingerprint column
    val storeScans = plan.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("fp_bucket"))
      .toList
    assert(storeScans.nonEmpty, s"no store scan found:\n$plan")
    storeScans.foreach { l =>
      assert(l.contains("fingerprint") && !l.contains("batch_id"),
        s"store scan reads more than the fingerprint:\n$l")
    }
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q128: fineweb funnel is projection + one keeper groupBy, no window") {
    val plan = SparkEntry.queries("q128_fineweb_funnel")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q149 bm25: postings join the broadcast query terms — no BNLJ/cartesian") {
    val plan = SparkEntry.queries("q149_bm25")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q163 anomaly: z-score window is user-keyed, never single-partition") {
    val plan = SparkEntry.queries("q163_rolling_anomaly")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("user_id"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("q161 rank functions: window keyed on o_custkey, no single partition") {
    val plan = SparkEntry.queries("q161_window_funcs")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("q168 interval join: grid-bucket equi-join, no cartesian/BNLJ") {
    val plan = SparkEntry.queries("q168_interval_join")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q172 incremental agg: merge shuffles only state-cardinality rows") {
    // the merged plan groups a union of two ALREADY-AGGREGATED states;
    // partial aggregation must appear below each scan (map-side combine)
    val plan = SparkEntry.queries("q172_incremental_agg")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial"), plan) // map-side combine present
  }

  test("q157 expectations: whole suite is one aggregate job, single scan") {
    val df = SparkEntry.queries("q157_expectations")(spark, sf)
    val scans = df.queryExecution.executedPlan.toString
      .split("\n").count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 scan, got $scans")
  }

  test("q194 mann-whitney: rank side rides the shared kernel — no " +
    "cartesian, the tie join is a value equi-join") {
    // the bucketed-at-scale shape of the kernel itself is asserted by
    // the forced-bucketed rankedScores test above; here: the composed
    // test statistic never degenerates into a cross join of data frames
    val plan = SparkEntry.queries("q194_mann_whitney")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q204 ecod: no cartesian; totals broadcast; q205 link prediction " +
    "no BNLJ") {
    Seq("q204_ecod_outliers", "q205_link_prediction").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.sparkPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
    }
  }

  test("q199 lift table: band assignment is a codegen projection — no " +
    "window over the data, single scan feeds the band groupBy") {
    val plan = SparkEntry.queries("q199_lift_table")(spark, sf)
      .queryExecution.optimizedPlan
    // the only Window allowed is the cumulative pass over the ≤bands-row
    // aggregate (its child must be an Aggregate/LocalRelation, not data)
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    windows.foreach { w =>
      val overAgg = w.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr
      }
      assert(overAgg.nonEmpty, s"window over raw data:\n$w")
    }
  }

  test("bucketedNtile: forced-bucketed tiles == plain ntile window " +
    "(asc/desc, ties, nulls, NaN)") {
    import org.apache.spark.sql.expressions.Window
    // ties (v = id % 50), nulls (id % 97 == 0), NaN (id % 89 == 0), and a
    // unique ascending tiebreak; N = 4999 with n = 7 exercises the
    // remainder arithmetic (rem != 0)
    val df = spark.range(4999).selectExpr("id",
      """CASE WHEN id % 97 = 0 THEN CAST(NULL AS DOUBLE)
              WHEN id % 89 = 0 THEN CAST('NaN' AS DOUBLE)
              ELSE CAST(id % 50 AS DOUBLE) END AS v""")
    for (desc <- Seq(false, true)) {
      val ord = (if (desc) col("v").desc else col("v").asc) :: col("id").asc :: Nil
      val expect = df.withColumn("q", ntile(7).over(Window.orderBy(ord: _*)))
      val got = graft.ml.Metrics.bucketedNtile(df, "v", 7, "q",
        tieCols = Seq(col("id")), desc = desc, buckets = 16, smallMaxRows = 0)
      def m(d: org.apache.spark.sql.DataFrame) =
        d.select("id", "q").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(m(got) == m(expect), s"desc=$desc tile mismatch")
    }
  }

  test("bucketedNtile: N < n and single-distinct-value edge cases") {
    import org.apache.spark.sql.expressions.Window
    val tiny = spark.range(3).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    val gotTiny = graft.ml.Metrics.bucketedNtile(tiny, "v", 10, "q",
      tieCols = Seq(col("id")), smallMaxRows = 0)
      .select("id", "q").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotTiny == Map(0L -> 1, 1L -> 2, 2L -> 3))
    val const = spark.range(10).selectExpr("id", "CAST(1 AS DOUBLE) AS v")
    val expectConst = const.withColumn("q",
        ntile(4).over(Window.orderBy(col("v").asc, col("id").asc)))
      .select("id", "q").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val gotConst = graft.ml.Metrics.bucketedNtile(const, "v", 4, "q",
      tieCols = Seq(col("id")), smallMaxRows = 0)
      .select("id", "q").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotConst == expectConst)
  }

  test("q54/q262/q266: ntile routes through the adaptive kernel — " +
    "forced-bucketed rank window partitions by bucket") {
    // the VERDICT r12 item-2 conviction: no corpus-sized single-partition
    // window above the statistics gate. Force the bucketed path and
    // assert every row-ordered window is partitioned (the only
    // orderBy-only windows ride the ≤buckets-row totals aggregate).
    val df = spark.range(2000).selectExpr("id",
      "CAST(id % 13 AS DOUBLE) AS v")
    val plan = graft.ml.Metrics.bucketedNtile(df, "v", 4, "q",
        tieCols = Seq(col("id")), smallMaxRows = 0)
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      val overAgg = w.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(overAgg.nonEmpty,
        s"unpartitioned window over raw data in bucketedNtile:\n$w")
    }
    // and the three convicted queries report a route decision
    graft.core.Routing.drain()
    SparkEntry.queries("q54_quantile_split")(spark, sf).count()
    val routes = graft.core.Routing.drain()
    assert(routes.exists(_.startsWith("ntile-kernel=")), routes.toString)
  }

  test("negative sampling: shard-key width adapts with corpus size " +
    "(fixed B=16 is quadratic — the r13 100×-sweep conviction)") {
    import graft.text.NegativeSampling.hexDigitsFor
    // 1 digit up to 16·poolTarget, then 2 up to 256·poolTarget, then 3
    assert(hexDigitsFor(1e3, 4096) == 1)
    assert(hexDigitsFor(65536, 4096) == 1)
    assert(hexDigitsFor(66000, 4096) == 2)
    assert(hexDigitsFor(1e6, 4096) == 2)
    assert(hexDigitsFor(2e7, 4096) == 3)
    assert(hexDigitsFor(1e12, 4096) == 3) // clamp
    // the query records its route, and at toy scale takes the
    // single-digit (oracle-parity) form
    graft.core.Routing.drain()
    SparkEntry.queries("q254_negative_sampling")(spark, sf).count()
    val routes = graft.core.Routing.drain()
    assert(routes.contains("neg-sample=hex1"), routes.toString)
  }

  test("descCumScoreCells: forced-bucketed suffix sums == window form " +
    "(partialAuc/operatingPoints/costCurve kernel)") {
    val base = spark.range(3000).selectExpr(
      "CAST(id % 37 AS DOUBLE) + CAST(id % 3 AS DOUBLE) * 0.25 AS __s",
      "CAST(id % 5 = 0 AS LONG) AS __y")
    def m(d: org.apache.spark.sql.DataFrame) =
      d.select("__s", "__c", "__p", "__cge", "__pge", "__nt", "__np")
        .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    val win = graft.ml.Metrics.descCumScoreCells(base)
    val buck = graft.ml.Metrics.descCumScoreCells(base, smallMaxRows = 0)
    assert(m(win) == m(buck))
  }
}
