package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Steady-state measurement pass over every SparkEntry query at `dir`:
    * full-scan warmup through the noop sink (loads data pages into the OS
    * page cache — count() would read only row-group metadata), then `reps`
    * timed runs per query in deterministic name order, aggregated with
    * `agg` (min — a loaded-sandbox spike or a first-touch codegen compile
    * inflates a rep, never deflates it, so min-of-2 is the steady-state
    * estimate the old untimed-pre-pass+median-of-3 protocol measured, at
    * 2/4 the wall-clock; rounds 11-12 proved the driver budget cannot
    * afford 4 sweeps of a 519-query suite). Returns (per-query seconds,
    * per-query adaptive-path routes) — routes come from
    * [[graft.core.Routing]] so the scale ladder can name which queries
    * switched exact→bucketed paths. `tick(i, n)` fires after each timed
    * query so the caller can heartbeat (and, mid-ladder, re-print the
    * already-complete base evidence line — see main). */
  private def runPass(spark: SparkSession, dir: String, reps: Int,
                      agg: Seq[Double] => Double,
                      only: Set[String] = Set.empty,
                      tick: (Int, Int) => Unit = (_, _) => ())
      : (Seq[(String, Double)], Map[String, Seq[String]], Map[String, String]) = {
    Seq("lineitem", "orders", "customer", "nation", "supplier", "region",
      "part", "events", "documents", "embeddings").foreach { tb =>
      try graft.core.Tables.load(spark, dir, tb)
        .write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    val routes = scala.collection.mutable.Map.empty[String, Seq[String]]
    // r13 verdict item 1: a rep that THROWS must never be silently folded
    // into the timings (both r13 driver runs ended the 10x ladder with a
    // FileScanRDD task failure that the record showed as a clean time).
    // The rep's wall-clock is still recorded (unchanged aggregation), but
    // the error is surfaced per query in the summary and compact line.
    val errors = scala.collection.mutable.Map.empty[String, String]
    val results = ordered.zipWithIndex.map { case ((name, fn), i) =>
      def timedRun(): Double = {
        graft.core.Routing.drain()
        val t0 = System.nanoTime()
        try { fn(spark, dir).count() } catch { case e: Throwable =>
          val root = { var c: Throwable = e
            while (c.getCause != null && c.getCause != c) c = c.getCause; c }
          errors(name) = (e.getClass.getSimpleName + ": " +
            String.valueOf(root.getMessage)).take(220)
            .replaceAll("""["\\\n\r\t]""", " ")
          -1L }
        val sec = (System.nanoTime() - t0) / 1e9
        val r = graft.core.Routing.drain()
        if (r.nonEmpty) routes(name) = r
        sec
      }
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      (1 to reps).foreach(_ => times += timedRun())
      // heavy-query stabilization: without the old untimed pre-pass,
      // rep 1 of a JIT-heavy query (MLlib training, multi-job
      // lifecycles) carries first-touch cost and min-of-2 then reads the
      // 2nd execution, which for those queries is still descending —
      // the first r13 record read q121 at 14.5 s vs its 8 s steady
      // state. Re-measure while the best rep is still >25% ahead of the
      // runner-up (only above 1 s, max 3 extras): converges to the
      // steady-state min at ~1/6 the cost of a full untimed pre-pass.
      var extra = 0
      while (extra < 3 && times.size >= 2 && {
        val s = times.sorted
        s(0) > 1.0 && s(1) > 1.25 * s(0)
      }) { times += timedRun(); extra += 1 }
      tick(i + 1, ordered.size)
      name -> agg(times.toSeq)
    }
    (results, routes.toMap, errors.toMap)
  }

  private def jsonStrMap(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")

  private def jsonQueries(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** 10× replica of `baseDir` (ScaleUp rules — disjoint shingles,
    * decorrelated cross-replica cosine, referential integrity preserved),
    * generated once and reused via a marker file recording the source +
    * factor. Lives OUTSIDE target/ by default (env
    * SPARK_GRAFT_LADDER_DIR, else /tmp/graft-ladder) so the driver's
    * fresh checkout does not pay ~minutes of regeneration every round —
    * regeneration time is exactly what pushed the r12 driver bench past
    * its budget (rc=124, the round's bench record zeroed). Falls back to
    * target/ladder when the scratch root is not writable. */
  private def ladderDir(spark: SparkSession, baseDir: String, factor: Int): String = {
    val root = sys.env.get("SPARK_GRAFT_LADDER_DIR").getOrElse {
      val tmp = new java.io.File("/tmp/graft-ladder")
      if ((tmp.isDirectory || tmp.mkdirs()) && tmp.canWrite)
        tmp.getAbsolutePath
      else new java.io.File("target/ladder").getAbsolutePath
    }
    val out = new java.io.File(root, s"sf-x$factor").getAbsolutePath
    val marker = new java.io.File(out, ".ladder_ok")
    val stamp = s"src=$baseDir;factor=$factor"
    val ok = marker.isFile &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == stamp
    if (!ok) {
      graft.tools.ScaleUp.scale(spark, baseDir, out, factor)
      java.nio.file.Files.write(marker.toPath, stamp.getBytes)
    }
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // session warmup: first-codegen/parquet-reader/shuffle-infra init used
    // to land on whichever query the hash map put first (q07 measured ~5s
    // of pure session warmup in round 1). No data is cached — measured
    // queries still scan cold.
    spark.range(1000).selectExpr("sum(id)").collect()
    // r13: the first HEAVY query of the pass (q03, alphabetically) was
    // additionally paying the JVM's cold C2/Janino compilation of the
    // shared operator paths — 15.4 s recorded vs a 2.5 s steady state
    // measured in isolation. Compile those paths once on SYNTHETIC rows
    // (decimal aggregate, rank window, hash join + groupBy): no input
    // data is read, so every measured query still scans cold.
    // best-effort: a warmup failure must never cost the round's bench
    // record (the r11/r12 lesson about single points of failure on the
    // evidence path)
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val w = spark.range(200000).select(col("id"),
        (col("id") % 97).as("k"),
        (col("id") % 100000).cast("decimal(18,2)").as("d"),
        (col("id") % 9973).cast("double").as("x"))
      w.groupBy("k")
        .agg(sum(col("d") * col("d")).as("sd"), avg("x").as("ax"),
          count(lit(1)).as("n"))
        .join(w.groupBy("k").agg(max("x").as("mx")), "k")
        .select(sum(col("sd").cast("double") + col("mx")).as("s"))
        .collect()
      w.select(col("k"), col("x"),
          row_number().over(Window.partitionBy("k").orderBy("x", "id")).as("r"))
        .filter(col("r") <= 3).agg(sum("x")).collect()
    } catch { case scala.util.control.NonFatal(_) => () }
    // (NonFatal, not Throwable: a fatal VM error — OOM, stack overflow —
    // during warmup means the JVM is not trustworthy for measurement; let
    // it die loudly rather than taint the round's bench record.)

    // Tracked per-round naming (VERDICT r9 item 4): the driver does not
    // set SPARK_GRAFT_ROUND, so infer the round from the BENCH_r{N}.json
    // files it has already written — this run is max(N)+1.
    val round = sys.env.get("SPARK_GRAFT_ROUND").getOrElse {
      val pat = "BENCH_r(\\d+)\\.json".r
      val seen = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .flatMap(f => pat.findFirstMatchIn(f.getName).map(_.group(1).toInt))
      if (seen.isEmpty) "current" else (seen.max + 1).toString
    }
    // The driver's stdout capture keeps only a ~2000-char tail (rounds 3-8
    // landed as "parsed": null because the full 519-query line is ~15 kB
    // and was always cut mid-JSON) — persist the full JSON where it can't
    // be truncated: once under target/ (local scratch) and once under
    // bench/ (tracked, so round-over-round per-query comparison survives
    // the sandbox) — and print only the compact line that FITS the tail.
    def persist(summary: String): Unit =
      Seq(new java.io.File("target/bench_summary.json"),
          new java.io.File(s"bench/summary_r$round.json")).foreach { f =>
        f.getParentFile.mkdirs()
        java.nio.file.Files.write(f.toPath, summary.getBytes("UTF-8"))
        System.err.println(s"[bench] full summary written to ${f.getAbsolutePath}")
      }
    def r3(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val headline = Seq("q01_pricing_summary", "q03_descriptive_stats",
      "q07_correlations", "q08_value_counts", "q09_outliers",
      "q32_minhash_lsh", "q49_knn_euclidean", "q108_ivf_index",
      "q114_gbt_lifecycle", "q118_hpo_search", "q121_semantic_dedup",
      "q125_pq_topk", "q204_ecod_outliers", "q239_spectral_embedding")
    def compactLine(total: Double, n: Int, rmap: Map[String, Double],
                    errNames: Seq[String], ladderCompact: String): String = {
      val headJson = headline.flatMap(h => rmap.get(h).map(v =>
        "\"" + h + "\":" + r3(v))).mkString("{", ",", "}")
      val errJson = errNames.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir",""" +
        s""""n_queries":$n,"queries":$headJson,"errors":$errJson,""" +
        s""""full_summary":"bench/summary_r$round.json"$ladderCompact}"""
    }

    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val t0 = System.nanoTime()
    def hb(stage: String)(i: Int, n: Int): Unit =
      if (i % 25 == 0 || i == n) System.err.println(
        f"[bench] $stage $i/$n elapsed ${(System.nanoTime() - t0) / 1e9}%.0fs")
    val (results, baseRoutes, baseErrors) =
      runPass(spark, sfDir, reps, _.min, tick = hb("base"))
    val total = results.map(_._2).sum
    val rmap = results.toMap

    // EVIDENCE FIRST (the lesson rounds 11-12 each paid one artifact to
    // learn): the base-pass record — files AND the driver-parseable
    // GRAFT_BENCH_JSON line — is emitted BEFORE any ladder work, so a
    // driver budget kill mid-ladder still leaves a complete parsed bench
    // record instead of rc=124/parsed:null (BENCH_r12.json).
    val baseSummary =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jsonQueries(results)},"errors":${jsonStrMap(baseErrors)},"sf":"$sfDir","reps":$reps,"agg":"min"}"""
    persist(baseSummary)
    val baseCompact = compactLine(total, results.size, rmap,
      baseErrors.keys.toSeq, "")
    println("GRAFT_BENCH_JSON " + baseCompact)
    println(baseCompact)

    // Scale ladder (VERDICT r4 item 1): when benching the driver's sf0.1
    // dir, also measure a 10× replica so the bench RECORD — not just the
    // plan shape — shows how every query scales. SPARK_GRAFT_LADDER=0
    // skips it (local iteration). Single timed sweep (codegen is warm
    // from the base pass, data pages from the noop warmup scan); a query
    // is flagged only if its ladder time exceeds 15× base on BOTH the
    // sweep AND a confirming re-run, so min-of-1 can't turn a transient
    // sandbox stall into a false scale flag.
    val (ladder, ladderCompact) =
      if (new java.io.File(sfDir).getName != "sf0.1" ||
          sys.env.get("SPARK_GRAFT_LADDER").contains("0")) ("", "")
      else {
        // the WindowExec/broadcast WARN spam of 519 queries is what
        // filled the driver's captured tail in r12 — during the ladder,
        // keep the log stream quiet so the evidence lines above stay in
        // the tail if this process is killed
        spark.sparkContext.setLogLevel("ERROR")
        val factor = 10
        val dir = ladderDir(spark, sfDir, factor)
        val (big1, bigRoutes, ladderErrors1) = runPass(spark, dir, 1, _.min,
          tick = (i, n) => {
            hb("ladder")(i, n)
            // keep the driver tail parseable at any kill point: both the
            // sentinel-prefixed copy (greppable) and the bare JSON line
            // (json.loads-able), same shape as the final emission
            if (i % 50 == 0) {
              println("GRAFT_BENCH_JSON " + baseCompact)
              println(baseCompact)
            }
          })
        val base = rmap
        // sub-0.2s base timings are fixed per-query overhead (job
        // scheduling, codegen cache lookups); their ratios are noise
        def over(name: String, sec: Double): Boolean =
          base.getOrElse(name, 0.0) >= 0.2 && sec > 15 * base(name)
        val suspects = big1.collect { case (n, s) if over(n, s) => n }.toSet
        val (confirmSeq, _, confirmErrors) =
          if (suspects.isEmpty)
            (Seq.empty[(String, Double)], Map.empty[String, Seq[String]],
              Map.empty[String, String])
          else runPass(spark, dir, 1, _.min, only = suspects)
        val confirm = confirmSeq.toMap
        // a query that errored on the sweep but succeeded on the confirm
        // re-run is still reported (transient vs persistent is for the
        // reader to judge from both runs' records)
        val ladderErrors = ladderErrors1 ++ confirmErrors
        val big = big1.map { case (n, s) =>
          n -> math.min(s, confirm.getOrElse(n, s)) }
        val bigTotal = big.map(_._2).sum
        val flagged = big.collect { case (n, s) if over(n, s) => n }
        val switched = big.map(_._1).filter { n =>
          bigRoutes.getOrElse(n, Nil) != baseRoutes.getOrElse(n, Nil)
        }
        def jarr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
        def jroutes(m: Map[String, Seq[String]]) = m.toSeq.sortBy(_._1)
          .map { case (k, v) => "\"" + k + "\":" + jarr(v) }.mkString("{", ",", "}")
        (s""","ladder":{"factor":$factor,"total":$bigTotal,""" +
          s""""queries":${jsonQueries(big)},"flagged":${jarr(flagged)},""" +
          s""""errors":${jsonStrMap(ladderErrors)},""" +
          s""""switched":${jarr(switched)},"routes_base":${jroutes(baseRoutes)},""" +
          s""""routes_scaled":${jroutes(bigRoutes)}}""",
         s""","ladder":{"factor":$factor,"total":${math.round(bigTotal * 1000) / 1000.0},""" +
           s""""flagged":${jarr(flagged)},""" +
           s""""errors":${jarr(ladderErrors.keys.toSeq.sorted)},""" +
           s""""switched":${jarr(switched)}}""")
      }

    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jsonQueries(results)},"errors":${jsonStrMap(baseErrors)},"sf":"$sfDir","reps":$reps,"agg":"min"$ladder}"""
    persist(summary)
    spark.stop()
    // Full per-query map in tail-safe chunked form (r13 verdict item 3:
    // the compact line carries only the 14-query headline because the
    // driver keeps a ~2 kB stdout tail): GRAFT_BENCH_JSON_PART i/n lines
    // land BEFORE the final compact lines so a full-stdout reader can
    // reassemble the whole record while the tail still ends with the
    // parseable compact JSON. Chunks split the same summary string that
    // persist() wrote to bench/summary_r$round.json.
    summary.grouped(1800).toSeq.zipWithIndex.foreach { case (chunk, i) =>
      println(s"GRAFT_BENCH_JSON_PART ${i + 1}/" +
        s"${(summary.length + 1799) / 1800} $chunk")
    }
    // LAST stdout lines: the ladder-inclusive compact summary, printed
    // after spark.stop() so no executor-shutdown logging can land after
    // it — a sentinel-prefixed copy (greppable) and the bare JSON as the
    // very last line (json.loads-able); outputStrategy=StdoutOutput +
    // showSuccess=false in build.sbt keeps sbt's own output away.
    val compact = compactLine(total, results.size, rmap,
      baseErrors.keys.toSeq, ladderCompact)
    println("GRAFT_BENCH_JSON " + compact)
    println(compact)
  }
}
