package perfbench

/** Per-layer metrics and spans of the traced run. Additive metrics are
  * per pass (run total ÷ completed passes), so they compare with `wall_s`
  * whatever the number of passes a run fitted in. */
object Layers {
  val Modules = Seq("entry", "eda", "views", "functions", "proximity", "dedup", "text",
    "ml", "operators", "transforms", "api", "stores", "sources", "streaming",
    "multimodal")

  /** Routing decisions that switch to an approximate or bucketed path. */
  private def bucketed(route: String): Boolean = {
    val path = route.substring(route.indexOf('=') + 1)
    path.contains("bucket") || path == "lsh" || path == "ivf"
  }

  private def jobsOf(t: Trace, r: OpRec): Seq[Trace.Job] =
    t.jobs.values.filter(j => j.group == r.group ||
      (j.group.isEmpty && j.start >= r.start && j.start <= r.end)).toSeq

  /** Length of the part of [lo, hi] covered by the intervals. */
  private def covered(lo: Double, hi: Double, iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var cur = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { total += b - math.max(a, cur); cur = b }
      }
    total
  }

  def compute(out: Report, t: Trace, recs: Seq[OpRec], passes: Int,
              loadS: Double, wallS: Double): Unit = {
    val p = passes.toDouble
    val MB = 1048576.0
    def per(name: String, v: Double, unit: String): Unit = out.layer(name, v / p, unit)

    val jobsBy = recs.map(r => r -> jobsOf(t, r)).toMap
    def stagesOf(js: Seq[Trace.Job]): Seq[Trace.Stage] = js.flatMap(j =>
      j.stages.filter(s => t.stageJob.get(s).contains(j.id)).flatMap(t.stages.get))
    def tasksOf(j: Trace.Job): Int = stagesOf(Seq(j)).map(_.tasks).sum

    val construct = recs.map(_.constructS).sum
    val action = recs.map(_.actionS).sum
    val allJobs = recs.flatMap(jobsBy)
    val cJobs = recs.map(r => jobsBy(r).count(_.start < r.mid)).sum
    per("entry.construct_s", construct, "s")
    per("entry.construct_jobs", cJobs, "count")
    out.layer("entry.construct_share",
      if (construct + action > 0) construct / (construct + action) else 0.0, "ratio")
    per("exec.action_s", action, "s")
    per("exec.action_jobs", allJobs.size - cJobs, "count")

    val stages = stagesOf(allJobs)
    val tasks = stages.map(_.tasks).sum
    per("spark.jobs", allJobs.size, "count")
    per("spark.tasks", tasks, "count")
    per("spark.single_task_jobs", allJobs.count(j => tasksOf(j) == 1), "count")
    out.layer("spark.tasks_per_job",
      if (allJobs.nonEmpty) tasks.toDouble / allJobs.size else 0.0, "count")
    per("spark.gap_s", recs.map { r =>
      val iv = jobsBy(r).map(j => (j.start.toDouble, (if (j.end < 0) r.end else j.end.toDouble)))
      (r.end - r.start - covered(r.start, r.end, iv)) / 1000
    }.sum, "s")
    per("spark.task_run_s", stages.map(_.runMs).sum / 1000.0, "s")
    per("spark.task_cpu_s", stages.map(_.cpuNs).sum / 1e9, "s")
    per("spark.jvm_gc_s", stages.map(_.gcMs).sum / 1000.0, "s")
    per("spark.input_mb", stages.map(_.inBytes).sum / MB, "MB")
    per("spark.input_rows", stages.map(_.inRows).sum.toDouble, "count")
    per("spark.shuffle_read_mb", stages.map(_.shReadBytes).sum / MB, "MB")
    per("spark.shuffle_write_mb", stages.map(_.shWriteBytes).sum / MB, "MB")
    per("spark.spill_mb", stages.map(_.spillBytes).sum / MB, "MB")
    per("spark.storage_blocks", t.rddBlocks.toDouble, "count")

    out.layer("core.load_s", loadS, "s")
    val routes = recs.flatMap(_.routes)
    per("core.routes_exact", routes.count(r => !bucketed(r)), "count")
    per("core.routes_bucketed", routes.count(bucketed), "count")

    Modules.foreach { m =>
      val rs = recs.filter(_.op.module == m)
      per(s"$m.op_s", rs.map(_.latencyS).sum, "s")
      per(s"$m.jobs", rs.map(r => jobsBy(r).size).sum, "count")
    }

    def tagged(tag: String) = recs.filter(_.op.tag == tag)
    def tagS(tag: String) = tagged(tag).map(_.latencyS).sum
    per("api.inference_s", tagS("api.inference"), "s")
    per("api.cached_inference_s", tagS("api.cached_inference"), "s")
    val cached = tagged("api.cached_inference")
    val batchRows = cached.map(_.extra.getOrElse("batch_rows", 0.0)).sum
    val newKeys = cached.map(_.extra.getOrElse("new_keys", 0.0)).sum
    out.layer("api.cache_hit_ratio",
      if (batchRows > 0) 1.0 - newKeys / batchRows else 0.0, "ratio")
    per("api.monitor_s", tagS("api.monitor"), "s")
    per("stores.append_s", tagS("stores.append"), "s")
    per("stores.read_s", tagS("stores.read"), "s")
    per("stores.registry_s", tagS("stores.registry"), "s")
    per("stores.files_written", recs.map(_.files).sum.toDouble, "count")
    per("stores.mb_written", recs.map(_.bytes).sum / MB, "MB")
    per("ml.train_s", tagS("ml.train"), "s")
    per("ml.train_jobs", tagged("ml.train").map(r => jobsBy(r).size).sum, "count")

    out.e2eMetrics.get("peak_storage_mb").foreach { case (v, u) => out.layer("peak_storage_mb", v, u) }
    out.e2eMetrics.get("failed_ops").foreach { case (v, u) => out.layer("failed_ops", v, u) }
    out.layer("trace.wall_s", wallS, "s")
  }

  /** Spans op → construct/action → job → stage, one JSON object each. */
  def writeSpans(path: String, t: Trace, recs: Seq[OpRec]): Unit = {
    val sb = new StringBuilder("[\n")
    var first = true
    def span(id: String, parent: String, kind: String, name: String,
             start: Double, end: Double): Unit = {
      if (!first) sb.append(",\n")
      first = false
      val n = name.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("[\\x00-\\x1f]", " ")
      sb.append(s"""{"id": "$id", "parent": ${if (parent == null) "null" else "\"" + parent + "\""}, """ +
        s""""kind": "$kind", "name": "$n", "start_ms": $start, "end_ms": $end}""")
    }
    recs.foreach { r =>
      span(r.group, null, "op", r.op.name, r.start, r.end)
      span(r.group + "/construct", r.group, "construct", r.op.name, r.start, r.mid)
      span(r.group + "/action", r.group, "action", r.op.name, r.mid, r.end)
      jobsOf(t, r).foreach { j =>
        val phase = if (j.start < r.mid) "construct" else "action"
        val jid = s"job-${j.id}"
        span(jid, s"${r.group}/$phase", "job", s"job ${j.id}", j.start.toDouble,
          (if (j.end < 0) r.end else j.end.toDouble))
        j.stages.filter(s => t.stageJob.get(s).contains(j.id)).flatMap(t.stages.get)
          .foreach(s => span(s"stage-${s.id}", jid, "stage", s.name, s.submit.toDouble, s.end.toDouble))
      }
    }
    sb.append("\n]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), sb.toString.getBytes("UTF-8"))
  }
}
