package graft.perfbench

/** The per-layer metrics of the traced run, computed from the spans,
  * the Spark listener records and the values the workloads measure
  * themselves. Every metric is reported by every workload; a layer a
  * workload never calls reads 0 there. */
object Layers {
  val opsModules: Seq[String] = Seq("Relational", "Incremental", "Joins",
    "Windows", "TextOps", "VectorOps", "TextDedup", "Media")

  /** (name, unit, better) of every per-layer metric, in report order. */
  val metrics: Seq[(String, String, String)] = Seq(
    ("spark.plan_s", "s", "lower"),
    ("spark.codegen_s", "s", "lower"),
    ("spark.codegen_classes", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.driver_gap_s", "s", "lower"),
    ("spark.job_wall_s", "s", "lower"),
    ("spark.task_run_s", "s", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.core_util", "ratio", "higher"),
    ("spark.under_split_stages", "count", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.input_bytes", "bytes", "lower"),
    ("spark.output_bytes", "bytes", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("util.warm_persisted_s", "s", "lower"),
    ("util.storage_used_mb", "MB", "lower")) ++
    opsModules.flatMap(m => Seq(
      (s"ops.$m.build_s", "s", "lower"),
      (s"ops.$m.exec_s", "s", "lower"),
      (s"ops.$m.jobs", "count", "lower"))) ++ Seq(
    ("functions.kernel_exec_s", "s", "lower"),
    ("sources.fetch_s", "s", "lower"),
    ("sources.fetch_attempts", "count", "lower"),
    ("sources.fetch_retries", "count", "lower"),
    ("sources.fetch_ok_ratio", "ratio", "higher"),
    ("etl.watermark_s", "s", "lower"),
    ("etl.watermark_growth", "ratio", "lower"),
    ("etl.load_s", "s", "lower"),
    ("etl.sink_files", "count", "lower"),
    ("etl.sink_bytes", "bytes", "lower"),
    ("etl.upsert_s", "s", "lower"),
    ("etl.delete_s", "s", "lower"),
    ("etl.compact_s", "s", "lower"),
    ("etl.versioned_s", "s", "lower"),
    ("etl.files_rewritten", "count", "lower"),
    ("streaming.trigger_s", "s", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.query_planning_s", "s", "lower"),
    ("streaming.wal_commit_s", "s", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.rows", "count", "higher"),
    ("self.op_s", "s", "lower"),
    ("self.call_s", "s", "lower"),
    ("self.job_s", "s", "lower"),
    ("self.stage_s", "s", "lower"),
    ("trace.spans", "count", "lower"),
    ("trace.overhead_setup_s", "s", "lower"),
    ("trace.overhead_timed_total_s", "s", "lower"))

  /** Spans whose parent is the span that was current when the call began
    * but which started after it ended (a streaming query's jobs run on
    * its own thread with the properties of the call that started it)
    * move under the innermost benchmark span that covers their start. */
  def reparent(spans: Seq[Span]): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    val bench = spans.filter(s => s.kind == "op" || s.kind == "call" || s.kind == "run")
    spans.map { s =>
      val p = byId.get(s.parent)
      if (s.kind != "job" || p.forall(q => s.start >= q.start && s.start <= q.end)) s
      else bench.filter(b => b.start <= s.start && s.start <= b.end)
        .sortBy(b => (-b.start, b.dur)).headOption
        .fold(s)(b => s.copy(parent = b.id))
    }
  }

  def compute(r: Run, t: SparkTrace): Map[String, Double] = {
    t.drain()
    val spans = reparent(r.tracer.synchronized(r.tracer.spans.toVector))
    val timed = r.ops.filter(_.timed).map(o => (o.start, o.end)).toVector
    def inTimed(at: Long) = timed.exists { case (a, b) => a <= at && at <= b }
    val jobs = spans.filter(s => s.kind == "job" && inTimed(s.start))
    val jobNums = jobs.map(_.name.stripPrefix("job:").toInt).toSet
    val stages = t.synchronized(t.stages.toVector).filter(st => jobNums(st.job))
    val jobIvs = jobs.map(j => (j.start, j.end))
    val jobWall = timed.map { case (a, b) => Spans.covered(jobIvs, a, b) }.sum / 1e9
    val opWall = timed.map { case (a, b) => b - a }.sum / 1e9
    val taskRun = stages.map(_.runMs).sum / 1e3
    val (w0, w1) = if (timed.isEmpty) (0L, 0L) else (timed.map(_._1).min, timed.map(_._2).max)
    val self = Spans.selfTimes(spans)
    def calls(name: String, timedOnly: Boolean = true) =
      spans.filter(s => s.kind == "call" && s.name == name && (!timedOnly || inTimed(s.start)))
    def callSecs(name: String, timedOnly: Boolean = true) = calls(name, timedOnly).map(_.dur).sum / 1e9
    // one report per micro-batch (the last, if a batch was reported twice)
    val progress = t.synchronized(t.progress.toVector).groupBy(_.batch).values.map(_.last).toVector
    def progressSecs(key: String) = progress.map(_.durations.getOrElse(key, 0L)).sum / 1e3

    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    metrics.foreach { case (n, _, _) => m(n) = 0.0 }
    m("spark.plan_s") = t.synchronized(t.planPhases.toVector)
      .collect { case (at, ms) if at >= w0 && at <= w1 + 500000000L => ms }.sum / 1e3
    m("spark.codegen_s") = r.codegenNs / 1e9
    m("spark.codegen_classes") = r.codegenClasses.toDouble
    m("spark.jobs") = jobs.size.toDouble
    m("spark.stages") = stages.size.toDouble
    m("spark.tasks") = stages.map(_.tasks).sum.toDouble
    m("spark.driver_gap_s") = opWall - jobWall
    m("spark.job_wall_s") = jobWall
    m("spark.task_run_s") = taskRun
    m("spark.task_cpu_s") = stages.map(_.cpuNs).sum / 1e9
    m("spark.core_util") = if (jobWall > 0) taskRun / (jobWall * r.cores) else 0.0
    m("spark.under_split_stages") = stages.count(_.tasks < r.cores).toDouble
    m("spark.shuffle_read_bytes") = stages.map(_.shuffleRead).sum.toDouble
    m("spark.shuffle_write_bytes") = stages.map(_.shuffleWrite).sum.toDouble
    m("spark.spill_bytes") = stages.map(_.spill).sum.toDouble
    m("spark.input_bytes") = stages.map(_.input).sum.toDouble
    m("spark.output_bytes") = stages.map(_.output).sum.toDouble
    m("spark.gc_s") = stages.map(_.gcMs).sum / 1e3
    opsModules.foreach { mod =>
      val cs = calls(s"ops.$mod.build") ++ calls(s"ops.$mod.exec")
      val ids = cs.map(_.id).toSet
      m(s"ops.$mod.build_s") = callSecs(s"ops.$mod.build")
      m(s"ops.$mod.exec_s") = callSecs(s"ops.$mod.exec")
      m(s"ops.$mod.jobs") = jobs.count(j => ids(j.parent)).toDouble
    }
    m("sources.fetch_s") = callSecs("sources.fetch")
    m("etl.watermark_s") = callSecs("etl.watermark", timedOnly = false)
    m("etl.load_s") = callSecs("etl.runIncremental")
    m("etl.upsert_s") = callSecs("etl.upsert")
    m("etl.delete_s") = callSecs("etl.deleteKeys")
    m("etl.compact_s") = callSecs("etl.compact")
    m("etl.versioned_s") = callSecs("etl.versioned")
    m("streaming.trigger_s") = progressSecs("triggerExecution")
    m("streaming.add_batch_s") = progressSecs("addBatch")
    m("streaming.query_planning_s") = progressSecs("queryPlanning")
    m("streaming.wal_commit_s") = progressSecs("walCommit")
    m("streaming.batches") = progress.count(_.rows > 0).toDouble
    m("streaming.rows") = progress.map(_.rows).sum.toDouble
    Seq("op", "call", "job", "stage").foreach { k =>
      m(s"self.${k}_s") = spans.filter(s => s.kind == k && inTimed(s.start))
        .map(s => self(s.id)).sum / 1e9
    }
    m("trace.spans") = spans.size.toDouble
    r.layer.foreach { case (k, v) => m(k) = v }
    m.toMap
  }
}
