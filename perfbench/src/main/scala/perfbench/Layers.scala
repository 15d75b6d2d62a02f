package perfbench

/** One timed operation: a poll tick (`etl_poll`) or one lane invocation. */
final case class Op(key: String, kind: String, pass: Int, traced: Boolean,
                    startMs: Long, endMs: Long, wallMs: Double,
                    constructMs: Double, materializeMs: Double, rows: Long,
                    error: Option[String], mismatch: Option[String],
                    extra: Map[String, Double] = Map.empty)

/** Per-layer metrics of a traced window: spans attributed to ops by time
  * window, reported per pass (totals over the window / passes) unless the
  * metric is a ratio or a percentile. Layers the workload never reaches
  * read 0.
  */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (s max lo, e min hi) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = curE max e
      }
    if (curE > curS) total += curE - curS
    total
  }

  def compute(ops: Seq[Op], spans: Seq[Span], passes: Int, cores: Int): Map[String, Double] = {
    val p = passes.max(1).toDouble
    def inOp(t: Long): Boolean = ops.exists(o => t >= o.startMs && t <= o.endMs)
    def of(kind: String) = spans.filter(s => s.kind == kind && inOp(s.start))
    val jobs = of("job")
    val tasks = of("task")
    val triggers = of("trigger")
    val jobIv = jobs.map(j => (j.start, j.end))
    def attr(ss: Seq[Span], k: String) = ss.map(_.attrs.getOrElse(k, 0.0)).sum
    val opMs = ops.map(_.wallMs).sum
    val jobBusy = ops.map(o => covered(jobIv, o.startMs, o.endMs).toDouble).sum
    val taskMs = attr(tasks, "run_ms")
    val skew = tasks.groupBy(_.name).values.filter(_.size > 1).map { ts =>
      val d = ts.map(t => (t.end - t.start).toDouble)
      val m = median(d)
      if (m > 0) d.max / m else 1.0
    }.toSeq
    def phase(name: String) = of("catalyst").filter(_.name == name).map(s => (s.end - s.start).toDouble).sum
    def dur(k: String) = triggers.map(_.attrs.getOrElse(k, 0.0)).sum
    // addBatch time with no Spark job running: the driver-side sink work
    // (the Derby merge for the JDBC sink)
    val addBatchGap = triggers.map { t =>
      val busy = covered(jobIv, t.start, t.end).toDouble
      (t.attrs.getOrElse("addBatch", 0.0) - busy).max(0.0)
    }.sum
    // stream start: query start to its first trigger; stop: last trigger
    // end to termination
    val starts = of("stream_start").map(s => s.name -> s.start).toMap
    val ends = spans.filter(_.kind == "stream_end").map(s => s.name -> s).toMap
    val byQuery = triggers.groupBy(_.name)
    val startMs = byQuery.collect { case (id, ts) if starts.contains(id) =>
      (ts.map(_.start).min - starts(id)).max(0L).toDouble }.sum
    val stopMs = byQuery.collect { case (id, ts) if ends.contains(id) =>
      (ends(id).start - ts.map(_.end).max).max(0L).toDouble }.sum
    val inputBytes = attr(tasks, "input")
    val written = ops.map(_.extra.getOrElse("sink_bytes", 0.0)).sum
    val moduleLayers = Lanes.modules.flatMap { case (m, _) =>
      val mine = ops.filter(o => Lanes.moduleOf.get(o.key).contains(m))
      val mJobs = jobs.count(j => mine.exists(o => j.start >= o.startMs && j.start <= o.endMs))
      Seq(s"module.$m.ms" -> mine.map(_.wallMs).sum / p, s"module.$m.jobs" -> mJobs / p)
    }
    val mb = 1024.0 * 1024.0
    Map(
      "lane.construct_ms" -> ops.map(_.constructMs).sum / p,
      "lane.materialize_ms" -> ops.map(_.materializeMs).sum / p,
      "catalyst.analysis_ms" -> phase("analysis") / p,
      "catalyst.optimization_ms" -> phase("optimization") / p,
      "catalyst.planning_ms" -> phase("planning") / p,
      "catalyst.executions" -> of("catalyst").count(_.name == "planning") / p,
      "codegen.compiles" -> ops.map(_.extra.getOrElse("compiles", 0.0)).sum / p,
      "codegen.compile_ms" -> attr(of("compile"), "ms") / p,
      "spark.jobs" -> jobs.size / p,
      "spark.stages" -> attr(jobs, "stages") / p,
      "spark.tasks" -> tasks.size / p,
      "spark.job_p50_ms" -> median(jobs.map(j => (j.end - j.start).toDouble)),
      "spark.job_busy_ms" -> jobBusy / p,
      "spark.driver_gap_ms" -> (opMs - jobBusy).max(0.0) / p,
      "spark.task_ms" -> taskMs / p,
      "spark.gc_ms" -> attr(tasks, "gc_ms") / p,
      "spark.slot_util" -> (if (jobBusy > 0) taskMs / (jobBusy * cores) else 0.0),
      "spark.shuffle_read_mb" -> attr(tasks, "shuffle_read") / mb / p,
      "spark.shuffle_write_mb" -> attr(tasks, "shuffle_write") / mb / p,
      "spark.spill_mb" -> attr(tasks, "spill") / mb / p,
      "spark.task_skew" -> median(skew),
      "stream.start_ms" -> startMs / p,
      "stream.latest_offset_ms" -> dur("latestOffset") / p,
      "stream.query_planning_ms" -> dur("queryPlanning") / p,
      "stream.add_batch_ms" -> dur("addBatch") / p,
      "stream.wal_commit_ms" -> dur("walCommit") / p,
      "stream.commit_offsets_ms" -> dur("commitOffsets") / p,
      "stream.trigger_ms" -> dur("triggerExecution") / p,
      "stream.stop_ms" -> stopMs / p,
      "stream.batches" -> triggers.count(_.attrs.getOrElse("input_rows", 0.0) > 0) / p,
      "stream.input_rows" -> dur("input_rows") / p,
      "stream.retries" -> spans.count(s => s.kind == "stream_end" &&
        s.attrs.getOrElse("failed", 0.0) > 0 && starts.contains(s.name)) / p,
      "jdbc.add_batch_gap_ms" -> addBatchGap / p,
      "sink.bytes_written_mb" -> written / mb / p,
      "sink.files_written" -> ops.map(_.extra.getOrElse("sink_files", 0.0)).sum / p,
      "sink.write_amp" -> (if (inputBytes > 0) written / inputBytes else 0.0)
    ) ++ moduleLayers
  }
}
