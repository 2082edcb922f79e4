package perfbench

/** Per-layer metrics from a traced run's spans, normalised per op (a query
  * run, or an ingest micro-batch). Layers: queries (DataFrame
  * construction), catalyst (QueryExecution phases), scheduler (jobs, stages,
  * tasks), executor (task time), shuffle and scan I/O, materialize (RDD
  * blocks stored), engine, streaming, etl. */
object Layers {
  type Metric = (String, Double, String)

  def closedLoop(spans: Seq[Span], blockBytes: Double, compilations: Long): Seq[Metric] = {
    val ops = spans.filter(_.kind == "op")
    val n = math.max(ops.size, 1).toDouble
    val cores = Box.cores
    val construct = spans.filter(_.kind == "construct")
    val constructIds = construct.map(_.id).toSet
    val jobs = spans.filter(_.kind == "job")
    val stages = spans.filter(_.kind == "stage")
    val qes = spans.filter(_.kind == "qe")
    def stageSum(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
    def qeSum(k: String) = qes.map(_.attrs.getOrElse(k, 0.0)).sum
    val opWall = ops.map(_.ms).sum
    val run = stageSum("run_ms")
    val children = spans.groupBy(_.parent)
    Seq(
      ("queries.construct_ms", construct.map(_.ms).sum / n, "ms"),
      // Construction time not covered by the jobs it launched: driver-side
      // DataFrame building, analysis and the driver loops themselves.
      ("queries.construct_self_ms",
        construct.map(c => Tracer.selfMs(c, children.getOrElse(c.id, Nil))).sum / n, "ms"),
      ("queries.construct_jobs", jobs.count(j => constructIds(j.parent)) / n, "count"),
      ("queries.construct_share", construct.map(_.ms).sum / opWall, "ratio"),
      ("scheduler.jobs", jobs.size / n, "count"),
      ("scheduler.stages", stages.size / n, "count"),
      ("scheduler.tasks", stageSum("tasks") / n, "count"),
      ("scheduler.gap_ms", (opWall - run / cores) / n, "ms"),
      ("catalyst.analysis_ms", qeSum("analysis_ms") / n, "ms"),
      ("catalyst.optimization_ms", qeSum("optimization_ms") / n, "ms"),
      ("catalyst.planning_ms", qeSum("planning_ms") / n, "ms"),
      ("catalyst.executions", qes.size / n, "count"),
      ("executor.run_ms", run / n, "ms"),
      ("executor.cpu_ms", stageSum("cpu_ms") / n, "ms"),
      ("executor.gc_ms", stageSum("gc_ms") / n, "ms"),
      ("executor.deser_ms", stageSum("deser_ms") / n, "ms"),
      ("executor.busy_share", run / (opWall * cores), "ratio"),
      ("codegen.compilations", compilations / n, "count"),
      ("shuffle.write_bytes", stageSum("shuffle_write_bytes") / n, "bytes"),
      ("shuffle.read_bytes", stageSum("shuffle_read_bytes") / n, "bytes"),
      ("shuffle.spill_bytes", stageSum("spill_bytes") / n, "bytes"),
      ("scan.input_bytes", stageSum("input_bytes") / n, "bytes"),
      ("materialize.block_bytes", blockBytes / n, "bytes"),
      ("engine.sweep_ms", spans.filter(_.kind == "sweep").map(_.ms).sum / n, "ms"))
  }

  /** Streaming and ETL layer names; a closed-loop workload does no work in
    * them and reports zero. */
  val streamingNames: Seq[(String, String)] = Seq(
    "streaming.trigger_ms" -> "ms", "streaming.plan_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.commit_ms" -> "ms",
    "streaming.rows_per_batch" -> "count", "streaming.backlog_files" -> "count",
    "etl.breadcrumbs_ms" -> "ms", "etl.trips_upsert_ms" -> "ms",
    "output.bytes" -> "bytes", "etl.valid_ratio" -> "ratio", "etl.new_trip_ratio" -> "ratio",
    "generator.late_ms" -> "ms", "generator.backlog_slope" -> "files/s")

  def idleIngest: Seq[Metric] = streamingNames.map { case (k, u) => (k, 0.0, u) }
}
