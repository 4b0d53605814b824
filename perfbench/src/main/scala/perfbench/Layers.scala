package perfbench

/** Per-layer metric names shared by every workload, and the JSON record
  * rendering of the trace output. */
object Layers {

  /** The per-layer metrics every workload's traced run measures: the set
    * the result object carries. The layer metrics of single modules
    * (`entry.*`, `functions.*`, `lake.*`, `http.*`, `ingest.*`, `fetch.*`,
    * `marker_split.*`) apply to some workloads only; they are printed and
    * written to the trace file. */
  val Common: Seq[String] = Seq("catalyst.analysis_ms",
    "catalyst.optimization_ms", "catalyst.planning_ms", "spark.jobs",
    "spark.stages", "spark.tasks", "spark.job_wall_ms", "spark.driver_only_ms",
    "spark.task_ms", "spark.executor_cpu_ms", "spark.core_busy_ratio",
    "spark.input_records", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "trace.overhead_ms")

  /** Catalyst, scheduler, task-compute and shuffle metrics of `w`, over
    * `wallMs` of benchmark wall time of which `jobWall` ms had a Spark job
    * running, divided by `per` (passes or calls). */
  def spark(w: SparkWork, wallMs: Double, jobWall: Double, cores: Int,
      per: Double): Seq[Metric] =
    Seq(
      Metric("catalyst.analysis_ms", w.analysisMs / per, "ms"),
      Metric("catalyst.optimization_ms", w.optimizationMs / per, "ms"),
      Metric("catalyst.planning_ms", w.planningMs / per, "ms"),
      Metric("spark.jobs", w.jobs / per, "count"),
      Metric("spark.stages", w.stages / per, "count"),
      Metric("spark.tasks", w.tasks / per, "count"),
      Metric("spark.job_wall_ms", jobWall / per, "ms"),
      Metric("spark.driver_only_ms", (wallMs - jobWall).max(0.0) / per, "ms"),
      Metric("spark.task_ms", w.taskMs / per, "ms"),
      Metric("spark.executor_cpu_ms", w.cpuMs / per, "ms"),
      Metric("spark.gc_ms", w.gcMs / per, "ms"),
      Metric("spark.core_busy_ratio",
        if (wallMs > 0) w.taskMs / (wallMs * cores) else 0.0, "ratio"),
      Metric("spark.input_records", w.inputRecords / per, "count"),
      Metric("spark.shuffle_write_bytes", w.shuffleWrite / per, "bytes"),
      Metric("spark.shuffle_read_bytes", w.shuffleRead / per, "bytes"),
      Metric("spark.spill_bytes", w.spill / per, "bytes"))

  def spanRecord(s: Span): String = Json.obj("record" -> "span", "id" -> s.id,
    "parent" -> s.parent, "name" -> s.name, "key" -> s.key,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs)
}
