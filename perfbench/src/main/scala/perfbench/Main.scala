package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * }}}
  *
  * Runs from the checkout root; all scratch data goes under
  * `.bench_build/work/` and is removed at exit. Standard output: a stamp
  * line, one `metric` line per workload metric (with unit), and last the
  * result object `{correct, attempted, failed, metrics}` — the end-to-end
  * set untraced, the per-layer set traced. The traced run also writes its
  * per-query / per-operation records to `.bench_build/trace/`. */
object Main {

  /** The end-to-end metrics of the result object, in `BENCHMARK.json`'s
    * order; every workload measures all of them. `peak_rss_mb` and
    * `ops_per_s` are printed but not in this set: VmHWM follows the
    * collector's heap sizing and spread ~18 % between runs of the same
    * code, and `ops_per_s` restates `op_p50_ms` in a closed loop. */
  val EndToEnd: Seq[String] = Seq("setup_s", "op_p50_ms", "cpu_ms_per_op")

  val Workloads: Map[String, Run => Outcome] = Map(
    "pipeline-compute" -> (r => Pipeline.run(r, Pipeline.Compute)),
    "pipeline-jobs" -> (r => Pipeline.run(r, Pipeline.Jobs)),
    "lake-serve" -> LakeServe.run,
    "lake-ingest" -> LakeIngest.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, usage(s"missing $k"))
    val workload = opt("--workload")
    val body = Workloads.getOrElse(workload, usage(s"unknown workload $workload"))
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toInt
    val trace = opt("--trace") == "1"
    val root = Paths.get(".bench_build")
    val work = root.resolve("work").resolve(s"$workload-$seed-${ProcessHandle.current.pid}")
    Files.createDirectories(work)
    val run = new Run(workload, seed, seconds, trace, work)
    val outcome =
      try body(run)
      finally Proc.deleteTree(work)
    val rss = Metric("peak_rss_mb", Proc.peakRssMb, "MB")
    val failedRatio = run.failed.toDouble / math.max(run.attempted, 1L)
    val e2e = outcome.e2e :+ rss
    println(Json.obj("stamp" -> stamp(run)))
    (e2e ++ outcome.report :+ Metric("failed_ratio", failedRatio, "ratio"))
      .foreach(m => println(f"metric ${m.name}%-36s ${m.value}%.6f ${m.unit}"))
    outcome.layers.foreach(m =>
      println(f"layer  ${m.name}%-36s ${m.value}%.6f ${m.unit}"))
    if (trace) writeTrace(root, run, outcome)
    def pick(names: Seq[String], from: Seq[Metric]): Seq[Metric] =
      names.map(n => from.find(_.name == n)
        .getOrElse(sys.error(s"$workload did not measure $n")))
    val shown = if (trace) pick(Layers.Common, outcome.layers)
      else pick(EndToEnd, e2e)
    println(Json.obj(
      "correct" -> (run.failed == 0),
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> Json.Raw(shown.map(m => Json.str(m.name) + ":" +
        Json.obj("value" -> m.value, "unit" -> m.unit)).mkString("{", ",", "}"))))
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is out.
    sys.exit(0)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload " +
      s"<${Workloads.keys.toSeq.sorted.mkString("|")}> --seed <n> " +
      "--seconds <s> --trace <0|1>")
    sys.exit(2)
  }

  private def stamp(run: Run): Json.Raw = Json.Raw(Json.obj(
    "workload" -> run.workload,
    "seed" -> run.seed,
    "seconds" -> run.seconds,
    "nproc" -> run.cores,
    "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
    "spark" -> org.apache.spark.SPARK_VERSION,
    "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
    "session" -> Json.Raw(Json.obj(run.sessionConf.toSeq.sorted: _*))))

  private def writeTrace(root: Path, run: Run, o: Outcome): Unit = {
    val dir = root.resolve("trace")
    Files.createDirectories(dir)
    val lines = Json.obj("stamp" -> stamp(run)) +:
      Json.obj(o.layers.map(m => m.name -> m.value): _*) +: o.records
    val f = dir.resolve(s"${run.workload}-seed${run.seed}.jsonl")
    Files.write(f, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    System.err.println(s"[perfbench] trace records: $f")
  }
}
