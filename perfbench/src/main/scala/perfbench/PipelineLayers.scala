package perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced pipeline run, per pass: `SparkEntry`
  * construction, Catalyst phases, scheduler, task compute and shuffle,
  * plus the `functions` microbench, and one record per query. */
object PipelineLayers {

  def apply(r: Run, spark: SparkSession, tracer: Tracer, traced: Seq[Double],
      untraced: Seq[Double]): (Seq[Metric], Seq[String]) = {
    val spans = tracer.all
    val passes = traced.size.toDouble
    val queries = spans.filter(_.name == "query")
    val constructs = spans.filter(_.name == "construct")
    val total = tracer.total
    val wallMs = traced.sum * 1000
    val entry = Seq(
      Metric("entry.construct_ms", constructs.map(_.ms).sum / passes, "ms"),
      Metric("entry.construct_jobs",
        constructs.map(tracer.inclusive(_).jobs).sum / passes, "count"))
    val overhead = Metric("trace.overhead_ms",
      (Stats.median(traced) - Stats.median(untraced)) * 1000, "ms")

    val records = queries.groupBy(_.key).toSeq.sortBy(_._1).map { case (q, ss) =>
      val n = ss.size.toDouble
      val w = new SparkWork
      ss.foreach(s => w.add(tracer.inclusive(s)))
      val qWall = ss.map(_.ms).sum
      val cons = constructs.filter(_.key == q)
      val layer = Layers.spark(w, qWall, Tracer.unionLength(w.jobIntervals.toSeq) / 1e6,
        r.cores, n)
      Json.obj(Seq("record" -> "query", "query" -> q,
        "wall_ms" -> qWall / n,
        "entry.construct_ms" -> cons.map(_.ms).sum / n,
        "entry.construct_jobs" -> cons.map(tracer.inclusive(_).jobs).sum / n) ++
        layer.map(m => m.name -> m.value): _*)
    }
    val micro = if (r.workload == "pipeline-compute") Micro.run(spark) else Nil
    val layers = entry ++
      Layers.spark(total, wallMs, Tracer.unionLength(total.jobIntervals.toSeq) / 1e6,
        r.cores, passes) ++ micro :+ overhead
    (layers, records ++ spans.map(Layers.spanRecord))
  }
}
