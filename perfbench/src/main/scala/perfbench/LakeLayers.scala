package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.lake.MarkerSplit

/** Per-layer metrics of the traced lake runs: `lake.HttpFacade`,
  * `lake.LakeStorage`, `lake.IngestService` / `MarkerSplit` / fetcher, and
  * the Spark layers under them. `*.calls` are totals over the traced half
  * of the run; `*.ms` and `*_per_call` are means per call. */
object LakeLayers {

  /** Spans the server side records for one client request. */
  private val ServerRoots = Set("lake.exists", "lake.list", "ingest")

  def serve(r: Run, spark: SparkSession, t: Tracer, samples: Seq[LakeServe.Sample],
      lakeRoot: String, docs: GutenbergDocs, ids: Seq[Long],
      startFiles: Long): (Seq[Metric], Seq[String]) = {
    t.drain()
    val spans = t.all
    val clients = spans.filter(_.name == "http")
    val roots = spans.filter(s => s.parent == 0 && ServerRoots(s.name))
    // a request's server spans: same key, inside the request's interval
    val matched = clients.map { c =>
      c -> roots.filter(s => s.key == c.key && s.startNs >= c.startNs &&
        s.endNs <= c.endNs)
    }
    val selfMs = matched.map { case (c, ss) => c.ms - ss.map(_.ms).sum }
    val perOp = matched.groupBy(_._1.key.takeWhile(_ != ':')).toSeq.sortBy(_._1)
      .map { case (op, ms) =>
        val w = new SparkWork
        var jobWall = 0.0
        ms.flatMap(_._2).foreach { s =>
          val x = t.inclusive(s)
          w.add(x)
          jobWall += Tracer.unionLength(x.jobIntervals.toSeq) / 1e6
        }
        val wall = ms.map(_._1.ms).sum
        (op, ms.size, wall, jobWall, w)
      }
    val w = new SparkWork
    perOp.foreach(p => w.add(p._5))
    val requests = clients.size.toDouble
    val records = perOp.map { case (op, n, wall, jobWall, x) =>
      Json.obj(Seq("record" -> "operation", "op" -> op, "calls" -> n,
        "client_p50_ms" -> Stats.median(matched.filter(_._1.key.startsWith(op))
          .map(_._1.ms))) ++
        Layers.spark(x, wall, jobWall, r.cores, n).map(m => m.name -> m.value): _*)
    }
    val plainStatus = samples.filter(s => !s.traced && s.op == "status").map(_.ms)
    val tracedStatus = samples.filter(s => s.traced && s.op == "status").map(_.ms)
    val ingestCalls = samples.count(_.op == "ingest")
    val layers = Seq(
      Metric("http.requests", requests, "count"),
      Metric("http.self_ms", mean(selfMs), "ms")) ++
      storage(t, spans, lakeRoot, startFiles, ingestCalls) ++
      ingest(t, spans, spark, docs, ids) ++
      Layers.spark(w, perOp.map(_._3).sum, perOp.map(_._4).sum, r.cores, requests) :+
      Metric("trace.overhead_ms",
        Stats.median(tracedStatus) - Stats.median(plainStatus), "ms")
    (layers, records ++ spans.map(Layers.spanRecord))
  }

  def ingestRun(r: Run, spark: SparkSession, t: Tracer,
      batches: Seq[LakeIngest.Batch], docs: GutenbergDocs,
      lakeRoot: String): (Seq[Metric], Seq[String]) = {
    t.drain()
    val spans = t.all
    val calls = spans.filter(s => s.name == "ingest" && s.parent == 0)
      .sortBy(_.startNs)
    val w = new SparkWork
    var jobWall = 0.0
    val records = calls.zipWithIndex.map { case (s, i) =>
      val x = t.inclusive(s)
      w.add(x)
      val jw = Tracer.unionLength(x.jobIntervals.toSeq) / 1e6
      jobWall += jw
      Json.obj(Seq("record" -> "operation", "op" -> "ingest", "call" -> i,
        "ms" -> s.ms) ++
        Layers.spark(x, s.ms, jw, r.cores, 1).map(m => m.name -> m.value): _*)
    }
    val plain = batches.filterNot(_.traced).map(_.ms)
    val traced = batches.filter(_.traced).map(_.ms)
    val layers = storage(t, spans, lakeRoot, 0L, batches.size) ++
      ingest(t, spans, spark, docs, batches.head.ids) ++
      Layers.spark(w, calls.map(_.ms).sum, jobWall, r.cores, calls.size) :+
      Metric("trace.overhead_ms", Stats.median(traced) - Stats.median(plain), "ms")
    (layers, records ++ spans.map(Layers.spanRecord))
  }

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def calls(t: Tracer, spans: Seq[Span], name: String,
      prefix: String): Seq[Metric] = {
    val ss = spans.filter(_.name == name)
    val n = ss.size.toDouble
    val w = new SparkWork
    ss.foreach(s => w.add(t.inclusive(s)))
    Seq(Metric(s"$prefix.calls", n, "count"),
      Metric(s"$prefix.ms", mean(ss.map(_.ms)), "ms"),
      Metric(s"$prefix.jobs_per_call", if (n > 0) w.jobs / n else 0.0, "count"),
      Metric(s"$prefix.rows_examined_per_call",
        if (n > 0) w.inputRecords / n else 0.0, "count"))
  }

  /** `lake.LakeStorage`: port calls, plus the files on disk at the end. */
  private def storage(t: Tracer, spans: Seq[Span], lakeRoot: String,
      startFiles: Long, ingestCalls: Int): Seq[Metric] = {
    val (_, manifest) = Proc.dataFiles(Paths.get(lakeRoot, "manifest"))
    val (_, data) = Proc.dataFiles(Paths.get(lakeRoot, "datalake"))
    calls(t, spans, "lake.exists", "lake.exists") ++
      calls(t, spans, "lake.list", "lake.list").take(2) ++
      calls(t, spans, "lake.save", "lake.save").take(2) ++ Seq(
      Metric("lake.manifest_files", manifest.toDouble, "count"),
      Metric("lake.data_files", data.toDouble, "count"),
      Metric("lake.files_per_ingest_call",
        (manifest + data - startFiles).toDouble / math.max(ingestCalls, 1), "count"))
  }

  /** `lake.IngestService`, the fetcher and `MarkerSplit`. The marker split
    * is timed on its own, through its public column function, over the
    * fetched texts of `ids`: the median of three noop-sink runs. */
  private def ingest(t: Tracer, spans: Seq[Span], spark: SparkSession,
      docs: GutenbergDocs, ids: Seq[Long]): Seq[Metric] = {
    val fetchN = FetchCounters.calls.get.toDouble
    import spark.implicits._
    val texts = ids.flatMap(id => docs.fetch(id).map(id -> _)).toDF("book_id", "text")
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val n = texts.count().toDouble
    val split = Stats.median((1 to 3).map(_ => Stats.seconds(
      MarkerSplit.withSplit(texts).filter(col("split_ok"))
        .write.mode("overwrite").format("noop").save())._2))
    texts.unpersist()
    calls(t, spans, "ingest", "ingest").take(3) ++ Seq(
      Metric("marker_split.docs_per_s", n / split, "1/s"),
      Metric("fetch.calls", fetchN, "count"),
      Metric("fetch.ms", if (fetchN > 0) FetchCounters.nanos.get / 1e6 / fetchN else 0.0, "ms"),
      Metric("fetch.bytes", if (fetchN > 0) FetchCounters.bytes.get / fetchN else 0.0, "bytes"))
  }
}
