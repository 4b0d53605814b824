package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.LocalDateTime
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.lake.{IngestHttpServer, IngestService, SparkLakeStorage}

/** `lake-serve`: the reference's HTTP contract through
  * [[graft.lake.IngestHttpServer]], in-process on an ephemeral port.
  *
  *  - Starting lake: [[Batches]] hourly `IngestService` batches of
  *    [[BatchIds]] ids each, through the seeded Gutenberg-shaped fetcher.
  *  - Load: a closed loop of [[Clients]] client threads, each waiting for
  *    its reply before sending the next request, like a crawler.
  *  - Mix ([[ServeOps]]): 75 % `GET /ingest/status/{id}` (half present,
  *    half absent), 20 % `POST /ingest/{id}` of new ids, 5 %
  *    `GET /ingest/list`.
  *  - The run lasts `--seconds`, and longer if needed to collect at least
  *    [[MinStatus]] status samples, so that p90 has ten samples beyond it
  *    (a traced run splits them between its traced and plain halves).
  * Every answer is checked against the generator's ground truth. */
object LakeServe {
  val Batches = 2
  val BatchIds = 60
  val Clients = 2
  val MinStatus = 100
  /** Serve-side bodies are small: the read path never touches them. */
  val MedianBytes = 4000

  private val Base = LocalDateTime.of(2024, 3, 1, 0, 0)

  final case class Sample(op: String, startNs: Long, endNs: Long,
      traced: Boolean) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  def run(r: Run): Outcome = {
    val docs = new GutenbergDocs(r.seed, medianBytes = MedianBytes)
    val ops = ServeOps(r.seed, docs, Batches * BatchIds)
    val lakeRoot = r.dir("lake").toAbsolutePath.toString
    var spark: SparkSession = null
    var storage: SparkLakeStorage = null
    val (_, setup) = Stats.seconds {
      spark = r.session()
      storage = new SparkLakeStorage(spark, lakeRoot)
      val service = new IngestService(spark, storage, docs)
      ops.startIds.grouped(BatchIds).zipWithIndex.foreach { case (ids, h) =>
        service.ingest(ids, Base.plusHours(h.toLong)).collect()
      }
    }
    val tracer = new Tracer(spark, enabled = r.trace)
    val now = Base.plusHours(Batches.toLong)
    val plain = new IngestHttpServer(new IngestService(spark, storage, docs),
      storage, 0, () => now)
    val traced =
      if (!r.trace) None
      else {
        val ts = new TracedStorage(storage, tracer)
        Some(new IngestHttpServer(new TracedIngest(spark, ts,
          new TracedFetcher(docs), tracer), ts, 0, () => now))
      }
    (plain +: traced.toSeq).foreach(_.start())
    val startFiles = lakeFiles(lakeRoot)
    FetchCounters.reset()
    val samples = new ConcurrentLinkedQueue[Sample]()
    val next = new AtomicInteger(0)
    val statusDone = new AtomicInteger(0)
    val ingested = new ConcurrentLinkedQueue[(Long, Long, Long)]() // id, sent, done
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    // a traced run alternates requests between the plain and the traced
    // server, so both see the same lake as it grows
    val deadline = System.nanoTime() + r.seconds * 1000000000L
    val t0 = System.nanoTime()
    val cpu0 = Proc.cpuMs

    def client(): Unit = {
      var i = next.getAndIncrement()
      while (i < ops.ops.size &&
          (System.nanoTime() < deadline || statusDone.get < MinStatus)) {
        val op = ops.ops(i)
        val useTraced = traced.isDefined && i % 2 == 0
        val port = (if (useTraced) traced.get else plain).boundPort
        val s0 = System.nanoTime()
        def send(): HttpResponse[String] = {
          val b = HttpRequest.newBuilder(URI.create(s"http://localhost:$port${op.path}"))
          val req = if (op.kind == "ingest") b.POST(HttpRequest.BodyPublishers.noBody())
            else b.GET()
          http.send(req.build(), HttpResponse.BodyHandlers.ofString())
        }
        val res = r.attempt(s"${op.kind} ${op.id}")(
          if (useTraced) tracer.span("http", op.key)(send()) else send())
        val s1 = System.nanoTime()
        res.foreach { resp =>
          samples.add(Sample(op.kind, s0, s1, useTraced))
          op.kind match {
            case "status" =>
              statusDone.incrementAndGet()
              val want = if (ops.present(op.id)) "available" else "not_found"
              r.check(resp.statusCode == 200 && resp.body.contains(s""""status":"$want""""),
                s"status ${op.id}: ${resp.statusCode} ${resp.body.take(200)}")
            case "ingest" =>
              val ok = docs.ingestible(op.id)
              if (ok) ingested.add((op.id, s0, s1))
              r.check(if (ok) resp.statusCode == 200 && resp.body.contains("\"downloaded\"")
                else resp.statusCode == 400 && resp.body.contains("download_failed"),
                s"ingest ${op.id} (ingestible=$ok): ${resp.statusCode} ${resp.body.take(200)}")
            case "list" =>
              val books = listed(resp.body)
              val done = ingested.asScala.collect { case (id, _, e) if e < s0 => id }
              val maybe = ingested.asScala.collect { case (id, s, _) if s < s1 => id }
              val must = ops.present ++ done
              r.check(resp.statusCode == 200 && must.subsetOf(books) &&
                books.subsetOf(ops.present ++ maybe),
                s"list: ${resp.statusCode}, ${books.size} books, ${must.size} required")
          }
        }
        i = next.getAndIncrement()
      }
    }

    val threads = (1 to Clients).map(k => new Thread(() => client(), s"client-$k"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuMs = Proc.cpuMs - cpu0
    (plain +: traced.toSeq).foreach(_.stop())
    tracer.drain()

    val all = samples.asScala.toSeq
    val base = all.filterNot(_.traced)
    def lat(op: String, q: Double, xs: Seq[Sample] = base): Double = {
      val v = xs.filter(_.op == op).map(_.ms)
      if (v.isEmpty) 0.0 else Stats.quantile(v, q)
    }
    val reqPerS = base.size / (if (r.trace) wallS / 2 else wallS)
    val (_, manifestFiles) = Proc.dataFiles(java.nio.file.Paths.get(lakeRoot, "manifest"))
    val (_, dataFiles) = Proc.dataFiles(java.nio.file.Paths.get(lakeRoot, "datalake"))
    val statusN = base.count(_.op == "status")
    val e2e = Seq(
      Metric("setup_s", setup, "s"),
      Metric("op_p50_ms", lat("status", 0.5), "ms"),
      Metric("ops_per_s", reqPerS, "1/s"),
      Metric("cpu_ms_per_op", cpuMs / all.size, "ms"))
    val report = Seq(
      Metric("exists_p50_ms", lat("status", 0.5), "ms"),
      Metric("exists_p90_ms", lat("status", 0.9), "ms"),
      Metric("list_p50_ms", lat("list", 0.5), "ms"),
      Metric("ingest_p50_ms", lat("ingest", 0.5), "ms"),
      Metric("requests_per_s", reqPerS, "1/s"),
      Metric("status_samples", statusN.toDouble, "count"),
      Metric("requests", base.size.toDouble, "count"),
      Metric("start_books", ops.present.size.toDouble, "count"),
      Metric("end_manifest_files", manifestFiles.toDouble, "count"),
      Metric("end_data_files", dataFiles.toDouble, "count"))
    val (layers, records) =
      if (!r.trace) (Nil, Nil)
      else LakeLayers.serve(r, spark, tracer, all, lakeRoot, docs,
        ops.startIds, startFiles)
    tracer.close()
    spark.stop()
    Outcome(e2e, layers, report, records)
  }

  def lakeFiles(lakeRoot: String): Long =
    Proc.dataFiles(java.nio.file.Paths.get(lakeRoot, "manifest"))._2 +
      Proc.dataFiles(java.nio.file.Paths.get(lakeRoot, "datalake"))._2

  private val IdList = """"books":\[([0-9,]*)\]""".r.unanchored

  def listed(body: String): Set[Long] = body match {
    case IdList(xs) => xs.split(',').filter(_.nonEmpty).map(_.toLong).toSet
    case _ => Set.empty
  }
}

/** The seeded `lake-serve` operation sequence and its ground truth.
  * `startIds` go into the starting lake; `present` are those of them the
  * generator marks ingestible. Status requests ask for present ids and for
  * ids that are absent for good (never ingested, or rejected when the
  * starting lake was built); new ingests use ids that no status request
  * names, so concurrent clients cannot race on an answer. */
final case class ServeOp(kind: String, id: Long) {
  def path: String = kind match {
    case "status" => s"/ingest/status/$id"
    case "ingest" => s"/ingest/$id"
    case _ => "/ingest/list"
  }
  def key: String = kind match {
    case "list" => "list"
    case k => s"$k:$id"
  }
}

final case class ServeOps(startIds: Seq[Long], present: Set[Long],
    ops: IndexedSeq[ServeOp])

object ServeOps {
  val Length = 20000

  def apply(seed: Long, docs: GutenbergDocs, startCount: Int): ServeOps = {
    val r = Gen.rng(seed, 0x5345525645L)
    // ids are drawn from disjoint ranges: starting lake, absent, new
    val startIds = (0 until startCount).map(i => 1000000L + i * 7L + r.nextInt(7))
    val present = startIds.filter(docs.ingestible).toSet
    val presentV = present.toIndexedSeq.sorted
    val rejected = startIds.filterNot(docs.ingestible)
    var nextNew = 5000000L
    val ops = (0 until Length).map { _ =>
      val u = r.nextInt(100)
      if (u < 75) {
        val id =
          if (r.nextBoolean()) presentV(r.nextInt(presentV.size))
          else if (rejected.nonEmpty && r.nextInt(4) == 0) rejected(r.nextInt(rejected.size))
          else 3000000L + r.nextInt(1000000)
        ServeOp("status", id)
      } else if (u < 95) {
        nextNew += 1 + r.nextInt(5)
        ServeOp("ingest", nextNew)
      } else ServeOp("list", 0L)
    }
    ServeOps(startIds, present, ops)
  }
}
