package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Paths
import java.time.LocalDateTime

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.lake.{IngestService, SparkLakeStorage}

/** `lake-ingest`: successive `IngestService.ingest` calls of [[BatchIds]]
  * ids each, at distinct hours, until `--seconds` have elapsed (at least
  * [[MinBatches]]). Bodies come from [[GutenbergDocs]] at its Gutenberg
  * defaults: log-normal sizes, median ~24 KB, tail to 1 MB; ~10 % without
  * valid markers, ~2 % failing to fetch.
  *
  * Checks: each call's status counts against the generator's; at the end,
  * the lake's body rows and their total length against the generator's
  * bodies. Set-up (session start plus one small warm-up ingest into a
  * scratch lake) runs [[SetupRepeats]] times; `setup_s` is the median. */
object LakeIngest {
  val BatchIds = 200
  val MinBatches = 3
  val SetupRepeats = 2
  val WarmIds = 20

  private val Base = LocalDateTime.of(2024, 6, 1, 0, 0)

  final case class Batch(ids: Seq[Long], ms: Double, cpuMs: Double, traced: Boolean)

  def run(r: Run): Outcome = {
    val docs = new GutenbergDocs(r.seed)
    var spark: SparkSession = null
    val setups = (1 to SetupRepeats).map { k =>
      Stats.seconds {
        if (spark != null) spark.stop()
        spark = r.session()
        val warm = new SparkLakeStorage(spark,
          r.dir(s"warm-$k").toAbsolutePath.toString)
        new IngestService(spark, warm, docs)
          .ingest((1L to WarmIds).map(_ + 9000000L), Base.minusDays(1)).collect()
      }._2
    }
    val lakeRoot = r.dir("lake").toAbsolutePath.toString
    val storage = new SparkLakeStorage(spark, lakeRoot)
    val tracer = new Tracer(spark, enabled = r.trace)
    val plain = new IngestService(spark, storage, docs)
    val tracedStorage = new TracedStorage(storage, tracer)
    val traced = new TracedIngest(spark, tracedStorage, new TracedFetcher(docs),
      tracer)
    FetchCounters.reset()

    var nextIdx = 0L
    def nextIds(): Seq[Long] = (0 until BatchIds).map { _ =>
      nextIdx += 1
      nextIdx * 3L + (Gen.mix(r.seed, nextIdx) & 1L)
    }
    val batches = mutable.ArrayBuffer.empty[Batch]
    val seconds = if (r.trace) 2 * r.seconds else r.seconds
    val minBatches = if (r.trace) 2 * MinBatches else MinBatches
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (batches.size < minBatches || System.nanoTime() < deadline) {
      val batch = nextIds()
      // a traced run alternates traced and plain calls on the same lake
      val useTraced = r.trace && batches.size % 2 == 0
      val service = if (useTraced) traced else plain
      val ts = Base.plusHours(batches.size.toLong)
      val cpu0 = Proc.cpuMs
      val (counts, s) = Stats.seconds(r.attempt(s"ingest batch ${batches.size}") {
        service.ingest(batch, ts).groupBy("status").count().collect()
          .map(row => row.getString(0) -> row.getLong(1)).toMap
      })
      counts.foreach { got =>
        val want = batch.map(docs.expect).groupBy {
          case Expect.DownloadFailed => "download_failed"
          case Expect.MarkerSplitFailed => "marker_split_failed"
          case _: Expect.Downloaded => "downloaded"
        }.map { case (k, v) => k -> v.size.toLong }
        r.check(got == want, s"batch ${batches.size} statuses $got, expected $want")
      }
      batches += Batch(batch, s * 1000, Proc.cpuMs - cpu0, useTraced)
    }
    tracer.drain()

    // read-back: body rows and their total length (in characters)
    val allIds = batches.flatMap(_.ids)
    val bodies = allIds.map(docs.expect).collect { case Expect.Downloaded(b) => b }
    val wantChars = bodies.map(b => b.codePointCount(0, b.length).toLong).sum
    val got = r.attempt("read-back")(storage.lake.filter(col("kind") === "body")
      .agg(count(lit(1)), sum(length(col("text")))).collect()(0))
    got.foreach(row => r.check(row.getLong(0) == bodies.size &&
      row.getLong(1) == wantChars,
      s"read-back ${row.getLong(0)} bodies / ${row.getLong(1)} chars, " +
        s"expected ${bodies.size} / $wantChars"))

    // the port's read path over the ingested lake: the full id list, and
    // the existence of a few ingested and a few rejected ids
    val port = if (r.trace) tracedStorage else storage
    val present = allIds.filter(docs.ingestible)
    r.attempt("listBooks")(port.listBooks()).foreach(got =>
      r.check(got == present.sorted, s"listBooks: ${got.size} ids, expected ${present.size}"))
    (present.take(10) ++ allIds.filterNot(docs.ingestible).take(10)).foreach { id =>
      r.attempt(s"exists $id")(port.exists(id)).foreach(got =>
        r.check(got == docs.ingestible(id), s"exists $id: $got"))
    }

    val fetchedBytes = allIds.flatMap(docs.fetch)
      .map(_.getBytes(StandardCharsets.UTF_8).length.toLong).sum
    val (lakeBytes, _) = Proc.dataFiles(Paths.get(lakeRoot, "datalake"))
    val (manifestBytes, _) = Proc.dataFiles(Paths.get(lakeRoot, "manifest"))
    val base = batches.filterNot(_.traced)
    val okDocs = base.map(_.ids.count(docs.ingestible)).sum
    val docsPerS = okDocs / (base.map(_.ms).sum / 1000)
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("op_p50_ms", Stats.median(base.map(_.ms).toSeq), "ms"),
      Metric("ops_per_s", docsPerS, "1/s"),
      Metric("cpu_ms_per_op", Stats.median(base.map(_.cpuMs).toSeq), "ms"))
    val report = Seq(
      Metric("ingest_docs_per_s", docsPerS, "1/s"),
      Metric("lake_bytes_per_input_byte",
        (lakeBytes + manifestBytes).toDouble / fetchedBytes, "ratio"),
      Metric("batches", base.size.toDouble, "count"),
      Metric("fetched_mb", fetchedBytes / 1e6, "MB"))
    val (layers, records) =
      if (!r.trace) (Nil, Nil)
      else LakeLayers.ingestRun(r, spark, tracer, batches.toSeq, docs, lakeRoot)
    tracer.close()
    spark.stop()
    Outcome(e2e, layers, report, records)
  }
}
