package perfbench

import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.lake.{DocumentFetcher, IngestService, LakeStorage}

/** Tracing decorators around the lake modules' public surface: every call
  * becomes a span named after the layer, keyed by the id it concerns, so
  * a client request can find the port and service calls it caused. */
final class TracedStorage(under: LakeStorage, t: Tracer) extends LakeStorage {
  override def saveBooks(books: DataFrame, ts: LocalDateTime): Unit =
    t.span("lake.save")(under.saveBooks(books, ts))
  override def exists(bookId: Long): Boolean =
    t.span("lake.exists", s"status:$bookId")(under.exists(bookId))
  override def listBooks(): Seq[Long] =
    t.span("lake.list", "list")(under.listBooks())
  override def listBooksDF: DataFrame = under.listBooksDF
  override def relativePathFor(bookId: Long, ts: LocalDateTime): String =
    under.relativePathFor(bookId, ts)
  override def lake: DataFrame = under.lake
  override def health: Map[String, String] = under.health
}

final class TracedIngest(spark: SparkSession, storage: LakeStorage,
    fetcher: DocumentFetcher, t: Tracer)
    extends IngestService(spark, storage, fetcher) {
  override def ingest(ids: Seq[Long], ts: LocalDateTime): DataFrame =
    t.span("ingest", ids match {
      case Seq(one) => s"ingest:$one"
      case _ => s"batch:${ids.size}"
    })(super.ingest(ids, ts))
}

/** Fetch calls run inside executor tasks, on a deserialized copy of the
  * fetcher: counts go to JVM-wide counters (one JVM in local mode). */
final class TracedFetcher(under: DocumentFetcher) extends DocumentFetcher {
  override def fetch(id: Long): Option[String] = {
    val t0 = System.nanoTime()
    val out = under.fetch(id)
    FetchCounters.calls.incrementAndGet()
    FetchCounters.nanos.addAndGet(System.nanoTime() - t0)
    out.foreach(s => FetchCounters.bytes.addAndGet(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong))
    out
  }
}

object FetchCounters {
  val calls, nanos, bytes = new AtomicLong(0)
  def reset(): Unit = { calls.set(0); nanos.set(0); bytes.set(0) }
}
