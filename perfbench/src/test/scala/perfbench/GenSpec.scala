package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.MarkerSplit

class GenSpec extends AnyFunSuite {

  private val ids = (1L to 3000L).map(_ * 13L)

  test("same seed gives byte-identical documents, another seed does not") {
    val a = new GutenbergDocs(7)
    val b = new GutenbergDocs(7)
    val c = new GutenbergDocs(8)
    ids.take(200).foreach(id => assert(a.fetch(id) == b.fetch(id)))
    assert(ids.take(200).count(id => a.fetch(id) != c.fetch(id)) > 150)
  }

  test("fetch failures, marker-less documents and both marker spellings occur") {
    val g = new GutenbergDocs(11)
    val ex = ids.map(g.expect)
    val failed = ex.count(_ == Expect.DownloadFailed).toDouble / ids.size
    val malformed = ex.count(_ == Expect.MarkerSplitFailed).toDouble / ids.size
    assert(failed > 0.01 && failed < 0.035, failed)
    assert(malformed > 0.07 && malformed < 0.13, malformed)
    val texts = ids.flatMap(g.fetch)
    Seq(GutenbergDocs.StartThe, GutenbergDocs.StartThis, GutenbergDocs.EndThe,
      GutenbergDocs.EndThis).foreach(m => assert(texts.count(_.contains(m)) > 500, m))
    ids.foreach(id => assert(g.ingestible(id) == g.expect(id).isInstanceOf[Expect.Downloaded]))
  }

  test("body sizes are log-normal around the median with a capped tail") {
    val g = new GutenbergDocs(3)
    val sizes = ids.flatMap(g.fetch).map(_.length.toDouble).sorted
    val median = sizes(sizes.size / 2)
    assert(median > g.medianBytes * 0.8 && median < g.medianBytes * 1.3, median)
    assert(sizes.last > 20 * g.medianBytes, sizes.last)
    assert(sizes.last < GutenbergDocs.MaxBytes + 4096, sizes.last)
  }

  test("the generator's expected split matches the program's marker split") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val g = new GutenbergDocs(5, medianBytes = 3000)
      val sample = ids.take(300)
      val got = MarkerSplit.withSplit(sample.flatMap(id => g.fetch(id).map(id -> _))
        .toDF("book_id", "text"))
        .select(col("book_id"), col("split_ok"), col("body")).collect()
        .map(r => r.getLong(0) -> (if (r.getBoolean(1)) Some(r.getString(2)) else None))
        .toMap
      sample.foreach { id =>
        g.expect(id) match {
          case Expect.DownloadFailed => assert(!got.contains(id))
          case Expect.MarkerSplitFailed => assert(got(id).isEmpty, id)
          case Expect.Downloaded(body) => assert(got(id).contains(body), id)
        }
      }
    } finally spark.stop()
  }

  test("the serve operation sequence is seeded and keeps its id ranges apart") {
    val g = new GutenbergDocs(9, medianBytes = 2000)
    val a = ServeOps(9, g, 240)
    assert(a == ServeOps(9, g, 240))
    assert(a.ops != ServeOps(10, g, 240).ops)
    val n = a.ops.size.toDouble
    val share = a.ops.groupBy(_.kind).map { case (k, v) => k -> v.size / n }
    assert(math.abs(share("status") - 0.75) < 0.02, share)
    assert(math.abs(share("ingest") - 0.20) < 0.02, share)
    assert(math.abs(share("list") - 0.05) < 0.01, share)
    val status = a.ops.filter(_.kind == "status").map(_.id)
    val presentShare = status.count(a.present).toDouble / status.size
    assert(math.abs(presentShare - 0.5) < 0.03, presentShare)
    val fresh = a.ops.filter(_.kind == "ingest").map(_.id)
    assert(fresh.distinct.size == fresh.size)
    assert(fresh.toSet.intersect(status.toSet ++ a.startIds).isEmpty)
    assert(a.present.subsetOf(a.startIds.toSet))
  }

  test("fixture tables and query orders are pure functions of their seed") {
    assert(Fixture.documents(300) == Fixture.documents(300))
    assert(Fixture.events(500) == Fixture.events(500))
    val emb = Fixture.embeddings(50)
    assert(emb == Fixture.embeddings(50))
    emb.foreach { r =>
      val v = r.getSeq[Float](1)
      assert(v.size == 64)
      assert(math.abs(math.sqrt(v.map(x => x.toDouble * x).sum) - 1.0) < 1e-5)
    }
    val dups = Fixture.documents(2000).count(_.getString(1).endsWith(" dup"))
    assert(dups > 60 && dups < 140, dups)
    val qs = Pipeline.Compute
    assert(Gen.permute(qs, 4) == Gen.permute(qs, 4))
    assert(Gen.permute(qs, 4).sorted == qs.sorted)
    assert((1L to 10L).map(Gen.permute(qs, _)).distinct.size > 5)
  }
}
