package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{NfcFns, RollFns, SuffixVerifyFns, TextFns, TokenFns, VectorOps}

/** The `functions` microbench: each codegen'd native expression through
  * its public Column API, over the sf0.1-sized `documents.text` and
  * `embeddings.embedding` columns (replicated [[Copies]] times, cached).
  * Each timing sums the function's result (its size, for arrays) over the
  * cached rows in one aggregate; the function's cost is that time minus
  * the time of the same aggregate over the bare input columns, per call.
  * `graft_dot` is too cheap to time once per row: each row carries four
  * vectors and the aggregate calls it on all ten distinct pairs of them.
  * A timing is the fastest of [[Repeats]] runs after one warm-up run:
  * other load on the machine only ever slows a run down. */
object Micro {
  val Copies = 8
  val Repeats = 5

  def run(spark: SparkSession): Seq[Metric] = {
    import spark.implicits._
    val docs = Fixture.documents(Fixture.sizes(1.0).documents).map(_.getString(1))
    val n = docs.size
    val text = (0 until n * Copies).map(i => (docs(i % n), docs((i + 1) % n)))
      .toDF("text", "other")
      .select(col("text"),
        sort_array(TextFns.wordShingles(col("text"), 3)).as("a"),
        sort_array(TextFns.wordShingles(col("other"), 3)).as("b"))
      .cache()
    val embs = Fixture.embeddings(Fixture.sizes(1.0).embeddings)
      .map(_.getSeq[Float](1).toArray)
    val m = embs.size
    val vec = (0 until m * Copies * 4).map(i =>
      (embs(i % m), embs((i + 7) % m), embs((i + 13) % m), embs((i + 29) % m)))
      .toDF("e", "f", "g", "h").cache()
    val vs = Seq("e", "f", "g", "h").map(col)
    val pairs = for (i <- vs.indices; j <- i until vs.size) yield (vs(i), vs(j))
    val textRows = text.count().toDouble
    val vecRows = vec.count().toDouble

    def time(df: DataFrame, c: Column): Double =
      (0 to Repeats).map(_ => Stats.seconds(df.agg(sum(c)).collect())._2).tail.min
    val t = col("text")
    val textBase = time(text, length(t))
    val arrayBase = time(text, size(col("a")))
    val vecBase = time(vec, vs.map(size).reduce(_ + _))
    def ns(df: DataFrame, calls: Double, base: Double, fn: Column): Double =
      (time(df, fn) - base) * 1e9 / calls
    val out = Seq(
      "graft_tokens" -> ns(text, textRows, textBase, size(TokenFns.unicodeTokens(t))),
      "graft_shingles" -> ns(text, textRows, textBase, size(TextFns.wordShingles(t, 3))),
      "graft_rollhash" -> ns(text, textRows, textBase, size(RollFns.rollingHash(t, 5))),
      "graft_suffix_verify" -> ns(text, textRows, arrayBase,
        SuffixVerifyFns.suffixVerify(col("a"), col("b"), 0.5)),
      "graft_nfc" -> ns(text, textRows, textBase, length(NfcFns.nfc(t))),
      "graft_dot" -> ns(vec, vecRows * pairs.size, vecBase,
        pairs.map { case (a, b) => VectorOps.dot(a, b) }.reduce(_ + _)))
    text.unpersist()
    vec.unpersist()
    out.map { case (f, v) => Metric(s"functions.$f.ns_per_row", v, "ns") }
  }
}
