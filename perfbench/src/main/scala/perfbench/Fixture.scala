package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The three fixture tables the pipeline queries read (`documents`,
  * `embeddings`, `events`), generated in the shape of the repository's
  * TPC-H-ish sf fixtures (`FIXTURES.md`): the same schemas, value domains
  * and near-duplicate share. `scale` 1.0 is the sf0.1 row count (5,000 /
  * 2,000 / 100,000).
  *
  * The fixture seed is fixed, not the run's seed: the pinned output
  * fingerprints of [[Fingerprints]] hold for exactly these tables. */
object Fixture {
  val Seed = 42L

  private val Vocab = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line " +
    "part fast row the agg key query a scan batch").split(' ')
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  final case class Sizes(documents: Int, embeddings: Int, events: Int)

  def sizes(scale: Double): Sizes = Sizes((5000 * scale).round.toInt,
    (2000 * scale).round.toInt, (100000 * scale).round.toInt)

  /** Write the three tables as one parquet file each under `dir`. */
  def write(spark: SparkSession, dir: String, scale: Double): Sizes = {
    val n = sizes(scale)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    save("documents", docSchema, documents(n.documents))
    save("embeddings", embSchema, embeddings(n.embeddings))
    save("events", eventSchema, events(n.events))
    n
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** 10-100 words from a 30-word vocabulary; 5 % of the documents are a
    * copy of an earlier one with " dup" appended (the dedup workload). */
  def documents(n: Int): Seq[Row] = {
    val r = Gen.rng(Seed, 1)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val text =
        if (i > 20 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length)))
          .mkString(" ")
      texts(i) = text
      Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}",
        text.length.toLong)
    }
  }

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))

  /** 64-dim unit-norm Gaussian vectors, labels 0-9. */
  def embeddings(n: Int): Seq[Row] = {
    val r = Gen.rng(Seed, 2)
    (0 until n).map { i =>
      val v = Array.fill(64) {
        val u1 = math.max(r.nextDouble(), 1e-12)
        math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
      }
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private val EventTypes = Array("signup", "click", "error", "view", "purchase")

  /** Poisson arrivals over 30 days from 2024-01-01, 1,500 users, five
    * event types, exponential values (mean 50, cents), `{"k": 0-99}`. */
  def events(n: Int): Seq[Row] = {
    val r = Gen.rng(Seed, 3)
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val meanGapMicros = 30L * 86400L * 1000000L / math.max(n, 1)
    var t = 0L
    (0 until n).map { i =>
      t += (-math.log(math.max(r.nextDouble(), 1e-12)) * meanGapMicros).toLong
      val value = math.round(-math.log(math.max(r.nextDouble(), 1e-12)) *
        50 * 100) / 100.0
      Row(i.toLong, t0.plusNanos(t * 1000), r.nextInt(1500).toLong,
        EventTypes(r.nextInt(EventTypes.length)), value,
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }
}
