package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The two pipeline workloads: a fixed query set over generated fixture
  * tables, run to the noop sink in a seed-permuted order, pass after pass.
  *
  * Protocol per run:
  *  1. set-up, [[SetupRepeats]] times: start the session, write the
  *     fixture tables (the median is `setup_s`);
  *  2. one correctness pass, untimed: every query's output fingerprint
  *     against the pinned one (it also warms the JIT, codegen and file
  *     indexes);
  *  3. timed passes until `--seconds` have elapsed (at least one);
  *     `op_p50_ms` is the median pass, `cpu_ms_per_op` the median of the
  *     JVM's CPU time per pass.
  * A traced run then repeats step 3 with the tracer on, and once more with
  * it off: the tracing overhead is the traced minus that last untraced
  * median pass (the later passes share the same JIT state). */
object Pipeline {

  val Compute: Seq[String] = Seq("d02_jaccard_pairs", "d03_minhash_signatures",
    "d05_simhash", "d12_containment", "d17_ppjoin_pairs",
    "t24_pmi_collocations", "p07_quality_features")

  val Jobs: Seq[String] = Seq("s31_residual_recall", "s43_graph_beam_recall",
    "s45_stored_graph_serve", "s46_filtered_beam_recall", "g11_hits",
    "q40_recursive_paths", "t51_unigram_score")

  /** Fixture size, as a share of the sf0.1 row counts. */
  val Scale = 0.1
  val SetupRepeats = 3

  def run(r: Run, queries: Seq[String]): Outcome = {
    val fixture = r.dir("fixture").toString
    var spark: SparkSession = null
    val setups = (1 to SetupRepeats).map { _ =>
      Stats.seconds {
        if (spark != null) spark.stop()
        spark = r.session()
        Fixture.write(spark, fixture, Scale)
      }._2
    }
    val order = Gen.permute(queries, r.seed)
    System.err.println(s"[perfbench] order: ${order.mkString(" ")}")

    order.foreach { q =>
      val (fp, s) = Stats.seconds(r.attempt(q)(
        Fingerprint.of(SparkEntry.queries(q)(spark, fixture))))
      System.err.println(f"[perfbench] check $q%-26s ${fp.mkString} $s%.2fs")
      fp.foreach(f => r.check(Fingerprints.pinned.get(q).contains(f.toString),
        s"$q fingerprint $f, pinned ${Fingerprints.pinned.getOrElse(q, "none")}"))
    }

    val untraced = passes(r, spark, fixture, order, new Tracer(spark, enabled = false))
    val passP50 = Stats.median(untraced.map(_._1))
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("op_p50_ms", passP50 * 1000, "ms"),
      Metric("ops_per_s", queries.size * untraced.size / untraced.map(_._1).sum, "1/s"),
      Metric("cpu_ms_per_op", Stats.median(untraced.map(_._2)), "ms"))

    val report = Seq(Metric("pass_s", passP50, "s"),
      Metric("passes", untraced.size.toDouble, "count"))

    val (layers, records) =
      if (!r.trace) (Nil, Nil)
      else {
        val tracer = new Tracer(spark, enabled = true)
        val traced = passes(r, spark, fixture, order, tracer)
        tracer.close()
        val after = passes(r, spark, fixture, order, new Tracer(spark, enabled = false))
        PipelineLayers(r, spark, tracer, traced.map(_._1), after.map(_._1))
      }
    spark.stop()
    Outcome(e2e, layers, report, records)
  }

  /** Timed passes until the run's seconds are spent: (wall s, CPU ms) of
    * each. */
  private def passes(r: Run, spark: SparkSession, fixture: String,
      order: Seq[String], tracer: Tracer): Seq[(Double, Double)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    val deadline = System.nanoTime() + r.seconds * 1000000000L
    while (out.isEmpty || System.nanoTime() < deadline) {
      val cpu0 = Proc.cpuMs
      val (_, s) = Stats.seconds(order.foreach { q =>
        tracer.span("query", q) {
          r.attempt(q) {
            val df = tracer.span("construct", q)(SparkEntry.queries(q)(spark, fixture))
            tracer.span("execute", q)(
              df.write.mode("overwrite").format("noop").save())
          }.foreach(_ => r.check(ok = true, q))
        }
      })
      val cpu = Proc.cpuMs - cpu0
      System.err.println(f"[perfbench] pass ${out.size + 1} $s%.3fs, cpu $cpu%.0f ms")
      out += ((s, cpu))
    }
    out.toSeq
  }
}
