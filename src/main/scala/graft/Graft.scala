package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The single session factory, plus the query-run helpers every entry
  * point shares. Bench, Verify, JobProbe and Explain, the test suite
  * (`SparkSpec`) and perfbench all build their session here, so the
  * config that is tested is the config that is benched and shipped.
  *
  * The engine is designed for a multi-executor cluster reading ~100 TB; these
  * defaults are the local[N] test-rig equivalents of that posture:
  *   - AQE on (runtime shuffle coalescing, skew-join splitting, broadcast
  *     conversion from runtime stats),
  *   - shuffle partitions sized to the rig (cluster deployments override to
  *     ~2-3x total cores),
  *   - UTC session time zone (the reference stamps zoneless
  *     `LocalDateTime.now()`, /root/reference Main.java:105 — pinning UTC
  *     makes TimestampType coincide with it IFF the reference host also runs
  *     in UTC; for other host zones the partition labels differ by the zone
  *     offset. Correctness tests must not rely on cross-zone equality.),
  *   - the native SQL functions (`graft_dot`, `graft_shingles`, ...)
  *     registered through [[graft.functions.GraftExtensions]].
  */
object Graft {

  /** Cores the mains size themselves to: `SPARK_GRAFT_CPUS`, else every
    * processor the JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def session(
      master: String = s"local[$cpus]",
      shufflePartitions: Int = cpus
  ): SparkSession = {
    val spark = SparkSession
      .builder()
      .appName("graft")
      .master(master)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_ONLY`: an optional comma-separated allowlist for
    * focused iteration on a few queries. Absent (the driver's
    * invocation) means the whole ledger. */
  lazy val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).toSet)

  /** The ledger queries Bench and Verify run. */
  def selectedQueries: Map[String, (SparkSession, String) => DataFrame] =
    only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (k, _) => names(k) })

  /** Full evaluation through the noop sink: every output column is
    * computed, where a bare count() would let Catalyst prune
    * projection-only work to nothing. */
  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Runs `action` for query `name` and reports whether it succeeded. A
    * failure prints `[tag] name failed: message` to stderr, so one
    * broken query never stops a sweep. */
  def attempt(tag: String, name: String)(action: => Unit): Boolean =
    try { action; true }
    catch {
      case e: Throwable =>
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
        false
    }

  /** Drops the session-shared kNN graphs, then stops the session. */
  def stop(spark: SparkSession): Unit = {
    graft.operators.Similarity.clearSharedGraphs(spark)
    spark.stop()
  }
}
