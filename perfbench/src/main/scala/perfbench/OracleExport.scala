package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Writes what the one-off DuckDB cross-check needs into `<dir>`: the
  * pipeline fixture (parquet, under `fixture/`), the oracle SQL that
  * `SparkEntry.oracleSql` exports for the pipeline queries
  * (`oracle_sql.json`), the Spark outputs (parquet, under `spark/`) and
  * their fingerprints (`spark_fingerprints.json`).
  *
  * {{{
  * java -cp "$(cat .bench_build/classpath.txt)" perfbench.OracleExport <dir>
  * python3 perfbench/oracle_crosscheck.py <dir>
  * }}} */
object OracleExport {
  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0)).toAbsolutePath
    val fixture = out.resolve("fixture").toString
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.Graft.session(master = s"local[$cores]",
      shufflePartitions = cores)
    Fixture.write(spark, fixture, Pipeline.Scale)
    val names = (Pipeline.Compute ++ Pipeline.Jobs).sorted
    def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) =>
      "  " + Json.str(k) + ": " + Json.str(v) }.mkString("{\n", ",\n", "\n}\n")
    def write(name: String, body: String): Unit =
      Files.write(out.resolve(name), body.getBytes(StandardCharsets.UTF_8))
    write("oracle_sql.json", obj(names.map(n => n -> SparkEntry.oracleSql(n))))
    write("spark_fingerprints.json", obj(names.map { n =>
      val df = SparkEntry.queries(n)(spark, fixture).cache()
      df.write.mode("overwrite").parquet(out.resolve("spark").resolve(n).toString)
      n -> Fingerprint.of(df).toString
    }))
    spark.stop()
    sys.exit(0)
  }
}
