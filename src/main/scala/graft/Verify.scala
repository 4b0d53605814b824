package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Graft.session()
    // A reliable checkpoint dir (tmpfs-backed when available), unlike
    // Bench: this untimed correctness surface is where Anchor.cut's
    // checkpoint() path — the one a cluster deployment runs — gets
    // exercised for every anchored query. Bench leaves it unset so its
    // timed queries price their plans, not the checkpoint store.
    val shm = Paths.get("/dev/shm")
    val ckptDir =
      if (Files.isDirectory(shm) && Files.isWritable(shm))
        Files.createTempDirectory(shm, "graft-ckpt")
      else Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    new java.io.File(outDir).mkdirs()
    // check_oracle.py prints MISSING for queries a SPARK_GRAFT_ONLY run
    // did not dump, so a filtered run reads per-query lines, not the
    // trailing N/N summary.
    Graft.selectedQueries.foreach { case (name, fn) =>
      Graft.attempt("verify", name)(fn(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name"))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Graft.stop(spark)
    def deleteRec(p: java.io.File): Unit = {
      Option(p.listFiles).foreach(_.foreach(deleteRec))
      p.delete(): Unit
    }
    deleteRec(ckptDir.toFile)
  }
}
