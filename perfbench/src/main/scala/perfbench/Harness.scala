package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What one workload run hands back to [[Main]]. `report` holds the
  * workload's own named metrics (`pass_s`, `exists_p50_ms`, ...),
  * printed beside the generic end-to-end set; `records` are the per-query
  * or per-operation trace records. */
final case class Outcome(e2e: Seq[Metric], layers: Seq[Metric],
    report: Seq[Metric], records: Seq[String])

/** One benchmark run's parameters and its correctness ledger. */
final class Run(val workload: String, val seed: Long, val seconds: Int,
    val trace: Boolean, val work: Path) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  private var attemptedN = 0L
  private var failedN = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)

  /** Count one operation; a false `ok` is a failure, logged to stderr. */
  def check(ok: Boolean, what: => String): Boolean = synchronized {
    attemptedN += 1
    if (!ok) {
      failedN += 1
      if (failures.size < 20) {
        failures += what
        System.err.println(s"[perfbench] FAILED: $what")
      }
    }
    ok
  }

  /** Run `body` as one operation; an exception counts as a failure. */
  def attempt[A](what: String)(body: => A): Option[A] =
    try Some(body)
    catch {
      case e: Exception =>
        check(ok = false, s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }

  /** The session every workload measures: the shipped factory with the
    * core count as master and shuffle width, nothing else overridden. */
  def session(): SparkSession = {
    val s = graft.Graft.session(master = s"local[$cores]",
      shufflePartitions = cores)
    sessionConf = s.conf.getAll.filter { case (k, _) =>
      k == "spark.master" || k.startsWith("spark.sql.")
    }
    s
  }

  /** The measured session's master and SQL settings, for the stamp. */
  @volatile var sessionConf: Map[String, String] = Map.empty

  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `numpy` default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this JVM has used so far, all threads, ms. */
  def cpuMs: Double = os.getProcessCpuTime / 1e6

  /** JVM peak resident set (VmHWM), MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Total size and count of regular files under `root` whose name does
    * not start with '.' or '_' (Hadoop's checksum and marker files). */
  def dataFiles(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val it = Files.walk(root).iterator()
      var bytes, n = 0L
      while (it.hasNext) {
        val p = it.next()
        val name = p.getFileName.toString
        if (Files.isRegularFile(p) && !name.startsWith(".") &&
            !name.startsWith("_")) {
          bytes += Files.size(p); n += 1
        }
      }
      (bytes, n)
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val it = Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator()
      while (it.hasNext) Files.deleteIfExists(it.next())
    }
}
