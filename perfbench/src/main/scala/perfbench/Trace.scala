package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced interval: a call into a layer, or a benchmark step. Times
  * are `System.nanoTime`. `parent` is 0 for a root span. */
final class Span(val id: Long, val parent: Long, val name: String,
    val key: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span: the listener fills it from the jobs
  * whose `perfbench.span` local property names the span. */
final class SparkWork {
  var jobs, stages, tasks = 0L
  var taskMs, cpuMs, gcMs = 0.0
  var inputRecords, shuffleWrite, shuffleRead, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; cpuMs += o.cpuMs; gcMs += o.gcMs
    inputRecords += o.inputRecords; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs; jobIntervals ++= o.jobIntervals
  }
}

/** In-memory span recorder plus the Spark listener that attributes jobs,
  * stages, tasks and Catalyst phases to spans.
  *
  * Attribution: entering a span sets the `perfbench.span` SparkContext
  * local property and adds a `perfbench-span-<id>` job tag on the calling
  * thread, so every job and SQL execution that thread (or a thread it
  * starts) submits names the innermost open span. Stages and tasks follow
  * their job. Catalyst's analysis, optimization and planning times come
  * from the `QueryExecution` of each SQL execution-end event, attributed
  * through the tags of the matching start event.
  * When disabled, [[span]] only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Span]
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val work = new ConcurrentHashMap[Long, SparkWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()

  private def toNano(epochMs: Long): Long = nano0 + (epochMs - epochMs0) * 1000000L

  private def workOf(spanId: Long): SparkWork = work.computeIfAbsent(spanId, _ => new SparkWork)

  def span[A](name: String, key: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val parent = current.get
      val s = new Span(ids.incrementAndGet(),
        if (parent == null) 0L else parent.id, name, key, System.nanoTime())
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanProperty)
      current.set(s)
      sc.setLocalProperty(SpanProperty, s.id.toString)
      sc.addJobTag(TagPrefix + s.id)
      try body
      finally {
        s.endNs = System.nanoTime()
        current.set(parent)
        sc.removeJobTag(TagPrefix + s.id)
        sc.setLocalProperty(SpanProperty, prevProp)
        spans.add(s)
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val sid = props.flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(stageSpan.put(_, sid))
      jobStart.put(e.jobId, (sid, e.time))
      val w = workOf(sid)
      w.synchronized(w.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (sid, t0) =>
        val w = workOf(sid)
        w.synchronized(w.jobIntervals += ((toNano(t0), toNano(e.time))))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val w = workOf(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
      w.synchronized(w.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val w = workOf(stageSpan.getOrDefault(e.stageId, 0L))
      w.synchronized {
        w.tasks += 1
        if (e.taskInfo != null) w.taskMs += e.taskInfo.duration.toDouble
        val m = e.taskMetrics
        if (m != null) {
          w.cpuMs += m.executorCpuTime / 1e6
          w.gcMs += m.jvmGCTime.toDouble
          w.inputRecords += m.inputMetrics.recordsRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val ids = s.jobTags.collect {
          case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toLong
        }
        if (ids.nonEmpty) execSpan.put(s.executionId, ids.max)
      case end: SparkListenerSQLExecutionEnd =>
        val sid = Option(execSpan.remove(end.executionId)).getOrElse(0L)
        PerfbenchAccess.queryExecution(end).foreach { qe =>
          val ph = qe.tracker.phases
          def ms(p: String): Double = ph.get(p)
            .map(x => (x.endTimeMs - x.startTimeMs).toDouble).getOrElse(0.0)
          val w = workOf(sid)
          w.synchronized {
            w.analysisMs += ms("analysis")
            w.optimizationMs += ms("optimization")
            w.planningMs += ms("planning")
          }
        }
      case _ => ()
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled) PerfbenchAccess.drain(spark)

  def close(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Spark work of `s` and every span below it. */
  def inclusive(s: Span): SparkWork = {
    val kids = all.groupBy(_.parent)
    val out = new SparkWork
    def walk(x: Span): Unit = {
      Option(work.get(x.id)).foreach(w => w.synchronized(out.add(w)))
      kids.getOrElse(x.id, Nil).foreach(walk)
    }
    walk(s)
    out
  }

  /** Spark work of every span, attributed or not. */
  def total: SparkWork = {
    val out = new SparkWork
    work.values.asScala.foreach(w => w.synchronized(out.add(w)))
    out
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  val TagPrefix = "perfbench-span-"

  /** Length of the union of `intervals` (same unit as the input). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
