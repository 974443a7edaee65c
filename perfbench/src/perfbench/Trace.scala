package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters, summed over the jobs of one span (or of the whole run). */
final class EngineCounters {
  var jobs = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var planMs = 0L
  var planBytes = 0L
}

/** One traced call into a layer of the program. Times are System.nanoTime. */
final case class Span(id: Long, name: String, parent: Long, runId: String,
    start: Long, var end: Long = 0L)

/** Spans plus the Spark listeners that attribute engine work to them.
  *
  * Each span sets a Spark job group named after its id on the calling
  * thread, so the SparkListener can charge jobs, stages and task metrics
  * to the span, and the SQL execution start event (which carries the
  * job group) lets plan phases and plan sizes from the
  * QueryExecutionListener be charged the same way. Spans stay in memory
  * until [[writeSpans]].
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]

  val total = new EngineCounters
  private val byGroup = new ConcurrentHashMap[String, EngineCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val execPlanMs = new ConcurrentHashMap[Long, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  /** Job (start, end) intervals in epoch ms, for the driver-gap metric. */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def counters(group: String): Seq[EngineCounters] =
    if (group == null) Seq(total)
    else Seq(total, byGroup.computeIfAbsent(group, _ => new EngineCounters))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) e.stageIds.foreach(s => stageGroup.put(s, g))
      jobStart.put(e.jobId, e.time)
      counters(g).foreach(c => c.synchronized { c.jobs += 1 })
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => jobIntervals.add((s.longValue, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) counters(stageGroup.get(e.stageId)).foreach { c =>
        c.synchronized {
          c.taskRunMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputRecords += m.inputMetrics.recordsRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val g = s.jobGroupId.orNull
        if (g != null) execGroup.put(s.executionId, g)
        counters(g).foreach(c => c.synchronized { c.planBytes += s.physicalPlanDescription.length })
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      execPlanMs.put(qe.id, ms)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Wait until every event posted so far has reached the listeners, then
    * charge plan phases to the spans whose executions produced them.
    */
  def settle(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    execPlanMs.asScala.foreach { case (exec, ms) =>
      counters(execGroup.get(exec)).foreach(c => c.synchronized { c.planMs += ms })
    }
    execPlanMs.clear()
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def group(span: Span): EngineCounters =
    byGroup.computeIfAbsent(s"span-${span.id}", _ => new EngineCounters)

  /** Run `body` inside a span. `parent` defaults to the thread's open span;
    * branches started on other threads pass it explicitly.
    */
  def span[T](name: String, parent: Span = null)(body: => T): T = {
    val outer = current.get
    val p = if (parent != null) parent else outer
    val s = Span(nextId.getAndIncrement(), name, if (p == null) 0L else p.id, runId, System.nanoTime())
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(s"span-${s.id}", name)
    current.set(s)
    try body
    finally {
      s.end = System.nanoTime()
      spans.add(s)
      current.set(outer)
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  def currentSpan: Span = current.get

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  @volatile private var windowStart = Long.MinValue

  /** From now on [[meanSelf]] and [[named]] see only spans that start
    * later, so warm-up calls do not count in the per-layer figures.
    */
  def openWindow(): Unit = windowStart = System.nanoTime()

  private def inWindow: Seq[Span] = all.filter(_.start >= windowStart)

  /** Span duration minus the part of it covered by its child spans. */
  def selfSeconds(s: Span, children: Seq[Span]): Double = {
    val covered = Stats.unionLength(children.map(c => (c.start, c.end)))
    math.max(0L, (s.end - s.start) - covered) / 1e9
  }

  /** Mean self time per call of every span called `name`. */
  def meanSelf(name: String): Double = {
    val kids = all.groupBy(_.parent)
    val mine = inWindow.filter(_.name == name)
    if (mine.isEmpty) 0.0
    else mine.map(s => selfSeconds(s, kids.getOrElse(s.id, Nil))).sum / mine.size
  }

  def named(name: String): Seq[Span] = inWindow.filter(_.name == name)

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"run":${Json.str(s.runId)},"start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** The span API the workloads call. Untraced runs get [[NoTrace]], whose
  * spans only run their body, so both modes share one code path.
  */
trait Spans {
  def enabled: Boolean
  def span[T](name: String, parent: Span = null)(body: => T): T
  def currentSpan: Span
}

object NoTrace extends Spans {
  val enabled = false
  def span[T](name: String, parent: Span = null)(body: => T): T = body
  def currentSpan: Span = null
}

final class Traced(val tracer: Tracer) extends Spans {
  val enabled = true
  def span[T](name: String, parent: Span = null)(body: => T): T = tracer.span(name, parent)(body)
  def currentSpan: Span = tracer.currentSpan
}
