package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** One timed interval of the traced run. `start`/`end` are seconds since
  * the tracer's origin; `parent` is the enclosing span's id (-1 at the
  * top). Spark jobs become spans too, parented on the code span that
  * submitted them. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
    start: Double, end: Double)

/** In-memory span recorder. Spans are kept until [[spans]] is read at the
  * end of the run; nothing is written while a span is open. */
final class Tracer(val runId: String) {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, Double)]
  private var nextId = 0
  /** Spark local property that carries the open span id into the jobs it
    * submits (inherited by threads the program starts inside the span) */
  val SpanKey = "perfbench.span"

  def now(): Double = (System.nanoTime() - originNs) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - originMs) / 1e3

  def span[T](spark: SparkSession, name: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(SpanKey)
    stack = (id, now()) :: stack
    sc.setLocalProperty(SpanKey, id.toString)
    try body
    finally {
      val (_, start) = stack.head
      stack = stack.tail
      sc.setLocalProperty(SpanKey, outer)
      add(Span(id, parent, name, runId, start, now()))
    }
  }

  def add(s: Span): Unit = synchronized { done += s }
  def newId(): Int = synchronized { nextId += 1; nextId }
  def spans: Seq[Span] = synchronized { done.sortBy(_.start).toSeq }
}

/** Task- and job-level counters from the listener bus. The untimed runs
  * use only `peakExecMem`; the traced run reads all of them, and also
  * records each root SQL execution (one the program started, not one
  * nested inside another, such as the query under a write command) as a
  * `spark.query` span. */
final class TaskCounters(tracer: Option[Tracer]) extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var shuffleWrite = 0L
  @volatile var shuffleRead = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var peakExecMem = 0L
  private val openJobs = scala.collection.mutable.Map.empty[Int, (Int, Double)]
  private val openQueries = scala.collection.mutable.Map.empty[Long, Double]

  override def onOtherEvent(e: SparkListenerEvent): Unit = tracer.foreach { t =>
    synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) =>
          openQueries(s.executionId) = t.fromEpochMs(s.time)
        case end: SparkListenerSQLExecutionEnd =>
          openQueries.remove(end.executionId).foreach { start =>
            t.add(Span(t.newId(), -1, "spark.query", t.runId, start, t.fromEpochMs(end.time)))
          }
        case _ =>
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    tracer.foreach { t =>
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(t.SpanKey))).map(_.toInt).getOrElse(-1)
      openJobs(e.jobId) = (parent, t.fromEpochMs(e.time))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    tracer.foreach { t =>
      openJobs.remove(e.jobId).foreach { case (parent, start) =>
        t.add(Span(t.newId(), parent, s"spark.job", t.runId, start,
          t.fromEpochMs(e.time)))
      }
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }
  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; shuffleWrite = 0; shuffleRead = 0
    cpuNs = 0; gcMs = 0; peakExecMem = 0
  }
}

/** Phase times of every query the session executes, from each query's
  * `QueryPlanningTracker` (whole ms): physical planning alone, and
  * analysis, optimization and planning together. */
final class PhaseTimes extends QueryExecutionListener {
  @volatile var planningMs = 0L
  @volatile var allPhasesMs = 0L

  private def add(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    planningMs += ms("planning")
    allPhasesMs += ms("analysis") + ms("optimization") + ms("planning")
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    add(qe)
  def reset(): Unit = synchronized { planningMs = 0; allPhasesMs = 0 }
}

/** Catalyst rule time from the process-wide rule metering, in ns. It
  * also covers the analysis a Dataset runs eagerly when it is built,
  * which no executed query's tracker sees. Analyzer rules count as
  * analysis; every other rule (optimizer, adaptive re-optimization) as
  * optimization. */
object RuleTimes {
  private val Line = """^(\S+)\s+\d+ / (\d+)\s+\d+ / \d+\s*$""".r

  def snapshot(): Map[String, Long] =
    org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent().linesIterator
      .collect { case Line(rule, total) => rule -> total.toLong }.toMap

  /** (analyzer ns, other rules ns) spent since `before` */
  def since(before: Map[String, Long]): (Long, Long) = {
    val delta = snapshot().map { case (r, t) => r -> (t - before.getOrElse(r, 0L)) }
    val (analysis, other) = delta.partition { case (r, _) =>
      r.contains(".catalyst.analysis.") || r.contains("Analyzer$") }
    (analysis.values.sum, other.values.sum)
  }
}
