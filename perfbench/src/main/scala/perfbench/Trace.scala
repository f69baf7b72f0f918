package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** One timed call into a layer. Times are epoch microseconds so driver
  * spans and Spark listener events (epoch milliseconds) share one clock. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Long, end: Long)

/** In-memory span recorder for the traced run. Spans are opened only by
  * the single client thread; Spark jobs arrive from the listener thread
  * and are parented afterwards by time ([[Tracer.finish]]). With tracing
  * off every call is a plain pass-through. */
final class Tracer(val on: Boolean) {
  private val epochOffsetUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs(): Long = System.nanoTime() / 1000L + epochOffsetUs

  private final class Open(val id: Int, val name: String, val parent: Int,
                           val op: Int, val start: Long)
  private val closed = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Open] = Nil
  private var nextId = 0
  @volatile var op: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = synchronized {
        val o = new Open(nextId, name, stack.headOption.fold(-1)(_.id), op, nowUs())
        nextId += 1
        stack = o :: stack
        o
      }
      try body
      finally synchronized {
        closed += Span(s.id, s.name, s.parent, s.op, s.start, nowUs())
        stack = stack.dropWhile(_.id != s.id).drop(1)
      }
    }

  /** Spark jobs as spans: (name, startUs, endUs), parented by [[finish]]. */
  private val unparented = mutable.ArrayBuffer.empty[(String, Long, Long)]
  def external(name: String, startUs: Long, endUs: Long): Unit =
    synchronized { unparented += ((name, startUs, endUs)) }

  /** All spans, each external one parented to the innermost driver span
    * whose interval holds its start. */
  def finish(): Seq[Span] = synchronized {
    val own = closed.sortBy(_.start).toVector
    val byId = own.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + byId.get(s.parent).fold(0)(depth)
    var id = nextId
    val ext = unparented.toVector.map { case (name, st, en) =>
      val host = own.filter(s => s.start <= st && st <= s.end)
        .sortBy(s => -depth(s)).headOption
      id += 1
      Span(id - 1, name, host.fold(-1)(_.id), host.fold(-1)(_.op), st, en)
    }
    own ++ ext
  }
}

object Tracer {
  /** Self time per span: duration minus the union of its children's
    * intervals (clipped to the span). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
      s.id -> ((s.end - s.start) - Stats.unionLength(ivs))
    }.toMap
  }
}

/** Counts the two Spark log anomalies the bench tracks: a cached block
  * computed twice ("already exists ... not re-adding") and an accumulator
  * update for a finished plan ("Failed to update accumulator"). */
final class AnomalyCounter extends org.apache.logging.log4j.core.appender.AbstractAppender(
    "perfbench-anomalies", null, null, true,
    org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  val blockRecompute = new AtomicLong
  val accumUpdateFail = new AtomicLong

  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
    val m = e.getMessage.getFormattedMessage
    if (m.contains("already exists") && m.contains("not re-adding")) blockRecompute.incrementAndGet()
    if (m.contains("Failed to update accumulator")) accumUpdateFail.incrementAndGet()
  }

  def attach(): this.type = {
    import org.apache.logging.log4j.core.LoggerContext
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    start()
    ctx.getConfiguration.getRootLogger.addAppender(this, null, null)
    ctx.updateLoggers()
    this
  }

  def detach(): Unit = {
    import org.apache.logging.log4j.core.LoggerContext
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(getName)
    ctx.updateLoggers()
    stop()
  }
}

/** Records read from sources (files and cached blocks) by finished tasks:
  * the input rows behind `rows_per_s`, counted in every run. */
final class RecordsRead extends org.apache.spark.scheduler.SparkListener {
  private val n = new AtomicLong
  def get: Long = n.get
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach(m => n.addAndGet(m.inputMetrics.recordsRead))
}

/** Spark execution counters of one measured window: jobs, stages, tasks,
  * executor time, shuffle, spill, input, plan phases and streaming
  * progress. Fed by a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener; [[counting]] gates which events are kept. */
final class SparkCounters(tracer: Tracer)
    extends org.apache.spark.scheduler.SparkListener
    with org.apache.spark.sql.util.QueryExecutionListener {
  import org.apache.spark.scheduler._

  @volatile var counting = false

  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var taskMs = 0L; var taskCpuNs = 0L
  var shuffleReadB = 0L; var shuffleWriteB = 0L; var spillB = 0L
  var inputB = 0L; var inputRows = 0L
  /** per stage: (sum of task ms, max task ms) */
  val stageTask = mutable.Map.empty[Int, (Long, Long)]
  val jobIntervalsUs = mutable.ArrayBuffer.empty[(Long, Long)]
  val phaseNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var streamBatches = 0L; var streamRows = 0L
  var addBatchMs = 0L; var commitMs = 0L

  private val jobStart = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (counting) jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t0 =>
      jobs += 1
      jobIntervalsUs += ((t0 * 1000L, e.time * 1000L))
      tracer.external("spark.job", t0 * 1000L, e.time * 1000L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (counting) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (counting) {
      tasks += 1
      if (!e.taskInfo.successful) failedTasks += 1
      val ms = e.taskInfo.duration
      taskMs += ms
      val (sum, mx) = stageTask.getOrElse(e.stageId, (0L, 0L))
      stageTask(e.stageId) = (sum + ms, math.max(mx, ms))
      Option(e.taskMetrics).foreach { m =>
        taskCpuNs += m.executorCpuTime
        shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        inputB += m.inputMetrics.bytesRead
        inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  override def onSuccess(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = synchronized {
    if (counting) qe.tracker.phases.foreach { case (phase, s) =>
      phaseNs(phase) += (s.endTimeMs - s.startTimeMs) * 1000000L
    }
  }

  override def onFailure(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()

  val streaming: org.apache.spark.sql.streaming.StreamingQueryListener =
    new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = SparkCounters.this.synchronized {
        val d = e.progress.durationMs
        if (counting && d.containsKey("addBatch")) {
          streamBatches += 1
          streamRows += e.progress.numInputRows
          addBatchMs += d.get("addBatch")
          Seq("walCommit", "commitOffsets", "commitBatch")
            .foreach(k => if (d.containsKey(k)) commitMs += d.get(k))
        }
      }
    }

  /** Aggregate slowest-task share: Σ per-stage max task time over Σ stage
    * task time — 1/tasks for perfectly even stages, 1.0 when one task
    * does all of a stage's work. */
  def maxTaskShare: Double = {
    val (sum, mx) = stageTask.values.foldLeft((0L, 0L)) { case ((s, m), (a, b)) => (s + a, m + b) }
    if (sum == 0) 0.0 else mx.toDouble / sum
  }
}
