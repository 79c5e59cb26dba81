package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval. Spans of a run share `run`; `parent` is the id of the
  * span that caused this one (0 for the run's root).
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span log, written out once when the benchmark ends. */
final class Spans(val run: String) {
  private val ids = new AtomicLong(0)
  private val done = ArrayBuffer.empty[Span]

  def time[T](name: String, parent: Long)(body: Long => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    val out = body(id)
    val s = Span(id, parent, name, t0, System.nanoTime())
    synchronized(done += s)
    (out, s)
  }

  def add(name: String, parent: Long, startNs: Long, endNs: Long): Unit =
    synchronized(done += Span(ids.incrementAndGet(), parent, name, startNs, endNs))

  def all: Seq[Span] = synchronized(done.sortBy(_.id).toList)
}

/** Task-level counters of one phase (all jobs started under one job group). */
final class PhaseCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var deserMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExecMem = 0L

  def fields: Map[String, Long] = synchronized(Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failedTasks" -> failedTasks,
    "runMs" -> runMs, "deserMs" -> deserMs, "shuffleWrite" -> shuffleWrite,
    "shuffleRead" -> shuffleRead, "spill" -> spill, "peakExecMem" -> peakExecMem))
}

/** Spark listener that attributes jobs, stages and tasks to the phase whose
  * job group started them. The benchmark sets the job group around each
  * phase (`<phase>:<query>`); jobs of a streaming query carry the query's
  * run id as their group and are attributed to phase `stream`.
  */
final class PhaseListener extends SparkListener {
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  val phases = new ConcurrentHashMap[String, PhaseCounters]()

  private def counters(p: String): PhaseCounters =
    phases.computeIfAbsent(p, _ => new PhaseCounters)

  private def phaseOf(group: String): String =
    if (group == null) "none"
    else if (group.contains(":")) group.takeWhile(_ != ':')
    else "stream"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = phaseOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    e.stageIds.foreach(stagePhase.put(_, p))
    val c = counters(p)
    c.synchronized(c.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val c = counters(stagePhase.getOrDefault(e.stageInfo.stageId, "none"))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stagePhase.getOrDefault(e.stageId, "none"))
    c.synchronized {
      c.tasks += 1
      if (e.taskInfo != null && (e.taskInfo.failed || e.taskInfo.killed)) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.deserMs += m.executorDeserializeTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }
}

/** Collects the progress of every micro-batch of the streaming queries it
  * sees, keyed by query name.
  */
final class ProgressListener extends StreamingQueryListener {
  private val byName = new ConcurrentHashMap[String, ArrayBuffer[StreamingQueryProgress]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val buf = byName.computeIfAbsent(String.valueOf(e.progress.name), _ => ArrayBuffer.empty)
    buf.synchronized(buf += e.progress)
  }

  /** Progress of the batches that read input (AvailableNow ends with none). */
  def batches(name: String): Seq[StreamingQueryProgress] = {
    val buf = byName.getOrDefault(name, ArrayBuffer.empty)
    buf.synchronized(buf.toList).filter(_.numInputRows > 0)
  }
}
