package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call of the benchmark into the engine. `op` is the operation
  * the span belongs to and `parent` the enclosing span (-1 for none). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Spans and engine events of one run, kept in memory until the end.
  *
  * Times are epoch milliseconds so that they line up with the listener
  * events' own clocks; spans take sub-millisecond precision from nanoTime.
  */
object Trace {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** The job property that tags every job with the op that submitted it;
    * stream execution threads inherit it from the op's thread. */
  val OpProperty = "perfbench.op"

  /** Whether the probes record; on only during traced passes. */
  @volatile var enabled = false

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def span[T](name: String, op: Int, parent: Int = -1)(body: => T): (T, Span) = {
    val id = nextId; nextId += 1
    val t0 = nowMs
    val out = try body finally spans += Span(id, name, parent, op, t0, nowMs)
    (out, spans.last)
  }

  def reserveId(): Int = { val id = nextId; nextId += 1; id }

  // ---- engine events (filled from listener threads) ----

  final case class Job(id: Int, op: Int, startMs: Long, stages: Seq[Int])
  final case class Task(stage: Int, failed: Boolean, runMs: Long, cpuNs: Long,
      deserMs: Long, gcMs: Long, inBytes: Long, inRows: Long,
      shReadBytes: Long, shWriteBytes: Long, spillBytes: Long,
      resultBytes: Long)
  final case class Phases(startMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long, intervals: Seq[(Long, Long)])
  final case class Batch(startMs: Long, durations: Map[String, Long],
      stateCommitMs: Long, stateRows: Long)

  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val executions = new ConcurrentLinkedQueue[Phases]()
  val batches = new ConcurrentLinkedQueue[Batch]()

  /** Delivers every event posted so far to the listeners. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbench.BusDrain.drain(sc)
}

/** Job, stage and task events, registered only in a traced run. */
class ExecProbe extends SparkListener {
  import Trace._
  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(OpProperty))).map(_.toInt).getOrElse(-1)
    jobs.add(Job(e.jobId, op, e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (enabled) { jobEnds.put(e.jobId, e.time); () }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) {
    stageTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val failed = e.reason != org.apache.spark.Success
    val m = e.taskMetrics
    tasks.add(
      if (m == null) Task(e.stageId, failed, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      else Task(e.stageId, failed, m.executorRunTime, m.executorCpuTime,
        m.executorDeserializeTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize))
    ()
  }
}

/** Catalyst phase times of every query execution, in every session.
  * Registered through `spark.sql.queryExecutionListeners` in a traced run,
  * so sessions the engine creates internally report too. */
class CatalystProbe extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = if (Trace.enabled) {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    if (ph.nonEmpty) Trace.executions.add(Trace.Phases(
      ph.values.map(_.startTimeMs).min, ms("analysis"), ms("optimization"),
      ms("planning"), ph.values.map(p => (p.startTimeMs, p.endTimeMs)).toSeq))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** Micro-batch progress of every streaming query, in every session.
  * Registered through `spark.sql.streaming.streamingQueryListeners`: the
  * batch latency it reads is an end-to-end metric, so it is on in every
  * run. */
class StreamProbe extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start =
      try java.time.Instant.parse(p.timestamp).toEpochMilli
      catch { case _: Exception => System.currentTimeMillis() }
    Trace.batches.add(Trace.Batch(start, d,
      p.stateOperators.map(_.commitTimeMs).sum,
      p.stateOperators.map(_.numRowsTotal).sum))
    ()
  }
}
