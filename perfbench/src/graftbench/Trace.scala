package graftbench

import java.time.Instant
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are epoch microseconds;
  * `parent` is the id of the span that caused this one (0 = none).
  */
final case class Span(id: Int, parent: Int, name: String, kind: String, startUs: Long, endUs: Long)

/** In-memory span store, written out once the run ends. */
object Spans {
  private val epochUs = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private val ids = new AtomicInteger(0)
  private val buf = new ConcurrentLinkedQueue[Span]()

  def nowUs: Long = usOf(System.nanoTime())
  /** A System.nanoTime reading as epoch microseconds. */
  def usOf(nanoTime: Long): Long = epochUs + (nanoTime - nano0) / 1000L
  def nextId(): Int = ids.incrementAndGet()
  def add(s: Span): Unit = buf.add(s)
  def all: Seq[Span] = buf.asScala.toSeq

  /** Records `body` as a span under `parent`; `body` gets the new span's id. */
  def span[T](parent: Int, name: String, kind: String)(body: Int => T): T = {
    val id = nextId()
    val t0 = nowUs
    try body(id) finally add(Span(id, parent, name, kind, t0, nowUs))
  }

  /** Length of the union of the given [start, end] intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) total += hi - lo; lo = a; hi = b } else hi = math.max(hi, b)
    }
    if (hi > lo) total + hi - lo else total
  }

  /** Duration minus the part of it that the children's intervals cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val inside = kids.getOrElse(s.id, Nil).map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
      s.id -> math.max(0L, (s.endUs - s.startUs) - covered(inside))
    }.toMap
  }
}

/** Time spent inside the trace's own callbacks: the direct cost of tracing. */
object TraceCost {
  val nanos = new LongAdder
  def apply[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally nanos.add(System.nanoTime() - t0)
  }
}

/** Job, stage and task accounting from Spark's listener bus. */
final class SparkTrace extends SparkListener {
  final class Job(val startMs: Long, val group: String) { @volatile var endMs: Long = -1L }
  final class Stage(val jobId: Int) {
    @volatile var submittedMs: Long = -1L
    @volatile var completedMs: Long = -1L
    val taskMs = new ConcurrentLinkedQueue[java.lang.Long]()
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  val tasks, runMs, cpuNs, gcMs, shuffleWriteBytes, shuffleReadBytes, shuffleRecords,
      spillBytes, inputBytes, inputRecords = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = TraceCost {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, new Job(e.time, group))
    e.stageIds.foreach(id => stages.putIfAbsent(id, new Stage(e.jobId)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = TraceCost {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = TraceCost {
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = TraceCost {
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.completedMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      if (s.submittedMs < 0) s.submittedMs = e.stageInfo.submissionTime.getOrElse(s.completedMs)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = TraceCost {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleRecords.add(m.shuffleWriteMetrics.recordsWritten)
      shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.add(m.diskBytesSpilled)
      inputBytes.add(m.inputMetrics.bytesRead)
      inputRecords.add(m.inputMetrics.recordsRead)
      Option(stages.get(e.stageId)).foreach(_.taskMs.add(m.executorRunTime))
    }
  }
}

/** Planning phases of every query Spark runs through a Dataset action or write. */
final class QueryTrace extends QueryExecutionListener {
  val phaseMs = new ConcurrentHashMap[String, LongAdder]()
  val queries = new LongAdder

  def addPhases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      phaseMs.computeIfAbsent(phase, _ => new LongAdder).add(p.durationMs)
      Spans.add(Span(Spans.nextId(), 0, phase, "plan", p.startTimeMs * 1000L, p.endTimeMs * 1000L))
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    TraceCost { queries.increment(); addPhases(qe) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    TraceCost { queries.increment(); addPhases(qe) }

  def seconds(phase: String): Double =
    Option(phaseMs.get(phase)).map(_.sum / 1000.0).getOrElse(0.0)
}

/** Streaming progress, seen from every session. Spark builds this class
  * itself from `spark.sql.streaming.streamingQueryListeners`, a static
  * conf every session's StreamingQueryManager reads, so queries on the
  * cloned sessions the replays use report here too.
  */
final class StreamTrace extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = TraceCost {
    StreamTrace.started(e.runId, Instant.parse(e.timestamp).toEpochMilli)
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = TraceCost {
    StreamTrace.progress(e.progress)
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object StreamTrace {
  final class Query(val startMs: Long, val gate: String) {
    @volatile var batches = 0
    @volatile var firstProgressMs: Long = -1L
    @volatile var planningMs, walMs, addBatchMs = 0L
    @volatile var stateRows, stateBytes = 0L
  }
  /** The gate running when a query starts (streaming gates run one at a time). */
  @volatile var currentGate: String = ""
  val queries = new ConcurrentHashMap[UUID, Query]()

  def started(runId: UUID, ms: Long): Unit = queries.putIfAbsent(runId, new Query(ms, currentGate))

  def progress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    Option(queries.get(p.runId)).foreach { q =>
      q.synchronized {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        q.batches += 1
        if (q.firstProgressMs < 0)
          q.firstProgressMs = Instant.parse(p.timestamp).toEpochMilli + d.getOrElse("triggerExecution", 0L)
        q.planningMs += d.getOrElse("queryPlanning", 0L)
        q.walMs += d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)
        q.addBatchMs += d.getOrElse("addBatch", 0L)
        q.stateRows = p.stateOperators.map(_.numRowsTotal).sum
        q.stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum
      }
    }

  def all: Seq[Query] = queries.values.asScala.toSeq
}
