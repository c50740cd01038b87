package bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sources.ShardedLog

/** Wall-clock milliseconds as a double (sub-millisecond resolution). */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def ms(): Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** Spans recorded by the benchmark around its calls into the program.
  * Kept in memory and written out when the run ends. A disabled trace
  * records nothing. */
object Spans {
  final case class Span(id: Long, parent: Long, name: String,
                        startMs: Double, endMs: Double, attrs: Map[String, String])
}

final class Spans(val enabled: Boolean) {
  import Spans.Span
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** An id for a span recorded later, once its end is known. */
  def nextId(): Long = ids.incrementAndGet()

  def add(parent: Long, name: String, startMs: Double, endMs: Double,
          attrs: Map[String, String] = Map.empty, id: Long = nextId()): Long = {
    if (enabled) spans.add(Span(id, parent, name, startMs, endMs, attrs))
    id
  }

  /** Time `body`, recording it as a span; returns the result and the span's
    * duration in ms. */
  def timed[T](parent: Long, name: String, attrs: Map[String, String] = Map.empty)
              (body: => T): (T, Double) = {
    val t0 = Clock.ms()
    val r = body
    val t1 = Clock.ms()
    add(parent, name, t0, t1, attrs)
    (r, t1 - t0)
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startMs, s.id))
}

/** One progress report of a streaming query (the engine names view
  * queries after the view and table queries `<relation>__table__<id>`). */
final case class Progress(query: String, batchId: Long, startMs: Double,
                          durations: Map[String, Long], rows: Long,
                          covered: Map[String, Long], readBytes: Long, stateRowsTotal: Long,
                          stateRowsUpdated: Long, stateMemBytes: Long,
                          stateCommitMs: Long) {
  def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
  def ran: Boolean = durations.contains("addBatch")
  def isTable: Boolean = query.contains("__table__")
}

/** Collects every query progress through Spark's public listener API.
  * Registered in every run: event-to-view latency and the backlog need
  * each commit's end offset. */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[Progress]()
  @volatile private var failure: Option[String] = None

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failure = Some(x))

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def offsets(j: String) = Option(j).filter(_.startsWith("{"))
      .map(ShardedLog.parseOffsetJson).getOrElse(Map.empty[String, ShardedLog.ShardPos])
    val src = p.sources.headOption
    val end = src.map(s => offsets(s.endOffset)).getOrElse(Map.empty)
    val start = src.map(s => offsets(s.startOffset)).getOrElse(Map.empty)
    // bytes between the two offsets; position 0 means "nothing consumed"
    // and the first record starts after the file header
    val readBytes = end.map { case (k, e) =>
      math.max(0L, e.bytes - math.max(start.get(k).map(_.bytes).getOrElse(0L), ShardedLog.HEADER))
    }.sum
    val st = p.stateOperators.headOption
    q.add(Progress(
      Option(p.name).getOrElse(""), p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, end.map { case (k, v) => k -> v.recs }, readBytes,
      st.map(_.numRowsTotal).getOrElse(0L), st.map(_.numRowsUpdated).getOrElse(0L),
      st.map(_.memoryUsedBytes).getOrElse(0L), st.map(_.commitTimeMs).getOrElse(0L)))
  }

  def all: Seq[Progress] = q.asScala.toSeq.sortBy(p => (p.query, p.batchId, p.startMs))
  def ofQuery(name: String): Seq[Progress] = all.filter(p => p.query == name && p.ran)
  def failed: Option[String] = failure
}

object LayerLog {
  final case class Task(stageId: Int, endMs: Double, runMs: Long, cpuNs: Long,
                        gcMs: Long, recordsRead: Long,
                        shuffleReadBytes: Long, shuffleWriteBytes: Long,
                        spillBytes: Long)
  final case class Job(id: Int, startMs: Double, endMs: Double, stageIds: Seq[Int],
                       group: String)
}

/** Task, stage and job facts from Spark's public `SparkListener`.
  * Registered only in the traced run. */
final class LayerLog extends SparkListener {
  import LayerLog.{Job, Task}

  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val jobStarts =
    new java.util.concurrent.ConcurrentHashMap[Int, (Double, Seq[Int], String)]()
  private val jobs = new ConcurrentLinkedQueue[Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobStarts.put(e.jobId, (e.time.toDouble, e.stageInfos.map(_.stageId), group.getOrElse("")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (s, st, g) =>
      jobs.add(Job(e.jobId, s, e.time.toDouble, st, g)) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    tasks.add(Task(e.stageId, e.taskInfo.finishTime.toDouble, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def tasksIn(lo: Double, hi: Double): Seq[Task] =
    tasks.asScala.toSeq.filter(t => t.endMs >= lo && t.endMs < hi)
  def jobsIn(lo: Double, hi: Double, group: String): Seq[Job] =
    jobs.asScala.toSeq.filter(j => j.endMs > lo && j.startMs < hi && j.group == group)
  def tasksOfJobs(js: Seq[Job]): Seq[Task] = {
    val st = js.flatMap(_.stageIds).toSet
    tasks.asScala.toSeq.filter(t => st.contains(t.stageId))
  }
}
