package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `parent` is 0 for a root span. Times are epoch
  * nanoseconds from the tracer's clock; Spark events (milliseconds) are
  * converted onto the same scale.
  */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long,
    attrs: Map[String, Double] = Map.empty) {
  def dur: Long = end - start
}

object Span {
  /** `span`'s duration minus the part of its interval that its direct
    * children cover (overlapping children are counted once).
    */
  def selfTime(span: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    span.dur - covered
  }

  def toJson(s: Span, runId: String): String = {
    val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.start},"end_ns":${s.end},"attrs":{$attrs}}"""
  }
}

/** In-memory span recorder, off until `enabled` is set; while off,
  * `span` only runs its body.
  * The open span's id is set as the Spark local property
  * [[Tracer.SpanKey]], so the listeners below can hang jobs, stages,
  * tasks and micro-batches under the call that caused them.
  */
final class Tracer(sc: => SparkContext) {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var stack: List[Long] = Nil
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def now(): Long = System.nanoTime() + epochOffset
  def fromMillis(ms: Long): Long = ms * 1000000L
  def nextId(): Long = ids.incrementAndGet()
  def current: Long = stack.headOption.getOrElse(0L)

  def add(s: Span): Unit = if (enabled) synchronized { spans += s }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = current
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val start = now()
      try body
      finally {
        val end = now()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, if (parent == 0L) null else parent.toString)
        add(Span(id, parent, name, start, end))
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  def write(file: java.io.File, runId: String): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.foreach(s => w.println(Span.toJson(s, runId))) finally w.close()
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val TagKey = "graftbench.tag"
}

/** Task-level totals for everything a listener saw while it was attached. */
final class TaskTotals {
  var jobs = 0L
  var streamJobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNanos = 0L
  var cpuNanos = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var firstTaskStart = Long.MaxValue
  var lastTaskEnd = 0L
  val taskDurations = mutable.ArrayBuffer.empty[Long]
}

/** Counts jobs, stages and task metrics into a [[TaskTotals]] that the
  * caller swaps per measured operation, and, when tracing, turns jobs,
  * stages and tasks into child spans of the span that submitted them.
  */
final class BenchListener(tracer: Tracer) extends SparkListener {
  @volatile private var totals = new TaskTotals
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (span id, parent, start)
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSpan = mutable.Map.empty[Int, Long]
  /** Jobs per value of the [[Tracer.TagKey]] local property (the family
    * of the query that submitted them).
    */
  val jobsByTag = mutable.Map.empty[String, Long]

  def reset(): TaskTotals = synchronized { val t = totals; totals = new TaskTotals; t }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    totals.jobs += 1
    def prop(k: String): Option[String] = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    prop(Tracer.TagKey).foreach(t => jobsByTag(t) = jobsByTag.getOrElse(t, 0L) + 1)
    if (prop("sql.streaming.queryId").nonEmpty) totals.streamJobs += 1
    if (tracer.enabled) {
      val parent = prop(Tracer.SpanKey).map(_.toLong).getOrElse(0L)
      jobSpan(e.jobId) = (tracer.nextId(), parent, tracer.fromMillis(e.time))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
      tracer.add(Span(id, parent, "job", start, tracer.fromMillis(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totals.stages += 1
    if (tracer.enabled) {
      val info = e.stageInfo
      val parent = stageJob.remove(info.stageId).flatMap(j => jobSpan.get(j).map(_._1)).getOrElse(0L)
      val id = stageSpan.remove(info.stageId).getOrElse(tracer.nextId())
      for (s <- info.submissionTime; c <- info.completionTime)
        tracer.add(Span(id, parent, "stage", tracer.fromMillis(s), tracer.fromMillis(c),
          Map("tasks" -> info.numTasks.toDouble)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (tracer.enabled) stageSpan(e.stageInfo.stageId) = tracer.nextId()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals
    val info = e.taskInfo
    t.tasks += 1
    t.taskNanos += (info.finishTime - info.launchTime) * 1000000L
    t.taskDurations += (info.finishTime - info.launchTime)
    t.firstTaskStart = math.min(t.firstTaskStart, info.launchTime)
    t.lastTaskEnd = math.max(t.lastTaskEnd, info.finishTime)
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNanos += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRecords += m.inputMetrics.recordsRead
    }
    if (tracer.enabled) {
      val parent = stageSpan.getOrElse(e.stageId, 0L)
      tracer.add(Span(tracer.nextId(), parent, "task",
        tracer.fromMillis(info.launchTime), tracer.fromMillis(info.finishTime)))
    }
  }
}

/** Streaming progress: micro-batch counts and the `addBatch` /
  * `walCommit` durations each progress event reports.
  */
final class StreamListener(tracer: Tracer) extends StreamingQueryListener {
  var batches = 0L
  var addBatchMs = 0L
  var walCommitMs = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val d = e.progress.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    batches += 1
    addBatchMs += ms("addBatch")
    walCommitMs += ms("walCommit")
    if (tracer.enabled) {
      val end = tracer.fromMillis(java.time.Instant.parse(e.progress.timestamp).toEpochMilli + ms("triggerExecution"))
      tracer.add(Span(tracer.nextId(), tracer.current, "micro_batch", end - ms("triggerExecution") * 1000000L, end,
        Map("add_batch_ms" -> ms("addBatch").toDouble, "wal_commit_ms" -> ms("walCommit").toDouble)))
    }
  }

  def reset(): Unit = synchronized { batches = 0; addBatchMs = 0; walCommitMs = 0 }
}
