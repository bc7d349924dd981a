package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution: a wall-clock anchor
  * plus the monotonic clock, so spans recorded by the harness line up with
  * the epoch-millisecond stamps in Spark's listener events.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** One traced interval. `parent` is 0 for a root; listener-derived spans
  * get their parent at [[Trace.write]] time, as the innermost harness span
  * that contains their start.
  */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
    parent: Long, attrs: Map[String, Any])

/** In-memory span store of one run. Harness spans nest through a
  * thread-local stack; spans come out only when the run ends.
  */
final class Trace(val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val start = Clock.nowMs
    try body
    finally {
      stack.set(stack.get.tail)
      spans.add(Span(id, name, start, Clock.nowMs, parent, attrs))
    }
  }

  /** A span observed by a listener, parent resolved later (-1). */
  def record(name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Any]): Unit =
    spans.add(Span(ids.incrementAndGet(), name, startMs, endMs, -1L, attrs))

  def write(path: java.nio.file.Path): Unit = {
    val all = spans.asScala.toVector
    val own = all.filter(_.parent >= 0)
    val lines = all.sortBy(_.startMs).map { s =>
      val parent =
        if (s.parent >= 0) s.parent
        else own.filter(o => o.startMs <= s.startMs && s.startMs <= o.endMs)
          .sortBy(o => o.endMs - o.startMs).headOption.map(_.id).getOrElse(0L)
      Json.render(Map("run" -> runId, "id" -> s.id, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> parent,
        "attrs" -> s.attrs))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Spark's public listeners, recording jobs, stages (with their task
  * metrics) and Catalyst phase times into a [[Trace]].
  */
final class Listeners(trace: Trace) extends SparkListener
    with QueryExecutionListener {
  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile var lastEventMs: Double = Clock.nowMs

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.put(e.jobId, e.time); lastEventMs = Clock.nowMs
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = Option(jobStarts.remove(e.jobId)).map(_.toDouble)
      .getOrElse(e.time.toDouble)
    trace.record("exec.job", start, e.time.toDouble, Map("job" -> e.jobId))
    lastEventMs = Clock.nowMs
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val end = si.completionTime.getOrElse(System.currentTimeMillis()).toDouble
    val start = si.submissionTime.map(_.toDouble).getOrElse(end)
    val m = si.taskMetrics
    val attrs: Map[String, Any] =
      if (m == null) Map("tasks" -> si.numTasks)
      else Map("tasks" -> si.numTasks,
        "task_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_read_b" -> (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead),
        "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_b" -> m.inputMetrics.bytesRead,
        "input_rec" -> m.inputMetrics.recordsRead)
    trace.record("exec.stage", start, end,
      attrs ++ Map("stage" -> si.stageId, "failed" -> si.failureReason.isDefined))
    lastEventMs = Clock.nowMs
  }

  private def phases(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, p) =>
      trace.record(s"plans.$phase", p.startTimeMs.toDouble,
        p.endTimeMs.toDouble, Map.empty)
    }
    lastEventMs = Clock.nowMs
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phases(qe)

  /** Attach to a session; both listener buses are public API. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Listener events arrive asynchronously: wait until none has arrived
    * for `quietMs`, at most `maxMs`.
    */
  def drain(quietMs: Long = 500L, maxMs: Long = 5000L): Unit = {
    val deadline = Clock.nowMs + maxMs
    while (Clock.nowMs - lastEventMs < quietMs && Clock.nowMs < deadline)
      Thread.sleep(50L)
  }
}

/** Records one span per micro-batch from the streaming progress events. */
final class ProgressListener(trace: Trace) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val trigger = Option(p.durationMs.get("triggerExecution"))
      .map(_.doubleValue).getOrElse(0.0)
    trace.record("stream.batch", start, start + trigger,
      Map("batch" -> p.batchId, "rows" -> p.numInputRows))
  }
}

/** Codegen compilations so far and their mean compile time (ms). The
  * compile-time histogram keeps a sample, so time per query is estimated
  * as new compilations × current mean.
  */
object Codegen {
  def snapshot(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
