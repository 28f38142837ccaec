package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Benchmark-side spans around every call into an engine layer, plus the
  * Spark counters attributed to them.
  *
  * A span is (id, name, start, end, parent, request id). Spans are kept
  * in memory and written out when the run ends. While a span is open its
  * id is set as a thread-local Spark local property, so every job the
  * call submits (from this thread, or from Spark's own broadcast and
  * subquery threads, which inherit the property) is attributed to it by
  * [[SpanCounters]] — concurrent clients never mix their jobs.
  *
  * Tracing is off unless [[Trace.enable]] ran: then `span` is a plain
  * call and no listener is registered, which is the untraced end-to-end
  * configuration. */
object Trace {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                        parent: Long, req: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  @volatile private var sc: SparkContext = _
  @volatile private var counters: SpanCounters = _
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val current = ThreadLocal.withInitial[(Long, Long)](() => (0L, -1L))

  def enable(context: SparkContext): Unit = {
    counters = new SpanCounters
    context.addSparkListener(counters)
    sc = context
  }

  /** Time `body` as a span named `name`. `req` tags the request the span
    * serves; child spans inherit their parent's request id. */
  def span[T](name: String, req: Long = -1L)(body: => T): T = {
    val ctx = sc
    if (ctx == null) body
    else {
      val id = ids.incrementAndGet()
      val (parent, parentReq) = current.get
      val reqId = if (req >= 0) req else parentReq
      val prevProp = ctx.getLocalProperty(SpanProperty)
      current.set((id, reqId))
      ctx.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent, reqId))
        current.set((parent, parentReq))
        ctx.setLocalProperty(SpanProperty, prevProp)
      }
    }
  }

  /** Wait for the listener bus to deliver every event posted so far. */
  def settle(): Unit = if (sc != null) org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Spark counters attributed to span `id` (its own jobs, not its children's). */
  def countersOf(id: Long): Counters =
    if (counters == null) Counters.zero else counters.of(id)

  /** Counters summed over `spans`. */
  def sum(spans: Seq[Span]): Counters =
    spans.map(s => countersOf(s.id)).foldLeft(Counters.zero)(_ + _)

  /** Counters of jobs that ran outside any span. */
  def unattributed: Counters = countersOf(0L)

  /** Write all spans, one JSON object per line, with their counters. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val base = all.map(_.startNs).minOption.getOrElse(0L)
    val lines = all.sortBy(_.startNs).map { s =>
      val c = countersOf(s.id)
      f"""{"id":${s.id},"name":"${s.name}","start_ms":${(s.startNs - base) / 1e6}%.3f,""" +
        f""""end_ms":${(s.endNs - base) / 1e6}%.3f,"parent":${s.parent},"req":${s.req},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        f""""job_ms":${c.jobMs}%.3f,"sched_wait_ms":${c.schedWaitMs}%.3f,""" +
        f""""executor_run_ms":${c.runMs}%.3f,"shuffle_bytes":${c.shuffleBytes},""" +
        s""""spill_bytes":${c.spillBytes},"records_read":${c.recordsRead},""" +
        s""""bytes_written":${c.bytesWritten}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark work done on behalf of one span. */
final case class Counters(jobs: Long, stages: Long, tasks: Long, jobMs: Double,
                          schedWaitMs: Double, runMs: Double, shuffleBytes: Long,
                          spillBytes: Long, recordsRead: Long, bytesWritten: Long) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, jobMs + o.jobMs, schedWaitMs + o.schedWaitMs, runMs + o.runMs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    recordsRead + o.recordsRead, bytesWritten + o.bytesWritten)
}
object Counters {
  val zero: Counters = Counters(0, 0, 0, 0.0, 0.0, 0.0, 0, 0, 0, 0)
}

/** Listener attributing jobs, stages and tasks to the span whose id was
  * the submitting thread's [[Trace.SpanProperty]] (0 when none). */
final class SpanCounters extends SparkListener {
  private val perSpan = new ConcurrentHashMap[Long, Counters]
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]

  def of(id: Long): Counters = perSpan.getOrDefault(id, Counters.zero)
  private def add(id: Long, c: Counters): Unit =
    perSpan.merge(id, c, (a: Counters, b: Counters) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    jobSpan.put(e.jobId, span)
    jobStart.put(e.jobId, e.time)
    e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
    add(span, Counters.zero.copy(jobs = 1, stages = e.stageInfos.size))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val span = jobSpan.getOrDefault(e.jobId, 0L)
    val start = jobStart.getOrDefault(e.jobId, e.time)
    add(span, Counters.zero.copy(jobMs = (e.time - start).toDouble))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val at: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageSubmit.put(e.stageInfo.stageId, at)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, 0L)
    val wait = e.taskInfo.launchTime - stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
    add(span, Counters.zero.copy(tasks = 1, schedWaitMs = math.max(0L, wait).toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val span = stageSpan.getOrDefault(e.stageId, 0L)
      add(span, Counters.zero.copy(
        runMs = m.executorRunTime.toDouble,
        shuffleBytes = m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        recordsRead = m.inputMetrics.recordsRead,
        bytesWritten = m.outputMetrics.bytesWritten))
    }
  }
}
