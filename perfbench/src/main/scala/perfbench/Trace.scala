package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval on the benchmark's monotonic clock. Spans of one job
  * share `trace`; `parent` is the id of the span that caused this one
  * (0 for a root). */
final case class Span(id: Long, parent: Long, trace: String, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are kept until the run ends and written
  * out then. A disabled tracer records nothing; the untraced run pays only
  * the call. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }

  /** Id and trace of the innermost open span on this thread (0 if none). */
  def current: (Long, String) = stack.get().headOption.getOrElse((0L, ""))

  def span[A](name: String, trace: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val (parent, outerTrace) = current
      val tr = if (trace.nonEmpty) trace else outerTrace
      stack.set((id, tr) :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, tr, name, t0, System.nanoTime()))
        stack.set(stack.get().tail)
      }
    }

  def newId(): Long = ids.incrementAndGet()

  /** Record a span observed from outside the calling thread (listener
    * events, ingress). */
  def record(id: Long, name: String, trace: String, parent: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(id, parent, trace, name, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per span name: (count, total ns, self ns). Self time is a span's
    * duration minus the part of it that its children's union covers. */
  def selfTimes: Seq[(String, Long, Long, Long)] = {
    val spansNow = all
    val children = spansNow.groupBy(_.parent)
    spansNow.groupBy(_.name).toSeq.map { case (name, ss) =>
      val self = ss.map(s => s.endNs - s.startNs - covered(s, children.getOrElse(s.id, Nil))).sum
      (name, ss.size.toLong, ss.map(s => s.endNs - s.startNs).sum, self)
    }.sortBy(-_._3)
  }

  private def covered(s: Span, kids: Seq[Span]): Long = {
    var total = 0L
    var end = s.startNs
    kids.map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}

/** Counters of Spark's execution layer, read through the public listener
  * API. Totals only grow; callers diff two snapshots to get one pass. When
  * tracing, Spark jobs and stages also become spans under the benchmark
  * span that submitted them (carried in the `perfbench.span` local
  * property). */
final class SparkMeter(tracer: Tracer) extends SparkListener {
  private val c = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private val jobsByName = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  // epoch ms of listener timestamps -> the tracer's nanoTime clock
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  // job id -> (span id, start ns, parent span id, benchmark job name)
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long, String)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def add(k: String, v: Double): Unit = c.merge(k, v, (a, b) => a + b)

  def snapshot: Map[String, Double] = c.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  def jobsFor(name: String): Long = Option(jobsByName.get(name)).map(_.longValue).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    val props = Option(e.properties)
    val name = props.flatMap(p => Option(p.getProperty("perfbench.job"))).getOrElse("")
    jobsByName.merge(name, 1L, (a, b) => a + b)
    val parent = props.flatMap(p => Option(p.getProperty("perfbench.span"))).map(_.toLong).getOrElse(0L)
    jobSpan.put(e.jobId, (tracer.newId(), e.time * 1000000L + epochToNano, parent, name))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (id, start, parent, name) =>
      tracer.record(id, "spark.job", name, parent, start, e.time * 1000000L + epochToNano)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    add("stages", 1)
    for (sub <- si.submissionTime; done <- si.completionTime) {
      val (parent, name) = Option(stageJob.remove(si.stageId))
        .flatMap(j => Option(jobSpan.get(j))).map(j => (j._1, j._4)).getOrElse((0L, ""))
      tracer.record(tracer.newId(), "spark.stage", name, parent, sub * 1000000L + epochToNano,
        done * 1000000L + epochToNano)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (!e.taskInfo.successful) add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val run = m.executorRunTime.toDouble
      add("executor_run_ms", run)
      add("executor_cpu_ns", m.executorCpuTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead).toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      // the web UI's scheduler-delay formula
      val delay = info.duration - run - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      add("scheduler_delay_ms", math.max(0L, delay).toDouble)
    }
  }
}

/** Micro-batch progress of the ingest query, from the public streaming
  * listener. */
final class StreamMeter(tracer: Tracer) extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e)
    if (tracer.enabled) {
      val end = System.nanoTime()
      val dur = e.progress.batchDuration * 1000000L
      tracer.record(tracer.newId(), "streaming.batch", s"batch-${e.progress.batchId}", 0L, end - dur, end)
    }
  }
}

object Stats {
  /** Quantile by linear interpolation; 0 for no samples. */
  def q(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = p * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = q(xs, 0.5)
}
