package bridgebench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One timed interval at a layer boundary. `key` groups the spans of one
  * trigger (`batch-<id>`) or one query (`query-<name>`); `parent` names the
  * span of the same key that caused this one, resolved when spans are
  * written.
  */
final case class Span(name: String, key: String, parent: String, startUs: Long, endUs: Long)

/** In-memory span recorder. Spans are kept only when tracing is on; the
  * untraced run pays one flag check per boundary.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  /** Spans that start before this are left out of the written trace:
    * set-up is not part of the profile.
    */
  @volatile var fromUs: Long = 0L

  def record(s: Span): Unit = if (enabled) spans.synchronized { spans += s }

  def span[T](name: String, key: String, parent: String = "")(body: => T): T = {
    val t0 = Clock.nowUs()
    try body finally record(Span(name, key, parent, t0, Clock.nowUs()))
  }

  def all: Seq[Span] = spans.synchronized { spans.filter(_.startUs >= fromUs).toVector }
}

/** Epoch microseconds read from the monotonic clock, so spans from
  * `nanoTime` and trigger spans from progress timestamps share one axis.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
  def toUs(nanoTime: Long): Long = baseUs + (nanoTime - baseNs) / 1000L
}

/** Records every progress event per streaming query; forwards the
  * measured query's events to the program's `StatsListener` so its
  * counters see exactly one query.
  */
final class ProgressLog extends StreamingQueryListener {
  private val byQuery =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]]()
  @volatile private var forward: Option[(java.util.UUID, StreamingQueryListener)] = None
  @volatile private var onProgress: StreamingQueryProgress => Unit = _ => ()

  def forwardTo(id: java.util.UUID, l: StreamingQueryListener, hook: StreamingQueryProgress => Unit): Unit = {
    onProgress = hook
    forward = Some(id -> l)
  }

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    byQuery.computeIfAbsent(p.id, _ => new java.util.concurrent.ConcurrentLinkedQueue()).add(p)
    forward.foreach { case (id, l) =>
      if (id == p.id) { l.onQueryProgress(event); onProgress(p) }
    }
  }

  def progresses(id: java.util.UUID): Seq[StreamingQueryProgress] =
    Option(byQuery.get(id)).map(_.asScala.toVector).getOrElse(Vector.empty)

  def inputRows(id: java.util.UUID): Long = progresses(id).map(_.numInputRows).sum
}

/** Spark scheduler counters: jobs, stages, tasks, task time, shuffle and
  * spill bytes. Read as deltas between two snapshots.
  */
final class ExecCounters extends SparkListener {
  val jobs, stages, tasks, taskTimeMs, shuffleRead, shuffleWrite, spill = new AtomicLong()
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskTimeMs.addAndGet(m.executorRunTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def snapshot: Vector[Long] =
    Vector(jobs, stages, tasks, taskTimeMs, shuffleRead, shuffleWrite, spill).map(_.get)
}

/** JVM and codegen counters sampled around the measured region. */
object Probes {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  private def compileHist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  /** Janino compiles since JVM start, and their summed milliseconds (the
    * histogram keeps every sample while the count stays under its
    * 1028-sample reservoir, which a run of this benchmark does).
    */
  def codegen: (Long, Double) = (compileHist.getCount, compileHist.getSnapshot.getValues.sum.toDouble)

  def exec(before: Vector[Long], after: Vector[Long], wallS: Double): Map[String, Double] = {
    val d = after.zip(before).map { case (a, b) => (a - b).toDouble }
    Map(
      "exec.jobs" -> d(0), "exec.stages" -> d(1), "exec.tasks" -> d(2),
      "exec.parallelism" -> (if (wallS > 0) d(3) / 1000.0 / wallS else 0.0),
      "exec.shuffle_read_mb" -> d(4) / 1048576.0, "exec.shuffle_write_mb" -> d(5) / 1048576.0,
      "exec.spill_mb" -> d(6) / 1048576.0)
  }
}

object Stats {
  /** Linear-interpolated quantile, the same rule as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted.toArray
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
