package graft.streaming

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** A1 — interval success/error counters with reset-on-report semantics
  * (src/Logger.js:1-22). Wire the pipeline with
  * `df.observe("graft_stats", sum(...valid...), sum(...!valid...))` and
  * attach this listener; it accumulates per-trigger observed metrics and
  * `report()` returns-and-resets, exactly like the reference's timer tick.
  */
class StatsListener(onReport: (Long, Long) => Unit = (s, e) =>
    println(s"[graft] Sent messages: $s Errors: $e")) extends StreamingQueryListener {

  private val success = new AtomicLong(0)
  private val error = new AtomicLong(0)

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val obs = event.progress.observedMetrics
    if (obs.containsKey("graft_stats")) {
      val row = obs.get("graft_stats")
      success.addAndGet(if (row.isNullAt(0)) 0L else row.getLong(0))
      error.addAndGet(if (row.isNullAt(1)) 0L else row.getLong(1))
    }
  }

  def counts: (Long, Long) = (success.get, error.get)

  /** Print-and-reset, the Logger.js:17-21 contract. Call from a timer at
    * cfg.logIntervalSecs or after processAllAvailable in tests.
    */
  def report(): (Long, Long) = {
    val s = success.getAndSet(0)
    val e = error.getAndSet(0)
    onReport(s, e)
    (s, e)
  }
}
