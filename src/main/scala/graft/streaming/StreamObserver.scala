package graft.streaming

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.streaming.StreamingQueryListener

/** State-store telemetry tap for the driver-surface streaming queries:
  * every [[EventStream]] stream session registers this listener, and
  * the benchmark's traced `event_stream` runs (`perfbench`'s
  * `QueryWorkload.traceBegin`/`traceEnd`) arm it around a request to
  * capture the PEAK state-store footprint — total rows and bytes summed
  * across the query's state operators, maxed over micro-batches — as
  * `streaming.state_rows_peak`/`state_bytes_peak`. Wall-time alone under-reports
  * streaming scale risk: a stream whose seconds grow sublinearly can
  * still be accumulating state superlinearly, and state size is what
  * evicts/ooms a 1000-executor job long before wall time does.
  *
  * Disarmed (the default) it only bumps the delivery counter — the
  * per-event cost for production callers is two atomic reads.
  * Listener delivery is async; [[deliveries]] lets a caller poll for
  * quiescence before reading the peaks (the `CcJobCountSpec`
  * stable-counter pattern — `listenerBus.waitUntilEmpty` is
  * `private[spark]`). */
object StreamObserver extends StreamingQueryListener {
  private val armed = new AtomicBoolean(false)
  private val peakRows = new AtomicLong(0L)
  private val peakBytes = new AtomicLong(0L)
  private val events = new AtomicLong(0L)

  /** Arm and zero the peaks (NOT thread-safe against concurrent
    * streaming runs — the benchmark runs streams serially). */
  def arm(): Unit = { peakRows.set(0L); peakBytes.set(0L); armed.set(true) }

  /** Disarm and return (peak state rows, peak state bytes). */
  def disarm(): (Long, Long) = {
    armed.set(false)
    (peakRows.get(), peakBytes.get())
  }

  /** Monotone delivery counter for quiescence polling. */
  def deliveries: Long = events.get()

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit =
    events.incrementAndGet()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    if (armed.get()) {
      val ops = e.progress.stateOperators
      if (ops != null && ops.nonEmpty) {
        val rows = ops.map(_.numRowsTotal).sum
        val bytes = ops.map(_.memoryUsedBytes).sum
        peakRows.getAndUpdate(m => math.max(m, rows))
        peakBytes.getAndUpdate(m => math.max(m, bytes))
      }
    }
    events.incrementAndGet()
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    events.incrementAndGet()
}
