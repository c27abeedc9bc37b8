package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._

object Pct {
  /** Nearest-rank percentile `q` (0 < q < 1) of `xs`. A percentile above the
    * median is reported only when at least 10 samples lie beyond it; the
    * median needs one sample.
    */
  def apply(xs: Seq[Double], q: Double): Option[Double] = {
    if (xs.isEmpty) return None
    val s = xs.sorted
    val idx = math.max(0, math.ceil(q * s.length).toInt - 1)
    val beyond = s.length - 1 - idx
    if (q > 0.5 && beyond < 10) None else Some(s(idx))
  }

  def median(xs: Seq[Double]): Double = apply(xs, 0.5).getOrElse(0.0)
}

/** One request of an open loop: due, sent and start/end times in ns. */
final case class Sample(i: Long, dueNs: Long, sentNs: Long, startNs: Long, endNs: Long, ok: Boolean) {
  /** Latency as the user sees it: from when the request was due. */
  def latencyMs: Double = (endNs - dueNs) / 1e6
  def queueWaitMs: Double = (startNs - dueNs) / 1e6
  def lateMs: Double = (sentNs - dueNs) / 1e6
}

final case class OpenResult(samples: Seq[Sample], unfinished: Long) {
  def sent: Long = samples.size + unfinished
  def failed: Long = samples.count(!_.ok) + unfinished
  def latenciesMs: Seq[Double] = samples.map(_.latencyMs)
  def lateMaxMs: Double = if (samples.isEmpty) 0.0 else samples.map(_.lateMs).max
}

final case class ClosedResult(done: Long, failed: Long, seconds: Double) {
  def perSecond: Double = done / seconds
}

object Loops {
  /** Closed loop: each of `clients` threads sends its next request only when
    * the previous one returned, until `seconds` have passed.
    */
  def closed(clients: Int, seconds: Double)(op: (Int, Long) => Boolean): ClosedResult = {
    val done = new AtomicLong
    val failed = new AtomicLong
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var n = 0L
        while (System.nanoTime() < end) {
          val ok = try op(c, n) catch { case scala.util.control.NonFatal(_) => false }
          done.incrementAndGet()
          if (!ok) failed.incrementAndGet()
          n += 1
        }
      }, s"perfbench-closed-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    ClosedResult(done.get, failed.get, (System.nanoTime() - t0) / 1e9)
  }

  /** Open loop: request `i` is due at start + i / rate, whatever the state
    * of earlier requests; `workers` threads serve the queue. Latency is
    * timed from the due time, so a stall delays every request queued behind
    * it, and the generator's own lateness is recorded. `beforeSend` runs on
    * the generator thread just before request `i` is handed over.
    */
  def open(rate: Double, seconds: Double, workers: Int, drainSeconds: Double = 30.0,
      beforeSend: Long => Unit = _ => ())(op: Long => Boolean): OpenResult = {
    val pool = Executors.newFixedThreadPool(workers)
    val out = new ConcurrentLinkedQueue[Sample]()
    val t0 = System.nanoTime() + 1000000L
    val n = math.max(1L, (rate * seconds).toLong)
    var i = 0L
    while (i < n) {
      val due = t0 + (i * 1e9 / rate).toLong
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      beforeSend(i)
      val sent = System.nanoTime()
      val id = i
      pool.execute(() => {
        val s = System.nanoTime()
        try {
          val ok = try op(id) catch { case scala.util.control.NonFatal(_) => false }
          out.add(Sample(id, due, sent, s, System.nanoTime(), ok))
        } catch { case _: InterruptedException => () } // cut off at drain: unfinished
      })
      i += 1
    }
    pool.shutdown()
    if (!pool.awaitTermination((drainSeconds * 1e3).toLong, TimeUnit.MILLISECONDS)) {
      pool.shutdownNow()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
    val got = out.asScala.toSeq.sortBy(_.i)
    OpenResult(got, n - got.size)
  }

  /** Open-loop schedule for the caller's own thread: runs `op(i)` at
    * start + i * intervalS for as long as `seconds` allows, returning each
    * step's due time. Steps that overrun push later ones back.
    */
  def schedule(intervalS: Double, seconds: Double)(op: (Long, Long) => Unit): Long = {
    val t0 = System.nanoTime()
    val n = math.max(1L, (seconds / intervalS).toLong)
    var i = 0L
    while (i < n) {
      val due = t0 + (i * intervalS * 1e9).toLong
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      op(i, due)
      i += 1
    }
    n
  }

  /** A flag plus a time window, for "did this request overlap X". */
  final class Window {
    private val active = new AtomicBoolean(false)
    def on[T](f: => T): T = { active.set(true); try f finally active.set(false) }
    def isOn: Boolean = active.get
  }
}
