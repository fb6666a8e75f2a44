package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** One timed interval. Times are nanoseconds since the run's clock origin.
  * `parent` is the id of the span that caused this one (0 = none); `req`
  * groups the spans of one request (0 = not part of a request). Listener
  * spans (Spark jobs, SQL executions, stream batches) are recorded without
  * a parent; run.py attaches them to the enclosing request by time. */
final case class Span(id: Long, name: String, start: Long, end: Long,
                      parent: Long, req: Long)

/** In-memory span recorder, written out once when the run ends. Disabled,
  * it records nothing and `apply` just runs the body. The recorder times
  * its own bookkeeping so the traced run can report what tracing cost. */
final class Spans(val enabled: Boolean, val clock: Clock) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val ownNanos = new AtomicLong(0L)
  private val current = new ThreadLocal[(Long, Long)] // (span id, req id)
  /** Called with a request's id when the calling thread starts serving it,
    * and with 0 when it is done; Main uses it to tag the thread's Spark
    * jobs with the request, so direct calls need no attribution by time. */
  @volatile var onRequest: Long => Unit = _ => ()

  def newReq(): Long = if (enabled) ids.incrementAndGet() else 0L

  /** Time `body` as a child of the calling thread's open span. */
  def apply[A](name: String, req: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val outer = current.get()
      val parent = if (outer == null) 0L else outer._1
      val r = if (req >= 0) req else if (outer == null) 0L else outer._2
      val id = ids.incrementAndGet()
      current.set((id, r))
      if (outer == null) onRequest(r)
      val start = clock.now()
      ownNanos.addAndGet(System.nanoTime() - t0)
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, name, start, clock.now(), parent, r))
        current.set(outer)
        if (outer == null) onRequest(0L)
        ownNanos.addAndGet(System.nanoTime() - t1)
      }
    }

  /** Record an interval observed elsewhere (a listener event), with the
    * request it was tagged with, if any. */
  def record(name: String, start: Long, end: Long, req: Long): Unit =
    if (enabled) {
      val t0 = System.nanoTime()
      spans.add(Span(ids.incrementAndGet(), name, start, end, 0L, req))
      ownNanos.addAndGet(System.nanoTime() - t0)
    }

  def recorderMillis: Double = ownNanos.get() / 1e6
  def count: Int = spans.size

  def writeTo(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.forEach { s =>
      w.write(Json.write(Seq(s.id, s.name, s.start, s.end, s.parent, s.req)))
      w.write('\n')
    } finally w.close()
  }
}

/** The run's time origin: every recorded instant is nanoseconds since it.
  * Wall-clock epoch millis (Spark listener events) convert through the
  * epoch instant captured with the origin. */
final class Clock {
  private val originNanos = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  def now(): Long = System.nanoTime() - originNanos
  def fromEpochMs(ms: Long): Long = (ms - originEpochMs) * 1000000L
  def ms(nanos: Long): Double = nanos / 1e6
}
