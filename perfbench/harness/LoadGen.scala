package perfbench

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

/** One scheduled request: `kind` names the op type; `due` is when the
  * schedule says it must be sent (clock nanos); `run` performs it and
  * returns None on success or Some(reason) when the response was wrong. */
final case class Op(kind: String, due: Long, run: () => Option[String])

/** One completed request. Latency is `done - due`, so a request that waited
  * behind a stalled one is charged for the wait; `sent - due` is how late
  * the generator itself was. */
final case class Sample(kind: String, due: Long, sent: Long, done: Long, error: Option[String])

/** Open-loop load generator: requests leave on their due times whatever the
  * system is doing, from at most `threads` client threads (each with its own
  * keep-alive connection). */
final class LoadGen(clock: Clock, spans: Spans, threads: Int) {
  require(threads >= 1 && threads <= 4, "1 to 4 client threads")

  def run(ops: IndexedSeq[Op]): Seq[Sample] = {
    val sorted = ops.sortBy(_.due)
    val next = new AtomicInteger(0)
    val out = new ConcurrentLinkedQueue[Sample]()
    val workers = (1 to threads).map { i =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < sorted.length) {
          val op = sorted(i)
          val wait = op.due - clock.now()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          val sent = clock.now()
          val err =
            try spans(s"client.${op.kind}", spans.newReq())(op.run())
            catch { case e: Exception => Some(s"${op.kind}: $e") }
          out.add(Sample(op.kind, op.due, sent, clock.now(), err))
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$i")
      t.start(); t
    }
    workers.foreach(_.join())
    out.toArray(Array.empty[Sample]).toSeq.sortBy(_.due)
  }
}

object LoadGen {
  /** `n` due times at `ratePerSec` starting at `from`: one per period, each
    * placed uniformly at random inside its period. The rate holds exactly
    * over any window; the seed moves every request within its slot. */
  def slots(rng: java.util.Random, from: Long, ratePerSec: Double, n: Int): IndexedSeq[Long] = {
    val period = 1e9 / ratePerSec
    (0 until n).map(i => from + ((i + rng.nextDouble()) * period).toLong)
  }
}

/** Blocking HTTP/1.1 calls on the JDK client (per-thread keep-alive). */
object Http {
  def call(method: String, url: String, body: Option[String],
           bearer: Option[String]): (Int, String) = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(10000)
    c.setReadTimeout(60000)
    bearer.foreach(t => c.setRequestProperty("Authorization", s"Bearer $t"))
    body.foreach { b =>
      c.setDoOutput(true)
      val bytes = b.getBytes(UTF_8)
      c.setFixedLengthStreamingMode(bytes.length)
      c.getOutputStream.write(bytes)
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val text = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (code, text)
  }
}
