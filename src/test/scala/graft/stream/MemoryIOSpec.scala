package graft.stream

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.SparkSpec

/** `MemoryIO` pushes from several threads into one topic: every pushed
  * value reaches the sink exactly once, and nothing else does. */
class MemoryIOSpec extends SparkSpec {

  test("3 threads x 1,000 concurrent pushes each reach the sink exactly once") {
    val io = new MemoryIO(spark)
    val (threads, perThread) = (3, 1000)
    val query = io.sink("memio-out", io.source("memio-in").select("key", "value"),
      s"memio_concurrent_${System.nanoTime()}", s"memio-concurrent-${System.nanoTime()}")
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val go = new CountDownLatch(1)
      val done = (0 until threads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            go.await()
            (0 until perThread).foreach(i => io.publish("memio-in", s"k$t", s"v$t-$i"))
          }
        })
      }
      go.countDown()
      done.foreach(_.get(120, TimeUnit.SECONDS))
      query.processAllAvailable()
      val values = io.collected("memio-out").map(r => Option(r.getString(1)))
      val expected = for (t <- 0 until threads; i <- 0 until perThread) yield s"v$t-$i"
      assert(!values.contains(None), "a null value reached the sink")
      val got = values.flatten
      val dupes = got.size - got.distinct.size
      assert(dupes == 0, s"$dupes values delivered more than once")
      assert(got.size == expected.size && got.toSet == expected.toSet,
        s"${expected.toSet.diff(got.toSet).size} values missing, " +
          s"${got.toSet.diff(expected.toSet).size} values never pushed")
    } finally {
      pool.shutdownNow()
      query.stop()
    }
  }
}
