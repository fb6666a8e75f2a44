package graft.stream

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import graft.SparkSpec
import graft.registry.FunctionRegistry
import graft.store.DocumentStore

/** T20: alerts are future-valid-time puts; the scheduler fires them when
  * their valid-time arrives, exactly once, then deletes
  * (`/root/reference/src/dataworks/utils/alert.clj:9-51`). */
class AlertsSpec extends SparkSpec {

  private def freshStore() =
    DocumentStore(spark, Files.createTempDirectory("alerts").toString + "/db")

  test("future alert fires only when due, invokes handler, then deletes") {
    val store = freshStore()
    val reg = new FunctionRegistry
    val calls = new ConcurrentLinkedQueue[String]()
    reg.registerTransactor("sendText", args => { calls.add(args.mkString(",")); () })

    // margin wide enough that put()+tick() finish before due even under
    // load (500 ms flaked), yet short enough to sleep past: the claim CAS
    // runs at wall-clock valid time, so firing requires due to REALLY pass
    val due = new Timestamp(System.currentTimeMillis() + 6000)
    store.put("demo/alert",
      """{"appName":"demo","alertHandler":"sendText","alertParams":["hello"]}""",
      Some(due))

    val sched = new AlertScheduler(store, reg, pollMillis = 100)
    sched.tick() // before due: invisible, nothing fires
    assert(calls.isEmpty && store.entity("demo/alert", due).isDefined)

    Thread.sleep(math.max(0L, due.getTime + 50 - System.currentTimeMillis()))
    sched.tick(new Timestamp(due.getTime + 1)) // due now
    // transact! is async — wait briefly
    val deadline = System.currentTimeMillis() + 5000
    while (calls.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(calls.toArray.toSeq == Seq("\"hello\""))
    // deleted after firing — a later tick must not re-fire
    sched.tick(new Timestamp(due.getTime + 1000))
    Thread.sleep(200)
    assert(calls.size == 1, "alert must fire exactly once")
    // the delete tombstone's valid-from is the wall clock at delete time —
    // probe a comfortably later instant
    assert(store.entity("demo/alert",
      new Timestamp(System.currentTimeMillis() + 60000)).isEmpty)
  }

  test("stale claim from a dead instance is re-claimed and fired; fresh claim is not") {
    val store = freshStore()
    val reg = new FunctionRegistry
    val calls = new ConcurrentLinkedQueue[String]()
    reg.registerTransactor("recover", args => { calls.add(args.mkString(",")); () })
    val past = new Timestamp(System.currentTimeMillis() - 1000)
    // a claim written long ago by an instance that died before deleting
    val staleAt = System.currentTimeMillis() - 600000
    store.put("stale/alert",
      s"""{"appName":"x","alertHandler":"recover","alertParams":["a"],"alertClaim":"dead-instance","alertClaimAt":$staleAt}""",
      Some(past))
    // a claim written moments ago by a live instance mid-fire
    val freshAt = System.currentTimeMillis()
    store.put("fresh/alert",
      s"""{"appName":"x","alertHandler":"recover","alertParams":["b"],"alertClaim":"live-instance","alertClaimAt":$freshAt}""",
      Some(past))
    val sched = new AlertScheduler(store, reg, claimTtlMillis = 60000)
    sched.tick()
    val deadline = System.currentTimeMillis() + 5000
    while (calls.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(calls.toArray.toSeq == Seq("\"a\""),
      s"stale claim re-fired, fresh claim skipped: ${calls.toArray.toSeq}")
    // the stale alert is cleaned up; the fresh one stays for its owner
    assert(store.entity("stale/alert",
      new Timestamp(System.currentTimeMillis() + 60000)).isEmpty)
    assert(store.entity("fresh/alert",
      new Timestamp(System.currentTimeMillis() + 60000)).isDefined)
  }

  test("a transient store failure never kills the poll loop") {
    val store = freshStore()
    store.put("x/alert", """{"alertHandler":"h"}""")
    val sched = new AlertScheduler(store, new FunctionRegistry)
    // corrupt the transaction file, so the poll's scan fails reading it
    val root = new org.apache.hadoop.fs.Path(store.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(root, true)
    val parts = Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.startsWith("part-")).toList
    assert(parts.size == 1, s"one transaction file: $parts")
    val out = fs.create(parts.head, true)
    try out.write("not parquet".getBytes("UTF-8")) finally out.close()
    assert(sched.skipped == 0)
    sched.tick() // must not throw — scheduleWithFixedDelay would never run again
    assert(sched.skipped == 1, "the failed poll is counted as skipped")
  }

  test("two scheduler instances: CAS claim lets only one fire") {
    val store = freshStore()
    val reg = new FunctionRegistry
    val calls = new ConcurrentLinkedQueue[String]()
    reg.registerTransactor("ping", args => { calls.add("x"); () })
    store.put("app/alert", """{"alertHandler":"ping","alertParams":[]}""",
      Some(new Timestamp(System.currentTimeMillis() - 1000)))
    val s1 = new AlertScheduler(store, reg, claimId = "node-1")
    val s2 = new AlertScheduler(store, reg, claimId = "node-2")
    // both poll the same due alert — the serialized CAS admits exactly one
    val t1 = new Thread(() => s1.tick())
    val t2 = new Thread(() => s2.tick())
    t1.start(); t2.start(); t1.join(); t2.join()
    val deadline = System.currentTimeMillis() + 5000
    while (calls.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    Thread.sleep(300) // allow a hypothetical double-fire to land
    assert(calls.size == 1, s"exactly one scheduler must win, got ${calls.size}")
  }

  test("maintenance tick: scheduled transactor runs the compaction policy, reschedules itself") {
    // the operational shape compactIfFragmented is designed for, built
    // purely by composition: a transactor runs the policy AND schedules
    // the next tick as another future-valid alert — a self-perpetuating
    // maintenance loop with no engine support beyond T20 + the policy
    val store = freshStore()
    val reg = new FunctionRegistry
    val ran = new ConcurrentLinkedQueue[Boolean]()
    def schedule(atMs: Long): Unit =
      store.put("maint/compact-tick/alert",
        """{"appName":"maint","alertHandler":"compactStore","alertParams":[]}""",
        Some(new Timestamp(atMs)))
    reg.registerTransactor("compactStore", _ => {
      ran.add(store.compactIfFragmented(maxFilesPerPartition = 4))
      schedule(System.currentTimeMillis() + 3600000) // next tick in an hour
    })
    (1 to 8).foreach(i => store.put(s"m$i", s"""{"v":$i}"""))
    assert(store.fragmentation().values.sum >= 8)

    schedule(System.currentTimeMillis() - 1) // due immediately
    val sched = new AlertScheduler(store, reg, pollMillis = 100)
    sched.tick()
    val deadline = System.currentTimeMillis() + 10000
    while (ran.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(ran.toArray.toSeq == Seq(true), "the due tick must compact the fragmented log")
    // the scheduler's own claim/delete appends and the reschedule put may
    // land after the compact — a few post-compact files are expected; the
    // 8-file fragmentation must be gone
    assert(store.fragmentation().values.forall(_ <= 4),
      s"post-tick layout must be coalesced: ${store.fragmentation()}")
    assert(store.db().filter("id like 'm%'").count() == 8, "data intact")
    // the loop re-armed itself: the next tick is scheduled in the future
    // (invisible now, visible at its due time) and does not fire early
    val inAnHour = new Timestamp(System.currentTimeMillis() + 3600000 + 60000)
    assert(store.entity("maint/compact-tick/alert").isEmpty ||
      store.entity("maint/compact-tick/alert", inAnHour).isDefined,
      "rescheduled tick must exist at its future valid time")
    sched.tick()
    Thread.sleep(300)
    assert(ran.size == 1, "the rescheduled tick must not fire before it is due")
  }
}
