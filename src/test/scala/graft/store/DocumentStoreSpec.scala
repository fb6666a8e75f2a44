package graft.store

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Bitemporal invariants per the reference's Crux usage:
  * put/entity (`app_db.clj:95-113`), future-valid-time visibility
  * (`demo-app-1.org:125-127`, `alert.clj:9-31`), match/cas (`auth.clj:139-146`),
  * delete (`alert.clj:31`), bitemporal reads (`app_db.clj:33-43`). */
class DocumentStoreSpec extends SparkSpec {

  private def freshStore() =
    DocumentStore(spark, Files.createTempDirectory("docstore").toString + "/db")

  test("put then entity returns latest doc; update wins") {
    val s = freshStore()
    s.put("user/alice", """{"name":"alice","role":"dev"}""")
    assert(s.entity("user/alice").contains("""{"name":"alice","role":"dev"}"""))
    s.put("user/alice", """{"name":"alice","role":"admin"}""")
    assert(s.entity("user/alice").contains("""{"name":"alice","role":"admin"}"""))
  }

  test("read-your-writes: same-millisecond puts are immediately visible") {
    val store = freshStore()
    // rapid-fire puts collide on the millisecond, so the tx clock runs
    // ahead of wall-clock (+1 ms per collision); entity() must still see
    // the LAST committed write, and cas against it must succeed
    (1 to 5).foreach(i => store.put("ryw/doc", s"""{"v":$i}"""))
    assert(store.entity("ryw/doc").contains("""{"v":5}"""),
      "the freshest committed write must be visible at read time")
    assert(store.cas("ryw/doc", """{"v":5}""", """{"v":6}"""),
      "cas must compare against the freshest committed value")
    assert(store.entity("ryw/doc").contains("""{"v":6}"""))
  }

  test("missing entity is None") {
    val s = freshStore()
    s.put("a", "{}")
    assert(s.entity("nope").isEmpty)
  }

  test("future valid-time put is invisible until due (alert-scheduler contract)") {
    val s = freshStore()
    val future = new Timestamp(System.currentTimeMillis() + 3600 * 1000L)
    s.put("app/alert", """{"handler":"sendText"}""", Some(future))
    assert(s.entity("app/alert").isEmpty, "future doc must be hidden now")
    assert(s.entity("app/alert", new Timestamp(future.getTime + 1000))
      .contains("""{"handler":"sendText"}"""), "visible once valid-time arrives")
    assert(s.asOf(s.now()).filter("id = 'app/alert'").count() === 0)
    assert(s.asOf(new Timestamp(future.getTime + 1000))
      .filter("id = 'app/alert'").count() === 1)
  }

  test("delete tombstones the doc") {
    val s = freshStore()
    s.put("k", """{"v":1}""")
    s.delete("k")
    assert(s.entity("k").isEmpty)
    assert(s.db().filter("id = 'k'").count() === 0)
  }

  test("matchPut commits only when current matches expected") {
    val s = freshStore()
    // create-if-absent (reference's create path matches on nil)
    assert(s.matchPut("fn/t1", None, """{"v":1}"""))
    // stale expectation aborts
    assert(!s.matchPut("fn/t1", Some("""{"v":0}"""), """{"v":2}"""))
    assert(s.entity("fn/t1").contains("""{"v":1}"""))
    // correct expectation commits
    assert(s.matchPut("fn/t1", Some("""{"v":1}"""), """{"v":2}"""))
    assert(s.entity("fn/t1").contains("""{"v":2}"""))
  }

  test("cas swaps only from the expected payload") {
    val s = freshStore()
    s.put("user/bob", """{"role":"dev"}""")
    assert(s.cas("user/bob", """{"role":"dev"}""", """{"role":"admin"}"""))
    assert(!s.cas("user/bob", """{"role":"dev"}""", """{"role":"root"}"""))
    assert(s.entity("user/bob").contains("""{"role":"admin"}"""))
  }

  test("bitemporal: tx-time cut sees the past state (time travel)") {
    val s = freshStore()
    val tx1 = s.put("doc", """{"v":1}""")
    val tx2 = s.put("doc", """{"v":2}""")
    val nowTs = s.now()
    // as of (now, tx1): only v1 had been transacted
    val at1 = s.asOf(nowTs, tx1).filter("id = 'doc'").select("doc").collect()
    assert(at1.map(_.getString(0)).toSeq == Seq("""{"v":1}"""))
    val at2 = s.asOf(nowTs, tx2).filter("id = 'doc'").select("doc").collect()
    assert(at2.map(_.getString(0)).toSeq == Seq("""{"v":2}"""))
  }

  test("entity-history: one entity's full version chain, tombstones included") {
    val s = freshStore()
    s.put("hist/doc", """{"v":1}""")
    s.put("hist/doc", """{"v":2}""")
    s.delete("hist/doc")
    s.put("hist/doc", """{"v":3}""")
    s.put("hist/other", """{"x":1}""") // must never appear in hist/doc's chain
    val chain = s.history("hist/doc").collect()
    assert(chain.length == 4, s"4 versions incl. tombstone: ${chain.toSeq}")
    assert(chain.forall(_.getString(0) == "hist/doc"), "only the asked entity")
    // newest first: v3, tombstone, v2, v1
    assert(chain.map(r => Option(r.getString(4))).toSeq ==
      Seq(Some("""{"v":3}"""), None, Some("""{"v":2}"""), Some("""{"v":1}""")))
    assert(chain.map(_.getBoolean(3)).toSeq == Seq(false, true, false, false),
      "the delete appears as a tombstone version, not a gap")
    // valid/tx times are non-increasing newest-first
    val ts = chain.map(_.getTimestamp(1).getTime).toSeq
    assert(ts == ts.sorted.reverse, s"newest-first chain: $ts")
    // ascending form is the exact reverse
    val asc = s.history("hist/doc", asc = true).collect()
    assert(asc.map(_.toString).toSeq == chain.reverse.map(_.toString).toSeq)
    // unknown entity → empty chain, not an error
    assert(s.history("hist/nope").isEmpty)
  }

  test("latest-submitted-tx and sync (crux node metadata surface)") {
    val s = freshStore()
    // a fresh store has accepted nothing
    assert(s.latestSubmittedTx.isEmpty)
    // sync on an empty node returns immediately (writes are synchronous;
    // the reference calls (crux/sync db 3s) once at startup)
    assert(s.sync(3000L).isEmpty)
    val t1 = s.put("meta/a", """{"v":1}""")
    assert(s.latestSubmittedTx.contains(t1))
    assert(s.sync(3000L).contains(t1))
    val t2 = s.delete("meta/a")
    // monotone: the newest accepted tx, whatever its kind
    assert(t2.after(t1) && s.latestSubmittedTx.contains(t2))
    // survives close/reopen — reseeded from the max committed tx-time
    val path = Files.createTempDirectory("docstore").toString + "/db"
    val w = DocumentStore(spark, path)
    val t3 = w.put("meta/b", """{"v":2}""")
    w.close()
    val r = DocumentStore(spark, path)
    try assert(r.latestSubmittedTx.contains(t3) && r.sync().contains(t3))
    finally r.close()
    s.close()
  }

  test("maintenance daemon compacts a fragmented store and stops on close") {
    val s = freshStore()
    try {
      // every put appends one file into today's valid_date partition
      (1 to 12).foreach(i => s.put(s"m/$i", s"""{"v":$i}"""))
      assert(s.fragmentation().values.max > 4)
      val h = s.startMaintenance(intervalMs = 100L, maxFilesPerPartition = 4)
      // a second start is a no-op returning the live handle
      assert(s.startMaintenance(intervalMs = 100L).eq(h))
      val deadline = System.currentTimeMillis() + 30000
      while (s.fragmentation().values.max > 4 &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(s.fragmentation().values.max <= 4,
        s"daemon never compacted: ${s.fragmentation()}")
      // reads and writes unaffected; the compacted face answers the same
      assert(s.entity("m/12").contains("""{"v":12}"""))
      h.close()
      // a fresh daemon can start after the old handle closes…
      val h2 = s.startMaintenance(intervalMs = 100L)
      assert(!h2.eq(h))
      // …and store close stops it (the daemon's next tick sees the closed
      // store and exits rather than throwing forever)
      s.close()
      h2.close() // idempotent double-stop is fine
    } finally s.close()
  }

  test("maintenance daemon under live traffic: no lost writes, no reader crashes") {
    // the daemon makes compaction ROUTINE instead of an off-peak ritual —
    // writes must serialize with the rewrite (same store lock) and a
    // concurrent read keeps the generation it listed, which the next
    // compaction leaves in place: never a task-killing throw
    val s = freshStore()
    val h = s.startMaintenance(intervalMs = 50L, maxFilesPerPartition = 2)
    val readerErrors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stopReads = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stopReads.get()) {
        try s.entity("live/1")
        catch { case t: Throwable => readerErrors.add(t) }
      }
    }, "drill-reader")
    reader.start()
    try {
      (1 to 30).foreach { i =>
        s.put(s"live/$i", s"""{"v":$i}""")
        Thread.sleep(10) // let the 50 ms daemon interleave real compactions
      }
    } finally {
      stopReads.set(true); reader.join(10000); h.close()
    }
    assert(readerErrors.isEmpty,
      s"reader crashed during compaction swap: ${readerErrors.peek()}")
    // every write survived however many compactions ran underneath
    (1 to 30).foreach(i =>
      assert(s.entity(s"live/$i").contains(s"""{"v":$i}"""),
        s"live/$i lost across compaction"))
    s.close()
  }

  test("entity-tx: bitemporal coordinates of the visible version (crux entity-tx)") {
    val s = freshStore()
    assert(s.entityTx("tx/doc").isEmpty)
    val t1 = s.put("tx/doc", """{"v":1}""")
    assert(s.entityTx("tx/doc").exists(_._2 == t1))
    val t2 = s.put("tx/doc", """{"v":2}""")
    // the current cut answers with the NEWEST version's coordinates
    assert(s.entityTx("tx/doc").exists(_._2 == t2))
    // … and an as-of valid-time cut answers with the version visible THEN,
    // in lockstep with entity(): a future-valid put is not yet the answer
    val future = new Timestamp(s.now().getTime + 3600L * 1000)
    s.put("tx/doc", """{"v":3}""", validFrom = Some(future))
    assert(s.entityTx("tx/doc").exists(_._2 == t2))
    assert(s.entityTx("tx/doc", future).exists(_._1 == future))
    // tombstoned → None, exactly when entity() is None
    s.delete("tx/doc")
    assert(s.entityTx("tx/doc").isEmpty && s.entity("tx/doc").isEmpty)
    s.close()
  }

  test("await-tx / tx-committed") {
    val s = freshStore()
    val tx = s.put("x", "{}")
    assert(s.awaitTx(tx) && s.txCommitted(tx))
  }

  test("single-driver lock: second instance fails loudly; close + stale reclaim recover") {
    val path = Files.createTempDirectory("docstore-lock").toString + "/db"
    val s1 = DocumentStore(spark, path)
    s1.put("d1", "{}")
    // a second store on the SAME path must fail fast, naming the holder —
    // a second tx clock would silently corrupt match/cas serialization
    val err = intercept[IllegalStateException] { DocumentStore(spark, path) }
    assert(err.getMessage.contains(path) && err.getMessage.contains("close()"),
      s"error must name the path and the way out: ${err.getMessage}")
    // clean close releases the lock; a successor opens and reads the data
    s1.close()
    val s2 = DocumentStore(spark, path)
    try {
      assert(s2.entity("d1").nonEmpty, "successor store reads the predecessor's data")
      s2.close()
      s2.close() // idempotent
    } finally s2.close()
    // crash simulation: a lock file left by a DEAD pid on this host is
    // stale — reclaimed automatically on the next open
    val lockFile = java.nio.file.Paths.get(path + ".lock")
    java.nio.file.Files.write(lockFile,
      s"""{"pid":2147483646,"host":"${java.net.InetAddress.getLocalHost.getHostName}","token":"gone","since":"2026-01-01T00:00:00Z"}"""
        .getBytes("UTF-8"))
    val s3 = DocumentStore(spark, path) // must not throw
    try assert(s3.entity("d1").nonEmpty, "post-crash reopen serves the data")
    finally s3.close()
    // a FRESH empty lock file could be another driver mid-create (a GC
    // pause can outlast the grace re-read) — it must DEFER, not reclaim
    java.nio.file.Files.write(lockFile, Array.emptyByteArray)
    intercept[IllegalStateException] { DocumentStore(spark, path) }
    // an AGED empty lock file (crash between create and write — no healthy
    // writer takes seconds to write 100 bytes) is a reclaimable artifact
    java.nio.file.Files.setLastModifiedTime(lockFile,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 15000))
    val s4 = DocumentStore(spark, path) // must not throw
    try assert(s4.entity("d1").nonEmpty) finally s4.close()
    // a FOREIGN-host lock is never presumed stale: fail, tell the operator
    java.nio.file.Files.write(lockFile,
      """{"pid":1,"host":"some-other-driver-host","token":"x","since":"2026-01-01T00:00:00Z"}"""
        .getBytes("UTF-8"))
    val foreign = intercept[IllegalStateException] { DocumentStore(spark, path) }
    assert(foreign.getMessage.contains("some-other-driver-host"))
    java.nio.file.Files.delete(lockFile)
  }

  test("reclaim does not steal a fresh lock recreated between observe and rename (ADVICE r10)") {
    val path = Files.createTempDirectory("docstore-race").toString + "/db"
    val s0 = DocumentStore(spark, path); s0.put("d1", "{}"); s0.close()
    val lockFile = java.nio.file.Paths.get(path + ".lock")
    val host = java.net.InetAddress.getLocalHost.getHostName
    // stale lock from a dead pid — reclaimer C will observe this
    java.nio.file.Files.write(lockFile,
      s"""{"pid":2147483646,"host":"$host","token":"gone","since":"2026-01-01T00:00:00Z"}"""
        .getBytes("UTF-8"))
    // winner B's fresh lock: OUR live pid — if C honors it, C must fail loudly
    val fresh =
      s"""{"pid":${ProcessHandle.current.pid},"host":"$host","token":"winner-b","since":"2026-02-02T00:00:00Z"}"""
    @volatile var fired = false
    DocumentStore.reclaimInterleaveHook = () => if (!fired) {
      fired = true
      // simulate winner B completing its whole reclaim inside C's window:
      // stale lock gone, fresh lock in place
      java.nio.file.Files.write(lockFile, fresh.getBytes("UTF-8"))
    }
    try {
      val err = intercept[IllegalStateException] { DocumentStore(spark, path) }
      assert(err.getMessage.contains("locked by another driver"),
        s"C must defer to B's fresh lock, got: ${err.getMessage}")
      assert(fired, "interleave hook must have run")
      val onDisk = new String(java.nio.file.Files.readAllBytes(lockFile), "UTF-8")
      assert(onDisk == fresh,
        s"B's fresh lock must survive C's reclaim attempt intact, got: $onDisk")
      // no stray aside or mutex files left behind
      val dir = lockFile.getParent
      val strays = java.nio.file.Files.list(dir).toArray.map(_.toString)
        .filter(s => s.contains(".stale.") || s.endsWith(".reclaim"))
      assert(strays.isEmpty, s"aside/mutex files must not leak: ${strays.mkString(",")}")
    } finally {
      DocumentStore.reclaimInterleaveHook = () => ()
      java.nio.file.Files.deleteIfExists(lockFile)
    }
  }

  test("a stale reclaim mutex from a crashed reclaimer does not wedge recovery") {
    // crash DURING reclaim leaves lock.reclaim on disk; the dead-pid rule
    // must clear it so the next opener still recovers the stale lock
    val path = Files.createTempDirectory("docstore-mutex").toString + "/db"
    val s0 = DocumentStore(spark, path); s0.put("d1", "{}"); s0.close()
    val lockFile = java.nio.file.Paths.get(path + ".lock")
    val mutexFile = java.nio.file.Paths.get(path + ".lock.reclaim")
    val host = java.net.InetAddress.getLocalHost.getHostName
    val stale =
      s"""{"pid":2147483646,"host":"$host","token":"gone","since":"2026-01-01T00:00:00Z"}"""
    java.nio.file.Files.write(lockFile, stale.getBytes("UTF-8"))
    java.nio.file.Files.write(mutexFile, stale.getBytes("UTF-8"))
    val s1 = DocumentStore(spark, path) // must reclaim BOTH stale files
    try {
      assert(s1.entity("d1").isDefined)
      assert(!java.nio.file.Files.exists(mutexFile), "stale mutex must be cleared")
    } finally s1.close()
    // a mutex held by a LIVE reclaimer (our own pid) defers instead
    java.nio.file.Files.write(lockFile, stale.getBytes("UTF-8"))
    java.nio.file.Files.write(mutexFile,
      s"""{"pid":${ProcessHandle.current.pid},"host":"$host","token":"live","since":"2026-01-01T00:00:00Z"}"""
        .getBytes("UTF-8"))
    try {
      val err = intercept[IllegalStateException] { DocumentStore(spark, path) }
      assert(err.getMessage.contains("locked by another driver"),
        s"must defer while a live reclaimer holds the mutex: ${err.getMessage}")
      assert(java.nio.file.Files.exists(mutexFile), "live mutex must be left alone")
    } finally {
      java.nio.file.Files.deleteIfExists(mutexFile)
      java.nio.file.Files.deleteIfExists(lockFile)
    }
  }

  test("withTx: speculative snapshot without committing (crux 1.16 with-tx)") {
    val path = Files.createTempDirectory("docstore-spec").toString + "/db"
    val store = DocumentStore(spark, path)
    try {
      import graft.store.TxOp
      store.put("a", """{"v":1}""")
      store.put("b", """{"v":2}""")
      val ops = Seq(
        TxOp.Put("a", """{"v":9}"""),  // overwrite committed
        TxOp.Delete("b"),              // hide committed
        TxOp.Put("c", """{"v":3}""")) // new entity
      assert(store.withTxEntity(ops, "a").contains("""{"v":9}"""))
      assert(store.withTxEntity(ops, "b").isEmpty)
      assert(store.withTxEntity(ops, "c").contains("""{"v":3}"""))
      assert(store.withTx(ops).get.count() == 2) // a + c visible
      // the store is UNTOUCHED — nothing committed, clock not advanced
      assert(store.entity("a").contains("""{"v":1}"""))
      assert(store.entity("b").contains("""{"v":2}"""))
      assert(store.entity("c").isEmpty)
      assert(store.versions().count() == 2)
      // crux in-order apply: the LAST op on an id wins
      assert(store.withTxEntity(Seq(
        TxOp.Put("d", """{"v":1}"""), TxOp.Put("d", """{"v":2}""")), "d")
        .contains("""{"v":2}"""))
      assert(store.withTxEntity(Seq(
        TxOp.Put("a", """{"x":1}"""), TxOp.Delete("a")), "a").isEmpty,
        "a later speculative delete hides the earlier speculative put")
      assert(store.withTxEntity(Seq(
        TxOp.Delete("a"), TxOp.Put("a", """{"x":1}""")), "a")
        .contains("""{"x":1}"""), "a later speculative put revives")
      // a FUTURE-validFrom speculative put is invisible at the default cut
      val future = new java.sql.Timestamp(System.currentTimeMillis() + 3600000L)
      assert(store.withTxEntity(Seq(
        TxOp.Put("e", """{"v":5}""", validFrom = Some(future))), "e").isEmpty,
        "S2 scheduled visibility applies to speculative rows too")
      intercept[IllegalArgumentException](store.withTx(Seq.empty))
      // ::xt/match — a failed match ABORTS the speculative tx (crux nil)
      assert(store.withTx(Seq(
        TxOp.Match("a", Some("""{"v":1}""")), // committed doc: passes
        TxOp.Put("a", """{"v":7}"""))).isDefined)
      assert(store.withTx(Seq(
        TxOp.Match("a", Some("""{"v":999}""")), // wrong expectation
        TxOp.Put("a", """{"v":7}"""))).isEmpty, "failed match → None")
      assert(store.withTx(Seq(TxOp.Match("nope", None))).isDefined,
        "match-absent passes on a missing entity")
      assert(store.withTx(Seq(TxOp.Match("a", None))).isEmpty,
        "match-absent fails on a present entity")
      // match sees EARLIER speculative ops (crux in-order apply): the
      // cas idiom — match committed, put, then match the NEW value
      assert(store.withTx(Seq(
        TxOp.Put("a", """{"v":8}"""),
        TxOp.Match("a", Some("""{"v":8}""")))).isDefined)
      assert(store.withTx(Seq(
        TxOp.Delete("a"),
        TxOp.Match("a", None))).isDefined,
        "a speculative delete makes a later match-absent pass")
      // an all-Match op list that passes returns the committed snapshot
      val snap = store.withTx(Seq(TxOp.Match("a", Some("""{"v":1}""")))).get
      assert(snap.filter(org.apache.spark.sql.functions.col("id") === "a").count() == 1)
      // qWith surfaces the abort as a diagnosed Left
      val schemaQ = new org.apache.spark.sql.types.StructType().add("v", "long")
      assert(store.qWith(Seq(TxOp.Match("a", None)),
        "{:find [?e] :where [[?e :v ?v]]}", schemaQ).isLeft)
      // crux :timeout composes with the speculative view: a generous
      // budget answers (eagerly), an elapsed one is a timeout Left
      val timed = store.qWith(Seq(TxOp.Put("spec/t", """{"v":42}""")),
        "{:find [?e ?v] :where [[?e :v ?v]] :timeout 300000}", schemaQ)
      assert(timed.exists(_.collect().map(_.getLong(1)).toSet.contains(42L)))
      assert(store.qWith(Seq(TxOp.Put("spec/t", """{"v":42}""")),
        "{:find [?e ?v] :where [[?e :v ?v]] :timeout 1}", schemaQ)
        .left.exists(_.contains("timed out")))
    } finally store.close()
  }

  test("withTx honors an as-of-T basis: commits after T stay invisible") {
    val path = Files.createTempDirectory("docstore-wtx-asof").toString + "/db"
    val store = DocumentStore(spark, path)
    try {
      import graft.store.TxOp
      val tx1 = store.put("a", """{"v":1}""")
      Thread.sleep(5)
      val t = store.now() // basis BETWEEN the two commits
      Thread.sleep(5)
      store.put("a", """{"v":2}""") // committed AFTER the basis
      store.put("z", """{"v":9}""") // new entity after the basis
      // crux (with-tx (db node T) ops): the view composes ops onto the
      // as-of-T snapshot — v2 and z must NOT leak in (the pre-fix clamp
      // read at ~now and leaked both)
      val snap = store.withTx(Seq(TxOp.Put("b", """{"v":7}""")), t).get
        .select("id", "doc").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(snap == Map("a" -> """{"v":1}""", "b" -> """{"v":7}"""),
        s"as-of-T speculative view leaked post-T commits: $snap")
      // Match asserts against the SAME as-of-T cut
      assert(store.withTx(Seq(TxOp.Match("a", Some("""{"v":1}"""))), t).isDefined,
        "match must see the as-of-T doc")
      assert(store.withTx(Seq(TxOp.Match("a", Some("""{"v":2}"""))), t).isEmpty,
        "match must NOT see a post-T commit")
      assert(store.withTx(Seq(TxOp.Match("z", None)), t).isDefined,
        "an entity created after T is absent at the T basis")
      // a default-validFrom speculative put rides AT the basis, and the
      // committed store remains untouched
      assert(store.withTxEntity(Seq(TxOp.Put("a", """{"v":5}""")), "a")
        .contains("""{"v":5}"""))
      assert(store.entity("a").contains("""{"v":2}"""))
      assert(tx1.getTime < t.getTime, "sanity: basis strictly after tx1")
    } finally store.close()
  }

  test("attributeStats + qWith: key discovery and Datalog over a speculative db") {
    val path = Files.createTempDirectory("docstore-attrs").toString + "/db"
    val store = DocumentStore(spark, path)
    try {
      import graft.store.TxOp
      store.put("a", """{"x":1,"y":"s"}""")
      store.put("b", """{"x":2}""")
      store.put("c", """{"z":true}""")
      store.delete("c") // tombstoned: its keys must vanish from the stats
      val stats = store.attributeStats().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(stats == Map("x" -> 2L, "y" -> 1L),
        s"crux attribute-stats over CURRENT docs only, got $stats")
      // an explicit JSON null still counts as key presence (crux nil value)
      store.put("d", """{"x":null}""")
      val stats2 = store.attributeStats().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(stats2("x") == 3L)
      // qWith: the same Datalog query sees the speculative put in the
      // with-tx view and not in the committed view
      val schema = new org.apache.spark.sql.types.StructType()
        .add("x", "long").add("y", "string")
      val q = "{:find [?e ?x] :where [[?e :x ?x]]}"
      def ids(r: Either[String, org.apache.spark.sql.DataFrame]): Set[String] =
        r.fold(e => fail(e), _.collect().map(_.getString(0)).toSet)
      assert(ids(store.qWith(Seq(TxOp.Put("e", """{"x":9}""")), q, schema)) ==
        Set("a", "b", "e"))
      assert(ids(store.qWith(Seq(TxOp.Delete("a")), q, schema)) == Set("b"))
      assert(ids(store.q(q, schema)) == Set("a", "b"), "committed view untouched")
    } finally store.close()
  }

  test("evict physically erases every version — delete does not (crux evict, GDPR)") {
    val path = Files.createTempDirectory("docstore-evict").toString + "/db"
    val store = DocumentStore(spark, path)
    try {
      // versions across multiple valid_date partitions + a tombstone
      store.put("user1", """{"name":"ada","email":"a@x"}""")
      store.put("user1", """{"name":"ada","email":"a2@x"}""",
        validFrom = Some(java.sql.Timestamp.valueOf("2020-06-01 00:00:00")))
      store.put("user2", """{"name":"bob"}""")
      // the files under the store holding the payload's bytes
      val payload = "a2@x".getBytes("UTF-8")
      def holding() = Files.walk(java.nio.file.Paths.get(store.path)).iterator().asScala
        .filter(Files.isRegularFile(_))
        .filter(f => Files.readAllBytes(f).sliding(payload.length).exists(_.sameElements(payload)))
        .toList
      // a compaction keeps the previous generation on disk: the evict
      // below must erase it too
      store.compact()
      assert(holding().size >= 2, "both generations hold the payload before the evict")
      store.delete("user1")
      // delete = tombstone: invisible NOW but history and old snapshots remain
      assert(store.entity("user1").isEmpty)
      assert(store.history("user1").count() == 3, "tombstone delete keeps history")
      store.evict("user1")
      assert(holding().isEmpty, s"evicted bytes still on disk in ${holding()}")
      // evict = erasure: NO trace anywhere — history, changes, snapshots
      assert(store.entity("user1").isEmpty)
      assert(store.history("user1").count() == 0, "evict erases the whole chain")
      assert(store.changes().filter("id = 'user1'").count() == 0,
        "the CDC view must not resurrect evicted payloads")
      assert(store.versions().filter("id = 'user1'").count() == 0)
      // bystanders keep their full history
      assert(store.entity("user2").contains("""{"name":"bob"}"""))
      assert(store.history("user2").count() == 1)
      // the id can start a NEW life afterwards (crux semantics)
      store.put("user1", """{"name":"eve"}""")
      assert(store.entity("user1").contains("""{"name":"eve"}"""))
      assert(store.history("user1").count() == 1, "fresh chain, no ghosts")
      // batch form + validation
      store.evict(Seq("user1", "never-existed")) // unknown ids are a no-op
      assert(store.entity("user1").isEmpty)
      intercept[IllegalArgumentException](store.evict(Seq.empty[String]))
      intercept[IllegalArgumentException](store.evict(Seq("")))
    } finally store.close()
  }

  test("transient read-back failure does not wedge the rightful holder (ADVICE r11)") {
    // the exclusive create wins but the verification read transiently
    // returns "" (object-store read lag): the examination path must
    // recognize its OWN descriptor on disk and return as the holder —
    // previously the alive-pid test saw "a live same-host holder"
    // (ourselves) and permanently refused every open from this JVM
    val path = Files.createTempDirectory("docstore-readback").toString + "/db"
    @volatile var failures = 0
    DocumentStore.readBackHook = s => if (failures < 1) { failures += 1; "" } else s
    try {
      val s1 = DocumentStore(spark, path) // must not throw
      try {
        assert(failures == 1, "hook must have failed the first read-back")
        s1.put("d1", "{}")
        assert(s1.entity("d1").isDefined)
      } finally s1.close()
      // lock is properly released: a reopen succeeds without reclaim
      val s2 = DocumentStore(spark, path)
      try assert(s2.entity("d1").isDefined) finally s2.close()
    } finally DocumentStore.readBackHook = identity
  }

  test("tx clock reseeds from the table across close/reopen (review r11)") {
    val path = Files.createTempDirectory("docstore-reseed").toString + "/db"
    val s1 = DocumentStore(spark, path)
    // drive the clock AHEAD of wall-clock via same-ms collision bumps
    val lastTx = (1 to 50).map(_ => s1.put("k", "{}")).last
    s1.close()
    // a reopened instance must continue AFTER the committed max, never
    // at wall-clock below it — otherwise changesSince(lastTx) silently
    // drops the new write and the asOf tie-break prefers the old payload
    val s2 = DocumentStore(spark, path)
    try {
      val tx2 = s2.put("k", "{\"v\":2}")
      assert(tx2.after(lastTx),
        s"reopened clock must resume past the committed max: $tx2 vs $lastTx")
      assert(s2.changesSince(lastTx).count() == 1)
      assert(s2.entity("k").contains("{\"v\":2}"))
    } finally s2.close()
  }

  test("writes on a closed store fail fast (review r11)") {
    val path = Files.createTempDirectory("docstore-closed").toString + "/db"
    val s = DocumentStore(spark, path)
    s.put("a", "{}")
    s.close()
    for (op <- Seq[() => Any](
        () => s.put("a", "{}"), () => s.putAll(Seq("a" -> "{}")),
        () => s.delete("a"), () => s.matchPut("a", None, "{}"),
        () => s.compact()))
      intercept[IllegalArgumentException] { op() }
    // the successor holds the lock undisturbed
    val s2 = DocumentStore(spark, path)
    try assert(s2.entity("a").nonEmpty) finally s2.close()
  }

  test("putAll with a duplicated id keeps the LAST occurrence (crux op order)") {
    val path = Files.createTempDirectory("docstore-dup").toString + "/db"
    val s = DocumentStore(spark, path)
    try {
      s.putAll(Seq("a" -> "{\"v\":1}", "b" -> "{}", "a" -> "{\"v\":2}"))
      assert(s.entity("a").contains("{\"v\":2}"),
        "the visible doc must be the batch's last put, not a shuffle accident")
      // exactly ONE version row per id for the tx (the overwritten
      // intermediate is not separately addressable at one (vt, tt))
      assert(s.history("a").count() == 1)
    } finally s.close()
  }
}
