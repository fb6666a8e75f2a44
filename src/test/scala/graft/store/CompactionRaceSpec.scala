package graft.store

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.stream.StoreChanges

/** The compaction-vs-reader race drill (round-9 verdict item 5).
  *
  * [[DocumentStore.compact]] writes the log as a new generation directory
  * and deletes the one before the current, while a [[StoreChanges.stream]]
  * tail may hold an old file listing and writers keep appending.
  * AbortSafetySpec covers append races; this spec races compact against
  * an ACTIVE tail + concurrent ingest, historical and current reads, and
  * a killed compaction, and pins the operating contract:
  *
  *  - the tail never fails a batch (ignoreMissingFiles covers a file
  *    deleted after the source listed it; its rows come back via the new
  *    generation's files, which the source lists as new);
  *  - delivery across a compaction is AT-LEAST-ONCE (one history replay),
  *    never lossy;
  *  - the BATCH read view is byte-identical before/after (same rows, same
  *    entity answers) — compaction is layout, not data;
  *  - writes serialized around compact() (the store lock) all land;
  *  - a read built before a compaction keeps its files, and a compaction
  *    killed at any point reopens to exactly the same rows.
  */
class CompactionRaceSpec extends SparkSpec {

  test("compact during an active tail + ingest: no failed batch, at-least-once, read parity") {
    val base = Files.createTempDirectory("compact-race").toString
    val store = DocumentStore(spark, base + "/db")
    try {
      // seed a multi-file history (one parquet file per put)
      (1 to 20).foreach(i => store.put(s"d$i", s"""{"v":$i}"""))

      val seen = ConcurrentHashMap.newKeySet[String]()
      val tail = StoreChanges.stream(spark, store.path, maxFilesPerTrigger = 4)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select("id").collect().foreach(r => seen.add(r.getString(0))); ()
        }
        .start()
      try {
        tail.processAllAvailable()
        assert((1 to 20).forall(i => seen.contains(s"d$i")), "catch-up replay")

        // concurrent ingest racing the compaction: puts serialize around
        // compact() on the store lock, so every one must land
        val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        val writer = new Thread(() =>
          try (21 to 40).foreach { i =>
            store.put(s"d$i", s"""{"v":$i}"""); Thread.sleep(5)
          } catch { case t: Throwable => writerErr.set(t) })
        writer.start()
        Thread.sleep(20) // let the writer get in flight first
        store.compact()
        writer.join()
        assert(writerErr.get() == null,
          s"writes racing compact must serialize, not fail: ${writerErr.get()}")

        tail.processAllAvailable()
        assert(tail.exception.isEmpty,
          s"the tail must survive compaction without a failed batch: ${tail.exception}")
        // at-least-once: every id observed (the compacted files replay the
        // history once — allowed; losing a row is not)
        val missing = (1 to 40).map(i => s"d$i").filterNot(seen.contains)
        assert(missing.isEmpty, s"rows lost across compaction: $missing")
      } finally tail.stop()

      // batch read parity: the compacted + post-compact table answers
      // exactly as the uncompacted one would
      assert(store.db().count() == 40, "current snapshot row count")
      (1 to 40).foreach(i =>
        assert(store.entity(s"d$i").contains(s"""{"v":$i}"""), s"entity d$i"))
      // and the version log kept everything (no tombstones were written)
      assert(store.versions().count() == 40)
    } finally store.close()
  }

  test("compactIfFragmented: policy triggers only past the threshold, then coalesces") {
    val base = Files.createTempDirectory("compact-policy").toString
    val store = DocumentStore(spark, base + "/db")
    try {
      (1 to 8).foreach(i => store.put(s"f$i", s"""{"v":$i}"""))
      val before = store.fragmentation()
      assert(before.values.sum >= 8,
        s"one file per transaction expected, got $before")
      // under-threshold: a no-op (the cheap periodic-tick common case)
      assert(!store.compactIfFragmented(maxFilesPerPartition = 100))
      assert(store.fragmentation() == before, "no-op must not touch the layout")
      // past the threshold: compacts down to one file per date partition
      assert(store.compactIfFragmented(maxFilesPerPartition = 4))
      val after = store.fragmentation()
      assert(after.values.forall(_ == 1), s"coalesced layout expected, got $after")
      assert(store.db().count() == 8, "read view unchanged by the policy run")
      // and immediately re-running is a no-op again
      assert(!store.compactIfFragmented(maxFilesPerPartition = 4))
    } finally store.close()
  }

  test("Datalog reads beside repeated compactions answer exactly, never FILE_NOT_EXIST") {
    // A query that listed the table's files before a compaction's swap and
    // read them after used to fail with FAILED_READ_FILE.FILE_NOT_EXIST
    // (an HTTP 500 at a query collector). Current reads now come from the
    // materialized base, which no compaction touches.
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val store = DocumentStore(spark,
      Files.createTempDirectory("compact-q").toString + "/db")
    try {
      def doc(i: Int) = s"""{"v":$i,"g":"g${i % 5}"}"""
      store.putAll((1 to 200).map(i => s"d$i" -> doc(i)))
      (201 to 210).foreach(i => store.put(s"d$i", doc(i)))
      val schema = StructType(Seq(StructField("v", LongType), StructField("g", StringType)))
      val edn = "{:find [?g (count ?e) (sum ?v)] :where [[?e :g ?g] [?e :v ?v]]}"
      val want = (1 to 210).groupBy(i => s"g${i % 5}").map { case (g, is) =>
        (g, is.size.toLong, is.map(_.toLong).sum) }.toSet
      def read(): Set[(String, Long, Long)] =
        store.qPublic(edn, schema).fold(e => throw new IllegalStateException(e),
          _.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
      assert(read() == want, "answer before any compaction")
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val compactions = new java.util.concurrent.atomic.AtomicInteger(0)
      val compactErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val compactor = new Thread(() =>
        try while (!stop.get()) { store.compact(); compactions.incrementAndGet() }
        catch { case t: Throwable => compactErr.set(t) }, "drill-compactor")
      compactor.start()
      val failures = scala.collection.mutable.Buffer.empty[String]
      try {
        var reads = 0
        while (reads < 20 || compactions.get() < 5) {
          reads += 1
          try {
            val got = read()
            if (got != want) failures += s"read $reads: $got"
          } catch { case e: Exception => failures += s"read $reads: ${e.getMessage}" }
        }
      } finally { stop.set(true); compactor.join(60000) }
      assert(compactErr.get() == null, s"compaction failed: ${compactErr.get()}")
      assert(failures.isEmpty,
        s"${failures.size} reads beside compaction failed: ${failures.headOption.map(_.take(300))}")
    } finally store.close()
  }

  test("historical reads beside repeated compactions answer exactly, never FILE_NOT_EXIST") {
    // asOf at an earlier valid time or under a tx-time cut, history and
    // changes scan the version log. Each lists the current generation's
    // files when it is built; a compaction landing before it runs must
    // leave those files in place. A compaction deletes the generation
    // before the one it replaces, so a read may span one compaction, not
    // two: after each compaction the compactor waits for two reads to
    // finish, the one in flight and one begun after the compaction.
    val store = DocumentStore(spark,
      Files.createTempDirectory("compact-hist").toString + "/db")
    try {
      val t1 = (1 to 20).map(i => store.put(s"h$i", s"""{"v":$i}""")).last
      val t2 = (1 to 20).map(i => store.put(s"h$i", s"""{"v":${i + 100}}""")).last
      store.delete("h1")
      import spark.implicits._
      def docs(df: DataFrame): Set[(String, String)] =
        df.select("id", "doc").as[(String, String)].collect().toSet
      val atT1 = (1 to 20).map(i => s"h$i" -> s"""{"v":$i}""").toSet
      val atT2 = (1 to 20).map(i => s"h$i" -> s"""{"v":${i + 100}}""").toSet
      val chain = Set((true, null: String), (false, """{"v":101}"""), (false, """{"v":1}"""))
      val reads: Seq[(String, () => Boolean)] = Seq(
        "asOf(pastVt)" -> (() => docs(store.asOf(t1)) == atT1),
        "asOf(vt, pastTx)" -> (() => docs(store.asOf(store.now(), t2)) == atT2),
        "history(id)" -> (() => store.history("h1").select("deleted", "doc")
          .as[(Boolean, String)].collect().toSet == chain),
        "changes().count()" -> (() => store.changes().count() == 41),
        "versions().count()" -> (() => store.versions().count() == 41))
      assert(reads.forall(_._2()), "answers before any compaction")
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val compactions = new java.util.concurrent.atomic.AtomicInteger(0)
      val done = new java.util.concurrent.atomic.AtomicInteger(0) // reads finished
      val compactErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val compactor = new Thread(() =>
        try while (!stop.get()) {
          store.compact(); compactions.incrementAndGet()
          val mark = done.get()
          while (done.get() < mark + 2 && !stop.get()) Thread.sleep(1)
        } catch { case t: Throwable => compactErr.set(t) }, "drill-compactor")
      compactor.start()
      val failures = scala.collection.mutable.Buffer.empty[String]
      try {
        while (done.get() < 20 || compactions.get() < 5) {
          val (name, read) = reads(done.get() % reads.size)
          try { if (!read()) failures += s"$name: wrong answer" }
          catch { case e: Exception => failures += s"$name: ${e.getMessage}" }
          done.incrementAndGet()
        }
      } finally { stop.set(true); compactor.join(60000) }
      assert(compactErr.get() == null, s"compaction failed: ${compactErr.get()}")
      assert(failures.isEmpty, s"${failures.size} of ${done.get()} historical reads beside " +
        s"${compactions.get()} compactions failed: ${failures.headOption.map(_.take(300))}")
    } finally store.close()
  }

  test("a compaction killed before or after its publishing rename reopens to exactly its rows") {
    import scala.jdk.CollectionConverters._
    import scala.sys.process._
    val want = (1 to 15).map(i => s"c$i" -> s"""{"v":$i}""").toSet
    for (stage <- Seq("written", "published")) {
      val path = Files.createTempDirectory(s"compact-kill-$stage").toString + "/db"
      // the child builds generations 0 and 1, then stops inside the second
      // compaction at `stage` and prints its pid, and is killed there
      val javaBin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString
      val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
      val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
        "graft.store.CompactionCrashChild", path, stage)
      @volatile var pid = Option.empty[Long]
      val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val child = Process(cmd).run(ProcessLogger(
        line => if (line.startsWith(s"AT $stage ")) pid = Some(line.split(" ")(2).toLong),
        line => { log.add(line); if (log.size > 40) log.poll() }))
      try {
        val deadline = System.currentTimeMillis() + 180000
        while (pid.isEmpty && child.isAlive() && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        assert(pid.isDefined, s"child never reached '$stage':\n${log.asScala.mkString("\n")}")
        pid.foreach(p => ProcessHandle.of(p).ifPresent(h => { h.destroyForcibly(); () }))
        child.exitValue()
      } finally child.destroy()

      // killed with the new generation still hidden, or already published
      val names = new java.io.File(path).list().toSet
      assert(names == Set("g=0", "g=1", if (stage == "written") ".g=2" else "g=2"),
        s"$stage: left $names")
      val store = DocumentStore(spark, path) // reclaims the dead child's lock
      try {
        // the open keeps one generation: the old one, or the published one
        val current = if (stage == "written") "g=1" else "g=2"
        assert(new java.io.File(path).list().toSet == Set(current), s"$stage: kept $current")
        import spark.implicits._
        assert(store.versions().select("id", "doc").as[(String, String)].collect().toSet == want)
        assert(store.db().select("id", "doc").as[(String, String)].collect().toSet == want)
        // pre-compaction: the first compaction's file plus five puts;
        // post-compaction: one file per date partition
        val files = store.fragmentation().values
        if (stage == "written") assert(files.sum == 6, s"$stage: ${store.fragmentation()}")
        else assert(files.forall(_ == 1), s"$stage: ${store.fragmentation()}")
        store.put("c16", """{"v":16}""")
        assert(store.entity("c16").contains("""{"v":16}"""))
        store.compact()
        assert(store.db().count() == 16)
      } finally store.close()
    }
  }

  test("a path in the flat valid_date= layout fails to open, naming the layout and the path") {
    import org.apache.spark.sql.functions._
    val path = Files.createTempDirectory("flat-layout").toString + "/db"
    spark.range(3).select(concat(lit("f"), col("id")).as("id"),
        current_timestamp().as("validFrom"), current_timestamp().as("txTime"),
        lit(false).as("deleted"), lit("{}").as("doc"), current_date().as("valid_date"))
      .write.partitionBy("valid_date").parquet(path)
    val before = new java.io.File(path).list().toSet
    val e = intercept[DocumentStore.FlatLayoutException](DocumentStore(spark, path))
    assert(e.getMessage.contains(path) && e.getMessage.contains("flat layout"), e.getMessage)
    // refused again the same way: the failed open released its lock and
    // left the directory as it was
    intercept[DocumentStore.FlatLayoutException](DocumentStore(spark, path))
    assert(new java.io.File(path).list().toSet == before)
    assert(spark.read.parquet(path).count() == 3)
  }
}
