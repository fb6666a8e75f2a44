package graft.store

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.stream.StoreChanges

/** The compaction-vs-reader race drill (round-9 verdict item 5).
  *
  * [[DocumentStore.compact]] swaps the table directory by rename while a
  * [[StoreChanges.stream]] tail may hold the old file listing, and while
  * writers keep appending. AbortSafetySpec covers append races; this spec
  * races compact against an ACTIVE tail + concurrent ingest and pins the
  * operating contract:
  *
  *  - the tail never fails a batch (ignoreMissingFiles covers the
  *    list-then-swap window; vanished rows come back via the compacted
  *    files, which the source lists as new);
  *  - delivery across a compaction is AT-LEAST-ONCE (one history replay),
  *    never lossy;
  *  - the BATCH read view is byte-identical before/after (same rows, same
  *    entity answers) — compaction is layout, not data;
  *  - writes serialized around compact() (the store lock) all land.
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

  test("crashed swap: reads fall back to .old; the next compact self-heals") {
    val base = Files.createTempDirectory("compact-crash").toString
    val store = DocumentStore(spark, base + "/db")
    try {
      (1 to 5).foreach(i => store.put(s"c$i", s"""{"v":$i}"""))
      // simulate a compact that died between its two renames: data at .old,
      // live path absent
      val fs = new org.apache.hadoop.fs.Path(store.path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(new org.apache.hadoop.fs.Path(store.path),
        new org.apache.hadoop.fs.Path(store.path + ".old")))
      // readers keep answering from the backup — NOT a silent empty store
      assert(store.db().count() == 5, "mid-swap reads must serve .old, not empty")
      assert(store.entity("c3").contains("""{"v":3}"""))
      // the next compact restores the path first, then compacts normally
      store.compact()
      assert(fs.exists(new org.apache.hadoop.fs.Path(store.path)))
      assert(store.db().count() == 5)
      (1 to 5).foreach(i => assert(store.entity(s"c$i").contains(s"""{"v":$i}""")))
      // and writes work again post-recovery
      store.put("c6", """{"v":6}""")
      assert(store.db().count() == 6)
    } finally store.close()
  }
}
