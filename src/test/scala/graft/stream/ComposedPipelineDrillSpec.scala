package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec
import graft.core.{OpSpec, BufferSpec, StreamNode, NodeName}
import graft.ext.Dedup
import graft.store.DocumentStore

/** Round-13 verdict item 6: the streaming features are each drilled in
  * isolation (T15 swap, quota TTL, StoreIngest ledger, dedup/score
  * admission); this composes them into ONE topology —
  *
  *   ingest → quota-admit (stateful) → unwrap → PII scrub →
  *   near-dup admit (staged shingle index) → ledgered store sink
  *
  * — and runs it through a kill → restart → hot-swap → restart sequence
  * over ≥50 checkpointed micro-batches, asserting the END STATE equals a
  * from-scratch batch replay of the same input: same admitted document
  * set, same payloads, and EXACTLY ONE version per document (the
  * effectively-once ledger holding across both restarts), plus a
  * late-replayed batch staying a no-op.
  *
  * The quota's counters live in the query checkpoint (RocksDB state), the
  * dedup index is a resident staged model, and the ledger lives in the
  * store itself — three different state regimes that all have to survive
  * the restarts coherently for the equality to hold.
  */
class ComposedPipelineDrillSpec extends SparkSpec {
  import spark.implicits._

  private val QuotaCap = 40L
  private val NBatches = 55

  // disjoint vocabularies: normal rows share a prose prefix with each other
  // (mutual similarity is NOT filtered — intraBatch=false), and share zero
  // shingles with the indexed corpus; planted near-dups copy an indexed
  // text with one token changed (jaccard 12/16 = 0.75 ≥ 0.5 → rejected)
  private val indexedText =
    "quartz vortex nymph fjord glyphs zebra waltz jackdaw sphinx quiver " +
      "oxide plumb wizard knoll vex dwarf"
  private def normalText(src: String, b: Int): String =
    s"alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      s"u${src}${b}x u${src}${b}y u${src}${b}z" +
      (if (b % 5 == 0 && src == "B") " reach me at bob@example.com now" else "")
  private def nearDupText(b: Int): String =
    indexedText.split(' ').dropRight(1).mkString(" ") + s" zz$b"
  private def textFor(src: String, b: Int): String =
    if (src == "C" && b % 7 == 3) nearDupText(b) else normalText(src, b)

  test("composed quota→scrub→dedup→store pipeline survives kill/restart/swap over 55 batches ≡ batch replay") {
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")

    val idxPath = Files.createTempDirectory("graft-drill-idx").toString + "/idx"
    Dedup.stageShingleIndex(
      Seq((9001L, indexedText),
          (9002L, "ember crag thistle bourne wyvern lattice grotto marsh " +
            "onyx rill saber tundra umbra vale whorl yarrow"),
          (9003L, "basalt cinder dune eyrie flume gorse heath islet " +
            "jetty kelp loam mesa nook osprey pike quay"))
        .toDF("doc_id", "text"), idxPath)
    graft.core.CacheRegistry.unpersistAll()

    val store = DocumentStore(spark,
      Files.createTempDirectory("graft-drill-store").toString + "/db")
    val ckpt = Files.createTempDirectory("graft-drill-ckpt").toString
    val io = new MemoryIO(spark)
    val topo = new Topology(io)

    def cleanNode(textExpr: String) = StreamNode(
      NodeName.parse("stream/clean"), Set("kafka/raw"),
      Some(OpSpec.Comp(Seq(
        OpSpec.QuotaAdmit("get_json_object(value, '$.src')", QuotaCap),
        OpSpec.SelectExpr(Seq(
          "get_json_object(value, '$.src') AS src",
          "get_json_object(value, '$.uid') AS uid",
          s"$textExpr AS text")),
        OpSpec.ScrubPii("text")))),
      Some(BufferSpec.Fixed(1000)), None)

    topo.addNode(StreamNode(NodeName.parse("kafka/raw"), Set.empty, None, None, None))
    topo.addNode(cleanNode("get_json_object(value, '$.text')"))

    // DISTINCT data-batch ids, not raw foreachBatch invocations: after the
    // kill at b=20 the in-flight micro-batch is legitimately REPLAYED on
    // restart with the same bid (exactly the at-least-once delivery the
    // ledger dedupes) — a raw counter flakes by +1 whenever the kill lands
    // between sink work and commit, which only happens under suite load
    val batchesSeen =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def startIngest(): StreamingQuery =
      topo.buildPlan("stream/clean").writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          // the stateful quota stage re-arms a micro-batch every trigger
          // even with no new data (timer upkeep); those EMPTY batches must
          // not pay the store point-read + dedup joins below — skip them
          // before any real work, count only data batches
          if (!batch.isEmpty) {
            val idx = Dedup.residentShingleIndex(spark, idxPath)
            try {
              batchesSeen.add(bid)
              val admitted = StreamDedup.admitBatch(
                batch, idx, textCol = "text_clean", idCol = "uid")
              StoreIngest.ingestBatch(store, "uid", Seq("text_clean", "src"),
                "cleanstore", dedupeReplays = true)(admitted, bid)
            } finally graft.core.CacheRegistry.unpersistAll()
          }
          ()
        }
        .queryName("cleanstore")
        .option("checkpointLocation", ckpt)
        // pace the state-timer re-arm batches instead of letting them spin
        // back-to-back between publishes
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
        .start()

    // transformWithState re-arms a micro-batch every trigger for timer
    // upkeep, so processAllAvailable never sees quiescence (the repo-wide
    // pattern is deadline polling — IngestPipelineSpec). A publish's rows
    // are guaranteed processed once TWO more batches complete: the batch
    // in flight at publish time may miss them; the next one cannot.
    // Batch ids CONTINUE across a restart, so the last batch completed
    // before a stop stays a floor for the restarted query: until the new
    // query reports progress its lastProgress is null, and a clean restart
    // may have no batch to replay at all.
    var resumeFloor = -1L
    def lastBatch(q: StreamingQuery): Long =
      math.max(resumeFloor, Option(q.lastProgress).map(_.batchId).getOrElse(-1L))
    def awaitBatch(q: StreamingQuery, target: Long): Unit = {
      val deadline = System.currentTimeMillis() + 120000
      while (lastBatch(q) < target && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(lastBatch(q) >= target, s"stream stalled before batch $target")
    }
    var q = startIngest()
    try {
      for (b <- 1 to NBatches) {
        val at = lastBatch(q)
        // one atomic publish per round: three separate publish calls can
        // straddle a trigger boundary under suite load, splitting the
        // round across TWO non-empty micro-batches and breaking the
        // exact data-batch count asserted below
        io.publishBatch("kafka/raw", Seq("A", "B", "C").map(src =>
          s"$src$b" ->
            s"""{"src":"$src","uid":"$src-$b","text":"${textFor(src, b)}"}"""))
        awaitBatch(q, at + 2)
        // Without the floor, the round after a restart would read `at` as
        // -1 and `awaitBatch(at + 2)` would be satisfied by the checkpoint-
        // replay batch ALONE — the next two publish rounds could then merge
        // into one micro-batch (observed once under a slow host window:
        // 39/40 distinct data batches, the id gap exactly at the kill
        // point). With it, the round waits for two batches past the pre-
        // stop id whether or not the restart replays one, and nothing
        // waits on a replay that a clean stop never leaves behind.
        def restart(mutate: => Unit = ()): Unit = {
          resumeFloor = lastBatch(q)
          q.stop()
          mutate
          q = startIngest()
        }
        if (b == 20) restart() // KILL mid-run; restart resumes from the checkpoint
        if (b == 35) restart { // HOT-SWAP: semantics-preserving spec rewrite
          topo.addNode(cleanNode("get_json_object(value, concat('$', '.text'))"))
            .fold(e => fail(s"swap rejected: $e"), identity)
        }
      }

      // ---- late replay of an already-committed batch id stays a no-op
      val finalVersions = store.versions().count()
      val lastCommitted = StoreIngest.committedBatch(store, "cleanstore")
        .getOrElse(fail("ledger row missing"))
      StoreIngest.ingestBatch(store, "uid", Seq("text_clean", "src"),
        "cleanstore", dedupeReplays = true)(
        Seq(("A-1", "dup", "A")).toDF("uid", "text_clean", "src"), 0L)
      assert(store.versions().count() == finalVersions,
        "late-replayed batch 0 must be a no-op after the run")

      // 55 publish rounds each flow through their own micro-batch; the 15
      // rounds whose every row is over-quota reach the sink as EMPTY
      // post-transform batches (skipped before the store work), so the
      // data-batch count is exactly 55 − 15. The ≥50-micro-batch floor of
      // the drill is pinned by the ledger's batch id below (batch ids
      // advance per micro-batch, replays included).
      assert(batchesSeen.size() == 40,
        s"expected exactly 40 distinct data batches (55 rounds − 15 over-quota), saw ${batchesSeen.size()}")

      // ---- batch replay: the same composed logic over the full input
      val allRows = (1 to NBatches).flatMap(b => Seq("A", "B", "C").map(src =>
        (src, s"$src-$b", textFor(src, b), b))).toDF("src", "uid", "text", "b")
      val quotaed = allRows
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("src").orderBy("b")))
        .filter(col("rn") <= QuotaCap).drop("rn")
      val scrubbed = graft.ext.TextOps.scrubPii(quotaed, "text")
      val idx = Dedup.residentShingleIndex(spark, idxPath)
      val admitted = StreamDedup.admitBatch(
        scrubbed, idx, textCol = "text_clean", idCol = "uid")
      val expected = admitted
        .select(col("uid"), col("text_clean"), col("src"))
        .collect().map(r => r.getString(0) ->
          s"""{"text_clean":"${r.getString(1)}","src":"${r.getString(2)}"}""").toMap
      graft.core.CacheRegistry.unpersistAll()

      // sanity on the scenario itself: quota and dedup really cut
      assert(expected.size == 3 * QuotaCap.toInt -
        (1 to QuotaCap.toInt).count(b => b % 7 == 3),
        s"scenario math: ${expected.size}")
      assert(expected.keys.exists(_.startsWith("B-")), "B rows present")
      assert(!expected.contains("C-3"), "planted near-dup must be rejected")
      assert(!expected.contains("A-41"), "over-quota row must be rejected")
      assert(expected("B-5").contains("<EMAIL>"), "PII scrub must land in the store")

      // ---- end-state equality
      val got = store.db().filter(!col("id").startsWith(":"))
        .select("id", "doc").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got.keySet == expected.keySet,
        s"stream end-state ≠ batch replay:\n  stream-only: ${(got.keySet -- expected.keySet).take(5)}" +
          s"\n  batch-only: ${(expected.keySet -- got.keySet).take(5)}")
      for ((id, doc) <- expected)
        assert(got(id) == doc, s"payload mismatch for $id:\n  got  ${got(id)}\n  want $doc")

      // effectively-once through two restarts + swap: ONE version per doc
      val multi = store.versions().filter(!col("id").startsWith(":"))
        .groupBy("id").agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .collect().map(_.getString(0))
      assert(multi.isEmpty,
        s"duplicate versions (at-least-once leak) for: ${multi.take(5).mkString(",")}")
      assert(lastCommitted >= 50L,
        s"ledger must reflect the whole run, last committed = $lastCommitted")
    } finally {
      try q.stop() catch { case _: Exception => () }
      Dedup.releaseShingleIndex(idxPath)
      store.close()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
