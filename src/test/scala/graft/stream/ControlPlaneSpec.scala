package graft.stream

import java.nio.file.Files

import graft.SparkSpec
import graft.core.{BufferSpec, NodeName, OpSpec, StreamNode}
import graft.store.DocumentStore

/** T18/T19 end-to-end: stored-function docs in the app db drive topology
  * bootstrap; a function-update event on the internal control topic
  * re-fetches the doc and hot-swaps the node — the full deploy path of
  * SURVEY.md §3.1 steps 4-6 (persist → activate → cluster broadcast). */
class ControlPlaneSpec extends SparkSpec {

  private def specJson(expr: String): String =
    s"""{"name":"stream/process","upstream":["kafka/input"],
        "transducer":{"map":"$expr"},"buffer":1000,"format":"json"}"""
      .replaceAll("\n\\s*", "")

  test("node spec JSON round-trips") {
    val n = NodeSpec.parse(specJson("TRY_CAST(value AS DOUBLE) + 1")).get
    assert(n.name == NodeName.parse("stream/process"))
    assert(n.upstream == Set("kafka/input"))
    assert(n.transducer.contains(OpSpec.MapExpr("TRY_CAST(value AS DOUBLE) + 1")))
    assert(NodeSpec.parse(NodeSpec.toJson(n)).contains(n))
    assert(NodeSpec.parse("""{"garbage": true}""").isEmpty)
    assert(NodeSpec.parse("not json at all").isEmpty)
    // quotaAdmit: parse + serialize round-trip, bad cap rejected
    val qj = """{"name":"stream/quota","upstream":["kafka/input"],
                 "transducer":{"quotaAdmit":{"key":"get_json_object(value,'$.src')","cap":100}}}"""
      .replaceAll("\n\\s*", "")
    val qn = NodeSpec.parse(qj).get
    assert(qn.transducer.contains(
      OpSpec.QuotaAdmit("get_json_object(value,'$.src')", 100L)))
    assert(NodeSpec.parse(NodeSpec.toJson(qn)).contains(qn))
    assert(NodeSpec.parse(qj.replace("100", "0")).isEmpty,
      "non-positive cap must be rejected at parse time")
    // rolling form: ttlMillis survives the round-trip; bad ttl rejected
    val rj = qj.replace(""","cap":100}""", ""","cap":100,"ttlMillis":60000}""")
    val rn = NodeSpec.parse(rj).get
    assert(rn.transducer.contains(
      OpSpec.QuotaAdmit("get_json_object(value,'$.src')", 100L, Some(60000L))))
    assert(NodeSpec.parse(NodeSpec.toJson(rn)).contains(rn))
    assert(NodeSpec.parse(rj.replace("60000", "-5")).isEmpty)
  }

  test("bootstrap from store wires and starts the persisted topology (T19)") {
    val store = DocumentStore(spark,
      Files.createTempDirectory("cp").toString + "/db")
    val io = new MemoryIO(spark)
    val topo = new Topology(io)
    val mgr = new StreamManager(topo)
    store.put(":stream/input", """{"name":"kafka/input","upstream":[]}""")
    store.put(":stream/process", specJson("TRY_CAST(value AS DOUBLE) + 1"))
    store.put(":stream/output", """{"name":"kafka/output","upstream":["stream/process"]}""")
    io.publish("kafka/input", "k", "5")
    mgr.bootstrapFromStore(store)
    mgr.processAllAvailable()
    assert(io.collected("output").map(_.getAs[Double]("value")) == Seq(6.0))
    mgr.stopAll()
  }

  test("control-plane event hot-swaps the node from the store (T18)") {
    val store = DocumentStore(spark,
      Files.createTempDirectory("cp2").toString + "/db")
    val io = new MemoryIO(spark)
    val topo = new Topology(io)
    val mgr = new StreamManager(topo)
    store.put(":stream/input", """{"name":"kafka/input","upstream":[]}""")
    store.put(":stream/process", specJson("TRY_CAST(value AS DOUBLE) + 1"))
    store.put(":stream/output", """{"name":"kafka/output","upstream":["stream/process"]}""")
    mgr.bootstrapFromStore(store)
    mgr.startControlPlane(store, NodeSpec.parse)
    io.publish("kafka/input", "a", "10")
    mgr.processAllAvailable()

    // deploy an update: new doc version in the db + event on the topic
    store.put(":stream/process", specJson("TRY_CAST(value AS DOUBLE) * 100"))
    io.publish(mgr.controlTopic, "k", ":stream/process")
    mgr.processAllAvailable() // control-plane batch applies the swap
    io.publish("kafka/input", "b", "10")
    mgr.processAllAvailable()

    val vals = io.collected("output").map(_.getAs[Double]("value"))
    assert(vals == Seq(11.0, 1000.0),
      s"pre-swap +1, post-swap *100, no reprocessing; got $vals")
    assert(topo.node("stream/process").get.transducer
      .contains(OpSpec.MapExpr("TRY_CAST(value AS DOUBLE) * 100")))
    mgr.stopAll()
  }

  test("a broadcast of an already-applied spec restarts no query") {
    val store = DocumentStore(spark,
      Files.createTempDirectory("cp-same").toString + "/db")
    val io = new MemoryIO(spark)
    val mgr = new StreamManager(new Topology(io))
    store.put(":stream/input", """{"name":"kafka/input","upstream":[]}""")
    store.put(":stream/process", specJson("TRY_CAST(value AS DOUBLE) + 1"))
    store.put(":stream/output", """{"name":"kafka/output","upstream":["stream/process"]}""")
    mgr.bootstrapFromStore(store)
    mgr.startControlPlane(store, NodeSpec.parse)
    val before = mgr.runningQueries("kafka/output")
    // the deploying instance's own broadcast: the stored spec is the one
    // already running here
    io.publish(mgr.controlTopic, "k", ":stream/process")
    mgr.processAllAvailable()
    assert(mgr.runningQueries.get("kafka/output").contains(before) && before.isActive,
      "an unchanged spec must not stop and restart the sink")
    io.publish("kafka/input", "a", "10")
    mgr.processAllAvailable()
    assert(io.collected("output").map(_.getAs[Double]("value")) == Seq(11.0))
    mgr.stopAll()
  }

  test("control-plane event for a TOMBSTONED doc deletes the node on peers (review r11)") {
    val store = DocumentStore(spark,
      Files.createTempDirectory("cp-del").toString + "/db")
    val io = new MemoryIO(spark)
    val topo = new Topology(io)
    val mgr = new StreamManager(topo)
    store.put(":stream/input", """{"name":"kafka/input","upstream":[]}""")
    store.put(":stream/process", specJson("TRY_CAST(value AS DOUBLE) + 1"))
    store.put(":stream/output", """{"name":"kafka/output","upstream":["stream/process"]}""")
    mgr.bootstrapFromStore(store)
    mgr.startControlPlane(store, NodeSpec.parse)
    assert(topo.node("stream/process").nonEmpty)
    // a PEER instance deletes the function: tombstone lands in the shared
    // store BEFORE the broadcast (FunctionManager.delete's order) — this
    // instance must tear the node down, not silently skip the event
    store.delete(":stream/process")
    io.publish(mgr.controlTopic, "k", ":stream/process")
    mgr.processAllAvailable()
    assert(topo.node("stream/process").isEmpty,
      "a tombstoned broadcast must delete the node on every instance")
    assert(!mgr.runningQueries.contains("kafka/output"),
      "downstream of the deleted node stops too")
    mgr.stopAll()
  }

  test("a scheduled-future update broadcast is NOT misread as a delete (ADVICE r11)") {
    val store = DocumentStore(spark,
      Files.createTempDirectory("cp-fut").toString + "/db")
    val io = new MemoryIO(spark)
    val topo = new Topology(io)
    val mgr = new StreamManager(topo)
    store.put(":stream/input", """{"name":"kafka/input","upstream":[]}""")
    store.put(":stream/process", specJson("TRY_CAST(value AS DOUBLE) + 1"))
    store.put(":stream/output", """{"name":"kafka/output","upstream":["stream/process"]}""")
    mgr.bootstrapFromStore(store)
    mgr.startControlPlane(store, NodeSpec.parse)
    assert(topo.node("stream/process").nonEmpty)
    // S2 scheduled visibility: the NEW spec version becomes valid an hour
    // from now — entity() returns the CURRENT doc… but after a peer's
    // delete+re-put-scheduled sequence the current cut can be empty with
    // no tombstone newest. Drill the precise hazard: a put whose validFrom
    // is in the future for an id whose current cut has no visible doc.
    store.delete(":stream/old_ghost") // unrelated tombstone, sanity noise
    val future = new java.sql.Timestamp(System.currentTimeMillis() + 3600_000L)
    store.delete(":stream/process") // peer retires the current version…
    store.put(":stream/process", specJson("TRY_CAST(value AS DOUBLE) * 7"),
      validFrom = Some(future)) // …and schedules the replacement
    io.publish(mgr.controlTopic, "k", ":stream/process")
    mgr.processAllAvailable()
    // current cut IS a tombstone here (delete then future put) → node goes
    assert(topo.node("stream/process").isEmpty,
      "current-cut tombstone still deletes even with a scheduled successor")

    // the pure scheduled-create case: node known locally, store holds ONLY
    // a future-validFrom version (no tombstone anywhere in the chain) →
    // entity() is None but the broadcast must NOT tear the live node down
    assert(topo.addNode(graft.core.StreamNode(
      graft.core.NodeName.parse("stream/gate"), Set("kafka/input"),
      Some(OpSpec.MapExpr("value")), Some(BufferSpec.Fixed(10)), None)).isRight)
    store.put(":stream/gate", specJson("value"), validFrom = Some(future))
    assert(store.entity(":stream/gate").isEmpty, "future doc not yet visible")
    io.publish(mgr.controlTopic, "k", ":stream/gate")
    mgr.processAllAvailable()
    assert(topo.node("stream/gate").nonEmpty,
      "a scheduled-future create must not be misread as a delete")
    mgr.stopAll()
  }

  test("a terminated query is swept and restarted by applyGraph (review r11)") {
    val store = DocumentStore(spark,
      Files.createTempDirectory("cp-dead").toString + "/db")
    val io = new MemoryIO(spark)
    val topo = new Topology(io)
    val mgr = new StreamManager(topo)
    store.put(":stream/input", """{"name":"kafka/input","upstream":[]}""")
    store.put(":stream/out", """{"name":"kafka/out","upstream":["kafka/input"]}""")
    mgr.bootstrapFromStore(store)
    val q0 = mgr.runningQueries("kafka/out")
    // kill the query OUT FROM UNDER the manager (a crash leaves exactly
    // this state: terminated query, map entry still present)
    q0.stop()
    assert(!q0.isActive && mgr.runningQueries.contains("kafka/out"))
    // the next applyGraph (any control-plane update triggers one) must
    // sweep the dead entry and restart the sink from its checkpoint
    mgr.applyGraph()
    val q1 = mgr.runningQueries.get("kafka/out")
    assert(q1.exists(_.isActive) && !q1.contains(q0),
      "dead sink must be restarted, not skipped by the membership check")
    // and it still processes data
    io.publish("kafka/input", "a", "1")
    mgr.processAllAvailable()
    assert(io.collected("out").nonEmpty)
    mgr.stopAll()
  }

  test("a drain survives a hot-swap of its node (review r11)") {
    val io = new MemoryIO(spark)
    val topo = new Topology(io)
    val mgr = new StreamManager(topo)
    assert(topo.addNode(StreamNode(NodeName.parse("kafka/input"),
      Set.empty, None, None, None)).isRight)
    val added = topo.addNode(StreamNode(NodeName.parse("stream/x"), Set("kafka/input"),
      Some(OpSpec.MapExpr("TRY_CAST(value AS DOUBLE) + 1")),
      Some(BufferSpec.Fixed(1000)), None))
    assert(added.isRight, s"addNode: $added")
    mgr.applyGraph()
    mgr.drain("stream/x")
    assert(mgr.runningQueries.contains("stream/x#drain"))
    // hot-swap the node: stopSink kills the drain; applyGraph must bring
    // it back — user intent (T17 keep-flowing) survives updates
    val updated = StreamNode(NodeName.parse("stream/x"), Set("kafka/input"),
      Some(OpSpec.MapExpr("TRY_CAST(value AS DOUBLE) * 2")),
      Some(BufferSpec.Fixed(1000)), None)
    assert(mgr.updateNode(updated).isRight)
    assert(mgr.runningQueries.get("stream/x#drain").exists(_.isActive),
      "the drain must be restarted after a hot-swap")
    // deleteNode withdraws the intent — no orphan restart afterwards
    mgr.deleteNode("stream/x")
    mgr.applyGraph()
    assert(!mgr.runningQueries.contains("stream/x#drain"))
    mgr.stopAll()
  }

  test("edn-format source topics decode to JSON before the transducer (S10)") {
    val io = new MemoryIO(spark)
    val topo = new Topology(io)
    val mgr = new StreamManager(topo)
    topo.addNode(NodeSpec.parse(
      """{"name":"kafka/edn-in","upstream":[],"format":"edn"}""").get)
    topo.addNode(NodeSpec.parse(
      """{"name":"stream/extract","upstream":["kafka/edn-in"],
         "transducer":{"map":"get_json_object(value, '$.amount')"},"buffer":10}"""
        .replaceAll("\n\\s*", "")).get)
    topo.addNode(NodeSpec.parse(
      """{"name":"kafka/json-out","upstream":["stream/extract"]}""").get)
    io.publish("kafka/edn-in", "k", "{:event :purchase, :amount 99.5}")
    io.publish("kafka/edn-in", "k", "{:broken edn")  // malformed → null → dropped
    mgr.applyGraph()
    mgr.processAllAvailable()
    assert(io.collected("json-out").map(_.getAs[String]("value")) == Seq("99.5"))
    mgr.stopAll()
  }

  test("hot-swap across the stateful change class rotates the checkpoint " +
       "(clean restart, no state-schema crash) — SURVEY §7.4 risk 2") {
    import java.sql.Timestamp
    import graft.core.{BufferSpec, OpSpec, StreamNode}
    def ts(minute: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")
    val io = new MemoryIO(spark)
    val topo = new Topology(io)
    val mgr = new StreamManager(topo)
    topo.addNode(StreamNode(NodeName.parse("kafka/ev"), Set.empty, None, None, None))
    topo.addNode(StreamNode(NodeName.parse("stream/agg"), Set("kafka/ev"),
      Some(OpSpec.WindowAgg("ts", "10 minutes", None, "5 minutes",
        Seq("key"), Seq("count(*) AS n"))),
      Some(BufferSpec.Fixed(1000)), None))
    topo.addNode(StreamNode(NodeName.parse("kafka/out"), Set("stream/agg"), None, None, None))
    try {
      io.publishAt("kafka/ev", "a", "1", ts(1))
      io.publishAt("kafka/ev", "a", "2", ts(4))
      mgr.applyGraph()
      mgr.processAllAvailable()
      io.publishAt("kafka/ev", "z", "0", ts(31)) // finalize the first window
      mgr.processAllAvailable()
      val ckptBefore = mgr.checkpointFor("kafka/out")
      assert(io.collected("out").exists(r =>
        r.getAs[String]("key") == "a" && r.getAs[Long]("n") == 2L))

      // swap the aggregation: count -> sum. The state schema changes, so
      // reusing the old checkpoint would crash the restarted query with
      // StateSchemaNotCompatible; the contract is a clean restart instead.
      val swapped = StreamNode(NodeName.parse("stream/agg"), Set("kafka/ev"),
        Some(OpSpec.WindowAgg("ts", "10 minutes", None, "5 minutes",
          Seq("key"), Seq("sum(CAST(value AS DOUBLE)) AS total"))),
        Some(BufferSpec.Fixed(1000)), None)
      assert(mgr.updateNode(swapped).isRight, "swap must not be rejected")
      val ckptAfter = mgr.checkpointFor("kafka/out")
      assert(ckptBefore != ckptAfter,
        s"stateful shape changed -> checkpoint must rotate ($ckptBefore)")

      // the restarted query must process cleanly under the new aggregation.
      // Committed (purged) pre-swap blocks are NOT re-read — same shape as
      // Kafka `startingOffsets=latest`: new messages run the new code, the
      // old aggregation's state is discarded with the old checkpoint.
      io.publishAt("kafka/ev", "a", "5", ts(41))
      io.publishAt("kafka/ev", "a", "7", ts(44))
      mgr.processAllAvailable() // would throw StreamingQueryException pre-fix
      io.publishAt("kafka/ev", "z", "0", ts(75)) // watermark pusher
      mgr.processAllAvailable()
      val totals = io.collected("out").filter(r => r.schema.fieldNames.contains("total"))
        .map(r => (r.getAs[String]("key"), r.getAs[Double]("total")))
      assert(totals.contains(("a", 12.0)),
        s"post-swap sum over the 10:40 window: $totals")
    } finally mgr.stopAll()
  }

  test("stateless swaps keep a stable checkpoint; crossing into stateful rotates it") {
    import graft.core.{BufferSpec, OpSpec, StreamNode}
    val io = new MemoryIO(spark)
    val topo = new Topology(io)
    val mgr = new StreamManager(topo)
    topo.addNode(StreamNode(NodeName.parse("kafka/in"), Set.empty, None, None, None))
    topo.addNode(NodeSpec.parse(specJson("TRY_CAST(value AS DOUBLE) + 1")).get
      .copy(upstream = Set("kafka/in")))
    topo.addNode(StreamNode(NodeName.parse("kafka/sink"), Set("stream/process"), None, None, None))
    assert(topo.statefulSignature("kafka/sink").isEmpty)
    val base = mgr.checkpointFor("kafka/sink")
    // map edit: still stateless, same checkpoint -> committed offsets kept
    topo.addNode(NodeSpec.parse(specJson("TRY_CAST(value AS DOUBLE) * 2")).get
      .copy(upstream = Set("kafka/in")))
    assert(mgr.checkpointFor("kafka/sink") == base)
    // map -> windowAgg: stateless crosses into stateful, checkpoint rotates
    topo.addNode(StreamNode(NodeName.parse("stream/process"), Set("kafka/in"),
      Some(OpSpec.WindowAgg("ts", "10 minutes", None, "5 minutes",
        Seq("key"), Seq("count(*) AS n"))),
      Some(BufferSpec.Fixed(1000)), None))
    assert(topo.statefulSignature("kafka/sink").nonEmpty)
    assert(mgr.checkpointFor("kafka/sink") != base)
  }

  test("S9 ensureTopic degrades to a clean no-op without kafka-clients") {
    // this env ships no kafka-clients jar: the reflective AdminClient hook
    // must swallow ClassNotFoundException, not blow up topology wiring
    val kio = new KafkaIO(spark, "localhost:9092", "/tmp/graft-kafka-ckpt")
    kio.ensureTopic("some/topic") // must not throw
  }

  test("bloomAdmit node deploys through the control plane from a stored JSON doc") {
    import spark.implicits._
    val bench = "the quick brown fox jumps over the lazy dog again and again today"
    val model = java.nio.file.Files.createTempDirectory("cp-bloom").toString + "/m"
    graft.ext.Corpus.stageBloomFilter(
      (1L to 5L).map(i => (i, bench)).toDF("doc_id", "text"), model)
    try {
      val store = DocumentStore(spark,
        Files.createTempDirectory("cp-bloom-db").toString + "/db")
      val io = new MemoryIO(spark)
      val mgr = new StreamManager(new Topology(io))
      store.put(":stream/docs", """{"name":"kafka/docs","upstream":[]}""")
      // the management plane ships the admission stage as PLAIN JSON — the
      // whole spec is data, exactly how an operator would deploy it
      store.put(":stream/clean",
        s"""{"name":"stream/clean","upstream":["kafka/docs"],"transducer":
           {"comp":[{"select":["value AS text"]},
                    {"bloomAdmit":{"model":"$model","maxHitFracQ6":500000,
                                   "text":"text"}}]},"buffer":10}""")
      store.put(":stream/out", """{"name":"kafka/out","upstream":["stream/clean"]}""")
      mgr.bootstrapFromStore(store)
      io.publish("kafka/docs", "a", bench)
      io.publish("kafka/docs", "b", "novel prose about register allocation")
      mgr.processAllAvailable()
      val got = io.collected("out").map(_.getAs[String]("text"))
      assert(got == Seq("novel prose about register allocation"),
        s"deployed admission must reject the benchmark copy: $got")
      mgr.stopAll()
    } finally graft.ext.Corpus.releaseBloomFilter(model)
  }
}
