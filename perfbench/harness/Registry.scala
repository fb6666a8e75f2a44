package perfbench

import graft.SparkEntry
import graft.core.{CacheRegistry, ModelCache}

/** The gate-registry workload: one closed-loop caller runs a fixed set of
  * `SparkEntry.queries` gates over the committed fixture, pass after pass in
  * a seeded order. Every result's row count is checked against the table
  * pinned from an oracle-verified run (gates_expected.json). */
object Registry {
  /** The cheapest gate of each of seven families at the fixture scale
    * (aggregates, store as-of views, time series, stream batch equivalents,
    * Datalog, corpus, time functions), three of them aggregates: several
    * passes fit in one run. */
  val Gates: Seq[String] = Seq(
    "agg_min_max", "agg_stats", "agg_count_distinct",
    "bitemporal_asof", "asof_history", "ts_rolling", "stream_map_filter_batch",
    "datalog_with", "corpus_pack_sequences", "time_truncate")

  /** Passes in the timed window: at least this many, so gate latencies have
    * the 50 samples a p80 needs (ten beyond it). */
  val MinPasses: Int = math.ceil(50.0 / Gates.size).toInt
  val SetupReps = 3

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val dataDir = benchDir.resolve("data/sf0.001").toString
    val expected: Map[String, Long] = {
      implicit val f: org.json4s.Formats = org.json4s.DefaultFormats
      val j = org.json4s.jackson.JsonMethods.parse(
        java.nio.file.Files.readString(benchDir.resolve("gates_expected.json")))
      (j \ "rows").extract[Map[String, Long]]
    }
    val missing = Gates.filterNot(g => expected.contains(g) && SparkEntry.queries.contains(g))
    require(missing.isEmpty, s"gates without a pinned row count or entry: ${missing.mkString(", ")}")

    var attempted = 0L
    val failures = Seq.newBuilder[String]

    def gate(name: String): Sample = {
      val fn = SparkEntry.queries(name)
      val t0 = clock.now()
      val err =
        try spans(s"gate:$name", spans.newReq()) {
          val df = spans("gate.build")(fn(spark, dataDir))
          spans("gate.plan")(df.queryExecution.executedPlan)
          val rows = spans("gate.exec")(df.collect().length.toLong)
          if (rows == expected(name)) None
          else Some(s"$name: $rows rows, pinned ${expected(name)}")
        } catch { case e: Exception => Some(s"$name: $e") }
        finally CacheRegistry.unpersistAll()
      val t1 = clock.now()
      Sample(s"gate:$name", t0, t0, t1, err)
    }

    def pass(order: Seq[String]): Seq[Sample] = order.map(gate)

    // Set-up: each repetition starts from empty model and result caches, so
    // work a change moves into first use (training, staging) shows here.
    val setup = (1 to SetupReps).map { r =>
      ModelCache.clear()
      CacheRegistry.unpersistAll()
      val t0 = clock.now()
      val s = pass(Gates)
      val secs = (clock.now() - t0) / 1e9
      attempted += s.size
      s.flatMap(_.error).foreach(failures += _)
      log(f"setup $r: $secs%.2f s")
      secs
    }

    probe.drain()
    val c0 = probe.snapshot()
    val start = clock.now()
    val end = start + seconds * 1000000000L
    val samples = Seq.newBuilder[Sample]
    var passes = 0
    val passSeconds = Seq.newBuilder[Double]
    val passCounters = Seq.newBuilder[Map[String, Double]]
    var last = c0
    while (passes < MinPasses || clock.now() < end) {
      val order = scala.util.Random.javaRandomToRandom(rng).shuffle(Gates)
      val s = pass(order)
      samples ++= s
      passSeconds += s.map(x => (x.done - x.sent) / 1e9).sum
      passes += 1
      probe.drain()
      val now = probe.snapshot()
      passCounters += Probe.delta(last, now)
      last = now
    }
    val counters = Probe.delta(c0, last)
    val heapMb = Probe.settledLiveHeapMb(probe)
    val all = samples.result()
    log(f"timed: $passes passes in ${(clock.now() - start) / 1e9}%.2f s")
    Outcome(setup, all, (attempted, failures.result()), counters,
      Map("pass_seconds" -> passSeconds.result(), "pass_counters" -> passCounters.result(),
        "heap_live_mb" -> heapMb),
      Map("gates" -> Gates, "passes" -> passes, "fixture" -> "data/sf0.001"))
  }
}
