package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.GraftApp
import graft.registry.FunctionRegistry
import graft.stream.{DropMetrics, MemoryIO}

/** The serving workload: the README quickstart app (auth on, a 3-node
  * topology, stream / ingest / query collectors; one admin account
  * deploys everything) over a store preloaded
  * with `Docs` documents and compacted, with background compaction on.
  * An open loop at fixed rates drives document ingest over a skewed id
  * space (so some ingests are updates), event pushes, Datalog query GETs
  * and a periodic processor hot-swap. Every answer is checked: query
  * results exactly, acknowledged writes for read-your-writes, and every
  * pushed event for delivery to the sink exactly once. One explicit
  * compaction runs inside the timed window. The traffic keeps clear of
  * the program's known races (README, "Known defects"): event pushes go
  * one at a time, since concurrent pushes into a MemoryIO topic can
  * corrupt each other's events; the compaction waits for the store reads
  * in flight (query GETs, probes) and holds new ones back, since a query
  * GET beside it can fail with FILE_NOT_EXIST; the swap holds the pushes
  * back and waits until the streams have taken in every pushed event,
  * before its request and after it, since a swap that stops a sink with a
  * micro-batch in flight can deliver that batch twice. Ingests, which only
  * append, run on. */
object Serve {
  val Docs = 20000
  val Cats = 20
  val WriteIds = 200
  /** Requests per second: chosen, not taken from a production trace. Each
    * run measures where the window's CPU goes under them (cpu.*_share; see
    * the README), and the query rate is high enough that the Datalog
    * doors are a large part of it. */
  val IngestRate = 1.0
  val PushRate = 6.0
  val QueryRate = 1.0
  /** Traffic at the same rates before the timed window, checked but not
    * timed, so the window starts with the serving paths compiled. The
    * hot-swap happens here, early enough that delivery has resumed when
    * the window opens: one swap inside a short window moved the tail
    * percentile by a third from seed to seed. Its cost is reported on its
    * own (registry.swap_ms, registry.swap_gap_ms). */
  val WarmupSeconds = 4
  val SwapAtSeconds = 1.0
  val ClientThreads = 4
  val SetupReps = 3

  private implicit val fmts: Formats = DefaultFormats

  final case class Door(name: String, edn: String, fields: Seq[(String, String)]) {
    def spec: String = Json.write(Map("name" -> name, "path" -> s"/app/$name",
      "handler" -> Map("kind" -> "query", "edn" -> edn,
        "fields" -> scala.collection.immutable.ListMap(fields: _*))))
    def schema: StructType = StructType(fields.map { case (n, t) =>
      StructField(n, if (t == "long") LongType else StringType) })
  }

  val Agg = Door("q-agg", "{:find [?c (count ?e) (sum ?p)] :where [[?e :cat ?c] [?e :price ?p]]}",
    Seq("cat" -> "string", "price" -> "long"))
  val Pred = Door("q-pred", "{:find [?e ?p] :where [[?e :price ?p] [(>= ?p 995)]]}",
    Seq("price" -> "long"))
  val Join = Door("q-join",
    "{:find [?e ?c] :where [[?e :price ?p] [(< ?p 3)] [?e :ref ?r] [?r :cat ?c]]}",
    Seq("price" -> "long", "ref" -> "string", "cat" -> "string"))
  val Writes = Door("q-writes", "{:find [?e ?v] :where [[?e :wver ?v]]}", Seq("wver" -> "long"))
  val Doors = Seq(Agg, Pred, Join, Writes)

  private def nodeSpec(map: String): String =
    s"""{"name":"stream/process","upstream":["kafka/input"],"transducer":{"map":"TRY_CAST(value AS DOUBLE) $map"},"buffer":100}"""

  final class Deployment(val app: GraftApp, val io: MemoryIO, val base: String, val token: String) {
    val non2xx = new java.util.concurrent.atomic.AtomicLong
    def call(method: String, path: String, body: Option[String] = None): (Int, String) = {
      val r = Http.call(method, base + path, body, Some(token))
      if (r._1 / 100 != 2) non2xx.incrementAndGet()
      r
    }
  }

  /** A preloaded document: (id, cat, price, ref). */
  final case class Doc(id: String, cat: String, price: Long, ref: String) {
    def json: String = s"""{"cat":"$cat","price":$price,"ref":"$ref"}"""
  }

  def preload(seed: Long): IndexedSeq[Doc] = {
    val r = new java.util.Random(seed ^ 0x5DEECE66DL)
    (0 until Docs).map(i => Doc(s"p$i", s"c${r.nextInt(Cats)}", r.nextInt(1000).toLong,
      s"p${r.nextInt(Docs)}"))
  }

  /** Exact answers of the three read doors over the preload, as sorted rows. */
  def expected(docs: IndexedSeq[Doc]): Map[String, Seq[List[String]]] = {
    val byId = docs.map(d => d.id -> d).toMap
    Map(
      Agg.name -> docs.groupBy(_.cat).toSeq.map { case (c, ds) =>
        List(c, ds.size.toString, ds.map(_.price).sum.toString) },
      Pred.name -> docs.filter(_.price >= 995).map(d => List(d.id, d.price.toString)),
      Join.name -> docs.filter(_.price < 3).map(d => List(d.id, byId(d.ref).cat))
    ).map { case (k, v) => k -> v.sortBy(_.mkString("\u0000")) }
  }

  private def rows(json: String): Seq[List[String]] =
    JsonMethods.parse(json) match {
      case JArray(rs) => rs.map {
        case JObject(fs) => fs.map {
          case (_, JString(s)) => s
          case (_, JInt(i)) => i.toString
          case (_, JLong(l)) => l.toString
          case (_, JDouble(d)) if d == math.rint(d) => d.toLong.toString
          case (_, v) => JsonMethods.compact(JsonMethods.render(v))
        }
        case other => throw new IllegalStateException(s"row is not an object: $other")
      }
      case other => throw new IllegalStateException(s"result is not an array: $other")
    }

  /** Block until every running streaming query has taken in all its input
    * and the set of running queries has stopped changing (a swap restarts
    * sinks, and the control plane restarts them once more). One round may
    * end early: processAllAvailable can return on a trigger that began
    * before the latest input arrived. So the set must hold over two whole
    * rounds in a row. */
  def drainStreams(spark: org.apache.spark.sql.SparkSession): Unit = {
    def round(): Set[java.util.UUID] = {
      spark.streams.active.foreach(_.processAllAvailable())
      spark.streams.active.map(_.runId).toSet
    }
    var last = round()
    var now = round()
    while (now != last) { last = now; now = round() }
  }

  /** Boot → register → login → grant → deploy → preload → compact, the
    * quickstart's order, on a fresh store under `dir`. */
  def setUp(ctx: Ctx, dir: java.nio.file.Path, docs: IndexedSeq[Doc]): Deployment = {
    var tl = ctx.clock.now()
    def lap(what: String): Unit = { val t = ctx.clock.now(); ctx.log(f"  $what ${(t - tl) / 1e9}%.2f"); tl = t }
    val io = new MemoryIO(ctx.spark)
    val app = GraftApp(ctx.spark, dir.resolve("db").toString, io, new FunctionRegistry,
      authSecret = Some("perfbench-secret")).start()
    try {
      val base = s"http://localhost:${app.collectors.port}"
      def post(path: String, body: String, tok: Option[String], want: Int): String = {
        val (code, text) = Http.call("POST", base + path, Some(body), tok)
        require(code == want, s"set-up POST $path: $code $text (wanted $want)")
        text
      }
      def token(text: String): String = (JsonMethods.parse(text) \ "token").extract[String]
      lap("boot")
      // the first account is the admin, whose token opens the /dev planes
      post(GraftApp.registerPath, """{"user":"root","pass":"R00T_PW"}""", None, 201)
      val dev = Some(token(post(GraftApp.loginPath, """{"user":"root","pass":"R00T_PW"}""", None, 200)))
      lap("auth")
      post("/dev/stream/create", """{"name":"kafka/input"}""", dev, 201)
      post("/dev/stream/create", nodeSpec("+ 1"), dev, 201)
      post("/dev/stream/create", """{"name":"kafka/output","upstream":["stream/process"]}""", dev, 201)
      post("/dev/collector/create",
        """{"name":"events","path":"/app/events","handler":{"kind":"stream","node":"kafka/input"}}""", dev, 201)
      post("/dev/collector/create",
        """{"name":"add-doc","path":"/app/add-doc","handler":{"kind":"ingest","idField":"doc_id"}}""", dev, 201)
      lap("streams")
      Doors.foreach(d => post("/dev/collector/create", d.spec, dev, 201))
      lap("collectors")
      app.store.putAll(docs.map(d => d.id -> d.json))
      lap("preload")
      app.store.compact()
      lap("compact")
      app.store.startMaintenance()
      new Deployment(app, io, base, dev.get)
    } catch { case e: Throwable => app.stop(); throw e }
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val docs = preload(seed)
    val answers = expected(docs)

    var dep: Deployment = null
    val setup = (1 to SetupReps).map { r =>
      if (dep != null) dep.app.stop()
      val t0 = clock.now()
      dep = setUp(ctx, workDir.resolve(s"app-$r"), docs)
      val secs = (clock.now() - t0) / 1e9
      log(f"setup $r: $secs%.2f s")
      secs
    }
    val d = dep
    val store = d.app.store
    val failures = new ConcurrentLinkedQueue[String]()
    var checks = 0L

    // ---- schedule (all from the seed) -----------------------------------
    // warm-up traffic from w0, the timed window from t0
    val w0 = clock.now() + 500000000L
    val t0 = w0 + WarmupSeconds * 1000000000L
    val n = (rate: Double) => math.max(1, (rate * (WarmupSeconds + seconds)).toInt)
    val ingestDue = LoadGen.slots(rng, w0, IngestRate, n(IngestRate))
    val pushDue = LoadGen.slots(rng, w0, PushRate, n(PushRate))
    // the warm-up reads every door once, so no timed read compiles a plan
    // the JVM has not seen; timed reads follow at QueryRate
    val queryDue = Doors.indices.map(i => w0 + i * 500000000L) ++
      LoadGen.slots(rng, t0, QueryRate, math.max(Doors.size, (QueryRate * seconds).toInt))
    val swapDue = IndexedSeq(w0 + (SwapAtSeconds * 1e9).toLong)
    val writeIds = ingestDue.map(_ => { val u = rng.nextDouble(); (WriteIds * u * u * u).toInt })
    val pads = ingestDue.map(_ => rng.ints(60, 'a'.toInt, 'z'.toInt + 1)
      .toArray.map(_.toChar).mkString)
    val eventKeys = {
      val ks = (1 to pushDue.size).map(_.toLong).toBuffer
      scala.util.Random.javaRandomToRandom(rng).shuffle(ks).toIndexedSeq
    }
    val queryDoors = queryDue.indices.map(i => Doors(i % Doors.size))
    // one compaction somewhere in the middle of the timed window
    val compactDue = t0 + ((0.3 + 0.4 * rng.nextDouble()) * seconds * 1e9).toLong

    // ---- checks ----------------------------------------------------------
    // acknowledged writes: version -> (id, txTime, ack time, body bytes)
    val acked = new ConcurrentHashMap[Long, (String, Long, Long, Int)]()
    // read-your-writes observations: (sent time, id -> version seen)
    val reads = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()
    val pushSent = new ConcurrentHashMap[Long, java.lang.Long]()
    val arrivals = new ConcurrentHashMap[Long, java.lang.Long]()
    val duplicates = new java.util.concurrent.atomic.AtomicLong
    // the swap's own time: from its update request until the streams have
    // caught up after it, without the wait for quiet before it
    val swapMs = new ConcurrentLinkedQueue[Double]()

    // store reads share storeReads, and the compaction holds it alone;
    // pushes and the swap hold streamInput one at a time
    val storeReads = new java.util.concurrent.locks.ReentrantReadWriteLock(true)
    val streamInput = new java.util.concurrent.locks.ReentrantLock(true)
    def holding(lock: java.util.concurrent.locks.Lock)(op: Op): Op =
      op.copy(run = () => { lock.lock(); try op.run() finally lock.unlock() })

    def ingest(i: Int): Op = Op("ingest", ingestDue(i), () => {
      val id = s"w${writeIds(i)}"
      val ver = i.toLong + 1
      val body = s"""{"doc_id":"$id","wver":$ver,"wpad":"${pads(i)}"}"""
      val (code, text) = d.call("POST", "/app/add-doc", Some(body))
      if (code != 201) Some(s"ingest $id: $code $text")
      else {
        acked.put(ver, (id, (JsonMethods.parse(text) \ "txTime").extract[Long], clock.now(), body.length))
        None
      }
    })
    def push(i: Int): Op = Op("push", pushDue(i), () => {
      val k = eventKeys(i)
      pushSent.put(k, clock.now())
      val (code, text) = d.call("POST", "/app/events", Some((2 * k).toString))
      if (code != 202) Some(s"push $k: $code $text") else None
    })
    def query(i: Int): Op = {
      val door = queryDoors(i)
      Op(s"query:${door.name}", queryDue(i), () => {
        val sent = clock.now()
        val (code, text) = d.call("GET", s"/app/${door.name}")
        if (code != 200) Some(s"${door.name}: $code $text")
        else if (door == Writes) {
          reads.add((sent, rows(text).map(r => r(0) -> r(1).toLong).toMap)); None
        } else {
          val got = rows(text).sortBy(_.mkString("\u0000"))
          if (got == answers(door.name)) None
          else Some(s"${door.name}: ${got.size} rows differ from the ${answers(door.name).size} expected")
        }
      })
    }
    def swap(i: Int): Op = Op("swap", swapDue(i), () => {
      val spec = nodeSpec(if (i % 2 == 0) "* 2" else "+ 1")
      drainStreams(spark)
      val t = clock.now()
      val (code, text) = d.call("POST", "/dev/stream/update/process", Some(spec))
      drainStreams(spark)
      swapMs.add((clock.now() - t) / 1e6)
      if (code != 200) Some(s"swap: $code $text") else None
    })
    val compaction = Op("compact", compactDue, () => { store.compact(); None })
    // direct calls into the store and the Datalog compiler, traced run only
    def snapshotProbe(due: Long): Op = Op("probe.snapshot", due, () => {
      spans("store.snapshot_read")(store.db().count()); None
    })
    def datalogProbe(due: Long, door: Door): Op = Op(s"probe.datalog:${door.name}", due, () => {
      val df = spans("datalog.build")(store.qPublic(door.edn, door.schema))
        .fold(e => throw new IllegalStateException(e), identity)
      spans("datalog.plan")(df.queryExecution.executedPlan)
      spans("datalog.exec")(df.collect()); None
    })
    val probes =
      if (!trace) Nil
      else {
        // few enough that the probes barely add to the load being measured
        val snaps = LoadGen.slots(rng, t0, 0.1, math.max(1, seconds / 10)).map(snapshotProbe)
        val dl = LoadGen.slots(rng, t0, 0.2, math.max(3, seconds / 5))
          .zipWithIndex.map { case (due, i) => datalogProbe(due, Doors(i % 3)) }
        snaps ++ dl
      }

    val ops = ingestDue.indices.map(ingest) ++
      (pushDue.indices.map(push) ++ swapDue.indices.map(swap)).map(holding(streamInput)) ++
      (queryDue.indices.map(query) ++ probes).map(holding(storeReads.readLock())) :+
      holding(storeReads.writeLock())(compaction)

    // ---- sink watcher: arrival time of every event at kafka/output -------
    @volatile var watching = true
    val watcher = new Thread(() => {
      var seen = 0
      while (watching) {
        val out = d.io.collected("output")
        if (out.size > seen) {
          val now = clock.now()
          out.drop(seen).foreach { row =>
            val v = row.getAs[Double]("value")
            // +1 maps the pushed 2k to an odd number, *2 to a multiple of 4
            val k = if (v % 2 == 1) ((v - 1) / 2).toLong else if (v % 4 == 0) (v / 4).toLong else -1L
            if (k <= 0 || !pushSent.containsKey(k)) failures.add(s"sink: unexpected value $v")
            else if (arrivals.putIfAbsent(k, now) != null) {
              duplicates.incrementAndGet()
              failures.add(s"sink: event $k delivered more than once")
            }
          }
          seen = out.size
        }
        Thread.sleep(2)
      }
    }, "perfbench-sink-watcher")
    watcher.setDaemon(true)
    watcher.start()

    // ---- store watcher: fragmentation and compactions --------------------
    @volatile var filesMax = 0
    @volatile var compactions = 0
    val storeWatcher = new Thread(() => {
      var last = 0
      while (watching) {
        // a listing that meets a compaction's rename is skipped
        try {
          val f = store.fragmentation().values
          val total = f.sum
          filesMax = math.max(filesMax, if (f.isEmpty) 0 else f.max)
          if (total < last) compactions += 1
          last = total
        } catch { case scala.util.control.NonFatal(_) => () }
        Thread.sleep(250)
      }
    }, "perfbench-store-watcher")
    storeWatcher.setDaemon(true)
    storeWatcher.start()

    @volatile var c0: Map[String, Double] = null
    val windowStart = new Thread(() => {
      Thread.sleep(math.max(0L, (t0 - clock.now()) / 1000000L))
      c0 = probe.snapshot()
    }, "perfbench-window-start")
    windowStart.start()
    val gen = new LoadGen(clock, spans, ClientThreads)
    // warm-up samples stay in the record (checked, and the swap's delivery
    // gap needs them) under a "warm." kind the metrics leave out
    def phase(s: Sample): Sample =
      if (s.due < t0 && s.kind != "swap") s.copy(kind = "warm." + s.kind) else s
    val samples = gen.run(ops).map(phase)
    windowStart.join()
    val loopEnd = clock.now()
    val backlog = pushSent.size - arrivals.size
    probe.drain()
    val counters = Probe.delta(c0, probe.snapshot())

    log(f"timed: ${samples.size} requests in ${(loopEnd - t0) / 1e9}%.2f s, backlog $backlog")

    // drain the stream, then every pushed event must have arrived once
    val drainUntil = clock.now() + 30000000000L
    while (arrivals.size < pushSent.size && clock.now() < drainUntil) Thread.sleep(20)
    watching = false
    watcher.join(); storeWatcher.join()
    val deliveries = pushDue.indices.map { i =>
      val k = eventKeys(i)
      Option(arrivals.get(k)) match {
        case Some(at) => Sample("push_to_sink", pushDue(i), pushSent.get(k), at, None)
        case None => Sample("push_to_sink", pushDue(i), Option(pushSent.get(k)).map(_.longValue)
          .getOrElse(pushDue(i)), clock.now(), Some(s"event $k never reached the sink"))
      }
    }
    val delivered = deliveries.map(phase)

    // read-your-writes: a write acknowledged before a read was sent must be
    // visible to it (or superseded by a later commit of the same id)
    val ackedAll = acked.asScala.toMap
    reads.asScala.foreach { case (sent, seenVers) =>
      checks += 1
      val need = ackedAll.values.filter(_._3 < sent).groupBy(_._1).map { case (id, ws) => id -> ws.map(_._2).max }
      need.foreach { case (id, tx) =>
        val ok = seenVers.get(id).flatMap(v => ackedAll.get(v).map(_._2).orElse(Some(Long.MaxValue)))
          .exists(_ >= tx)
        if (!ok) failures.add(s"read-your-writes: $id at version ${seenVers.get(id)} misses tx $tx")
      }
    }
    // and at the end, each id shows its last committed write
    locally {
      import spark.implicits._
      val last = ackedAll.toSeq.groupBy(_._2._1).map { case (id, ws) => id -> ws.maxBy(_._2._2)._1 }
      val visible = store.db().filter("id LIKE 'w%'").select("id", "doc").as[(String, String)]
        .collect().map { case (id, doc) => id -> (JsonMethods.parse(doc) \ "wver").extract[Long] }.toMap
      last.foreach { case (id, ver) =>
        checks += 1
        if (!visible.get(id).contains(ver))
          failures.add(s"final state: $id shows ${visible.get(id)}, last acknowledged $ver")
      }
    }

    val storeBytes = java.nio.file.Files.walk(workDir.resolve(s"app-$SetupReps").resolve("db"))
      .iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => java.nio.file.Files.size(p)).sum
    val userBytes = docs.map(x => (x.id.length + x.json.length).toLong).sum +
      ackedAll.values.map(_._4.toLong).sum
    val heapMb = Probe.settledLiveHeapMb(probe)
    val batches = probe.batches.asScala.toSeq.filter(_.query.contains("output"))
    val dropped = DropMetrics.forSession(spark).droppedRows("stream/process")
    d.app.stop()

    Outcome(setup, samples ++ delivered, (checks, failures.asScala.toSeq), counters,
      Map(
        "heap_live_mb" -> heapMb,
        "store_files_max" -> filesMax,
        "store_compactions" -> compactions,
        "store_bytes_per_user_byte" -> storeBytes.toDouble / userBytes,
        "stream_batches" -> batches.map(b => Seq(b.triggerMs, b.planningMs, b.addBatchMs, b.rows)),
        "stream_dropped_rows" -> dropped,
        "stream_duplicates" -> duplicates.get,
        "swap_ms" -> swapMs.asScala.toSeq,
        "api_non2xx" -> d.non2xx.get,
        "stream_backlog_end" -> backlog),
      Map("docs" -> Docs, "write_ids" -> WriteIds,
        "rates_per_s" -> Map("ingest" -> IngestRate, "push" -> PushRate, "query" -> QueryRate),
        "warmup_s" -> WarmupSeconds, "client_threads" -> ClientThreads))
  }
}
