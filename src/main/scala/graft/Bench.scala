package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // instant semantics are defined UTC engine-wide (oracle parity for the
      // NTZ events encoding); Verify/tests pin it — Bench must too so a
      // spark-submit launch on a non-UTC machine measures the same plans
      .config("spark.sql.session.timeZone", "UTC")
      // Let AQE size post-shuffle partitions by bytes (advisory 64 MB), not
      // by cluster parallelism: Spark's own guidance for busy clusters, and
      // the right 100 TB posture — at bench scale it also stops KB-sized
      // shuffles from being scheduled as `cpus` near-empty tasks per stage.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // apply AQE partition coalescing INSIDE cached-plan materialization
      // too (off by default) — persisted signature/class tables otherwise
      // keep full-width KB-sized partitions and every scan pays the tasks
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Dev loop: SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run (driver
    // leaves it unset and always measures the full surface).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) System.err.println(
        s"[bench] WARNING: SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    val queries = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    // Warmup: one untimed pass over every query (JIT + codegen + parquet
    // footer caches), so timed numbers measure the PLAN, not first-run JVM
    // warmup — makes round-over-round comparisons meaningful. Disable with
    // SPARK_GRAFT_BENCH_WARMUP=0.
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") != "0")
      queries.foreach { case (_, fn) =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
        graft.core.CacheRegistry.unpersistAll()
      }
    // Per-query job/stage/task counts are recorded UNCONDITIONALLY: wall-clock
    // on a shared host swings ±2× with co-tenant load (BENCH_r09 read 1.84×
    // BENCH_r08 on identical code), but job/stage/task counts are
    // deterministic plan facts — they let a reader separate host noise from a
    // real plan regression without rerunning. SPARK_GRAFT_BENCH_STATS=1 just
    // adds the human-readable stderr lines.
    val statsStderr = sys.env.get("SPARK_GRAFT_BENCH_STATS").contains("1")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size.toLong)
        tasks.addAndGet(j.stageInfos.map(_.numTasks.toLong).sum)
      }
    })
    // Pre-flight load probe: 1-minute system loadavg before the timed loop.
    // On this 32-cpu box a loadavg near 0 means quiet; near/over 32 means the
    // wall-clock numbers are co-tenant-inflated. Recorded in every artifact.
    val loadavg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Process CPU time separates host slowdown from plan regression
    // without rerunning: identical job counts + flat CPU + inflated wall
    // = co-tenant/host; CPU inflated alongside wall = the plan really does
    // more work (the r11 wall doubled at identical job counts and the
    // question was unanswerable from the artifact alone).
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def processCpuNs: Long = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }
    // Host-speed canary: a fixed single-thread CPU kernel plus one fixed
    // tiny Spark job, measured immediately BEFORE and AFTER the timed loop.
    // r13's 289 s headline was pure driver-host degradation (767 jobs both
    // rounds, builder-local 75-86 s) and the artifact could not prove it by
    // itself — these two numbers let any reader divide host speed out of
    // the wall times without rerunning: cpu canary inflated → raw CPU
    // starvation; spark canary inflated beyond cpu's ratio → scheduler/
    // listener-path contention; both flat but walls inflated → I/O.
    def cpuCanary(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) { // fixed work: 200M xorshift64 rounds
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
      }
      if (x == 42L) System.err.println("canary") // defeat dead-code elim
      (System.nanoTime() - t0) / 1e9
    }
    def sparkCanary(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 2000000L, 1L, 8).selectExpr("sum(id * 2 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // Multi-thread CPU canary (r16): N threads each run the SAME fixed
    // kernel; the reported value is the wall until ALL finish. On an
    // idle many-core box this ≈ the single-thread canary; a co-tenant
    // occupying a fraction of the cores inflates it even when the
    // 1-thread canary stays at floor — exactly the gap observed when
    // five identical-plan full runs read 57.8–102 s, every one labeled
    // "quiet" by the single-thread canaries (wall +77% at cpu +13%,
    // threads waiting). The mt/st ratio feeds the window verdict below.
    // N = min(8, host cores) (ADVICE r16): 8 threads time-slicing a
    // ≤6-core host would read mt/st ≥ 1.6 on an IDLE box and
    // misclassify every window as cpu-loaded.
    val mtThreads = math.max(1,
      math.min(8, Runtime.getRuntime.availableProcessors))
    def cpuCanaryMt(threads: Int = mtThreads): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { i =>
        val t = new Thread(() => {
          var x = 0x9E3779B97F4A7C15L + i
          var k = 0
          while (k < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }
          if (x == 42L) System.err.println("canary")
        })
        t.setDaemon(true); t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    // Disk-bandwidth canary: write 64 MB to the shuffle-spill filesystem
    // (force=true fsync), read it back, delete. The CPU canary is blind to
    // the failure mode r15 forensics actually caught: thread stacks showed
    // 31/32 executor threads inside shuffle-spill copyFileStreamNIO while
    // identical-plan walls swung 50→250 s — co-tenant DISK contention,
    // invisible to loadavg and to a CPU-only canary. Quiet-window value on
    // this box ≈ 0.1–0.3 s; a 10× reading means wall times of
    // shuffle-heavy gates are I/O-window artifacts, not plan changes.
    // The canary must never kill the measurement run: spark.local.dir may
    // be a comma-separated list (valid Spark config — take the first
    // entry) or point at a missing directory (fall back to java.io.tmpdir);
    // any remaining I/O surprise returns -1.0 ("couldn't measure"), which
    // the window classifier below treats as unknown. (ADVICE r15)
    def diskCanary(): Double =
      try {
        val t0 = System.nanoTime()
        val configured = spark.sparkContext.getConf
          .get("spark.local.dir", System.getProperty("java.io.tmpdir"))
          .split(',').map(_.trim).filter(_.nonEmpty).headOption
          .getOrElse(System.getProperty("java.io.tmpdir"))
        val dir0 = java.nio.file.Paths.get(configured)
        val dir = if (java.nio.file.Files.isDirectory(dir0)) dir0
          else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
        val f = java.nio.file.Files.createTempFile(dir, "graft-disk-canary", ".bin")
        try {
          val chunk = java.nio.ByteBuffer.allocate(1 << 20)
          val ch = java.nio.channels.FileChannel.open(f,
            java.nio.file.StandardOpenOption.WRITE)
          try {
            var i = 0
            while (i < 64) { chunk.clear(); ch.write(chunk); i += 1 }
            ch.force(true)
          } finally ch.close()
          val in = java.nio.channels.FileChannel.open(f,
            java.nio.file.StandardOpenOption.READ)
          try {
            val buf = java.nio.ByteBuffer.allocate(1 << 20)
            var n = 0
            while (n >= 0) { buf.clear(); n = in.read(buf) }
          } finally in.close()
        } finally java.nio.file.Files.deleteIfExists(f)
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Exception =>
        System.err.println(s"[bench] disk canary failed (non-fatal): $e")
        -1.0
      }
    // JVM-wide accumulated GC time: the cpu/wall split alone can't tell
    // "the plan did more work" from "the heap was full and the collector
    // ate the gate" — a wall spike at flat jobs + flat cpu + fat gc_ms is
    // GC; flat gc_ms too means scheduler/IO. Per-gate deltas recorded below.
    def gcMillis: Long = {
      var t = 0L
      val it = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.iterator()
      while (it.hasNext) { val b = it.next(); val c = b.getCollectionTime; if (c > 0) t += c }
      t
    }
    sparkCanary() // untimed: pay range/agg codegen once so pre==post work
    val canaryCpuPre = cpuCanary()
    val canaryCpuMtPre = cpuCanaryMt()
    val canarySparkPre = sparkCanary()
    val canaryDiskPre = diskCanary()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // per-gate row: jobs, stages, tasks, loadavg-at-start, wall_s, cpu_s, gc_ms
    val qstats = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Long, Long, Double, Double, Double, Long)]
    val cpuLoop0 = processCpuNs
    val wallLoop0 = System.nanoTime()
    // snapshot the listener counters HERE, after the pre-loop canaries'
    // jobs have landed, so the headline totals are pure timed-loop deltas
    // (the canaries would otherwise inflate them round-over-round)
    org.apache.spark.sql.graft.DatasetBridge.drainListenerBus(spark)
    val (jobsLoop0, stagesLoop0, tasksLoop0) = (jobs.get, stages.get, tasks.get)
    val results = queries.map { case (name, fn) =>
      val (j0, s0, t0c) = (jobs.get(), stages.get(), tasks.get())
      // loadavg sampled at THIS query's start: a co-tenant spike mid-run
      // then shows up exactly at the queries it inflated, not as one
      // pre-flight number a reader has to hope held for the whole loop
      val loadQ = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      val gc0 = gcMillis
      val c0 = processCpuNs
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); () } catch { case e: Throwable =>
        // a crashed query must not masquerade as a fast one
        failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val cpuQ = if (c0 < 0) -1.0 else (processCpuNs - c0) / 1e9
      val gcQ = gcMillis - gc0
      graft.core.CacheRegistry.unpersistAll() // release per-query caches
      // listener events are delivered async — drain before sampling, or
      // this query's jobs get attributed to the next one
      org.apache.spark.sql.graft.DatasetBridge.drainListenerBus(spark)
      qstats(name) = (jobs.get - j0, stages.get - s0, tasks.get - t0c, loadQ, dt, cpuQ, gcQ)
      if (statsStderr) System.err.println(
        f"[bench-stats] $name%-24s ${dt}%6.2fs cpu=${cpuQ}%6.2fs gc=${gcQ}%4dms jobs=${jobs.get - j0}%-3d stages=${stages.get - s0}%-4d tasks=${tasks.get - t0c}%-5d")
      name -> dt
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val cpuLoopSec = if (cpuLoop0 < 0) -1.0 else (processCpuNs - cpuLoop0) / 1e9
    val wallLoopSec = (System.nanoTime() - wallLoop0) / 1e9
    // plan-fact totals = timed-loop DELTAS (snapshotted after the pre-loop
    // canaries, sampled before the post-loop canary) — neither canary's
    // jobs pollute the round-over-round job/stage/task comparison
    val (jobsTotal, stagesTotal, tasksTotal) =
      (jobs.get - jobsLoop0, stages.get - stagesLoop0, tasks.get - tasksLoop0)
    val canaryCpuPost = cpuCanary()
    val canaryCpuMtPost = cpuCanaryMt()
    val canarySparkPost = sparkCanary()
    val canaryDiskPost = diskCanary()
    // JVM-wide cpu/wall over the timed loop: on an otherwise-quiet 32-thread
    // box this sits well above 1 (parallel stages); host contention drags
    // WALL up at constant CPU, so the ratio FALLING round-over-round at
    // identical job counts reads as host, not plan
    val cpuWallRatio = if (cpuLoopSec < 0 || wallLoopSec <= 0) -1.0
      else cpuLoopSec / wallLoopSec
    val errs =
      if (failed.isEmpty) ""
      else failed.sorted.map("\"" + _ + "\"").mkString(""","errors":[""", ",", "]")
    def s1(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // per-query plan facts + start-of-query loadavg + the gate's own wall,
    // JVM process-CPU seconds, and GC milliseconds, all measured over the
    // SAME timed execution as the "queries" map (there is no second stats
    // pass): "name":[jobs,stages,tasks,loadavg,wall_s,cpu_s,gc_ms].
    // Schema is emitted alongside so the artifact self-describes.
    val statsJson = qstats.map { case (k, (j, s, t, l, w, c, g)) =>
      "\"" + k + "\":[" + j + "," + s + "," + t + "," + s1(l) + "," +
        s1(w) + "," + s1(c) + "," + g + "]"
    }.mkString("{", ",", "}")
    val statsSchema =
      """"job_stats_schema":["jobs","stages","tasks","loadavg","wall_s","cpu_s","gc_ms"]"""
    // host-speed canary block (seconds; fixed work → directly comparable
    // across rounds and hosts — divide a wall time by cpu_pre/0.XX to
    // normalize). Emitted in BOTH lines so even the truncated driver tail
    // keeps it.
    def s3c(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // Self-adjudicating window verdict (VERDICT r15 #4): classify the
    // measurement window FROM the canaries so a reader of the artifact
    // alone — driver, judge, next round's builder — can tell a host
    // artifact from a plan regression without archaeology. Thresholds are
    // this box's measured floors with headroom: cpu canary quiet ≈
    // 0.42-0.58 s (200M fixed xorshift rounds), disk canary quiet ≈
    // 0.1-0.5 s (64 MB write+fsync+read) — r15's starved official run
    // read 5.6-12.3 s disk at flat cpu. A canary that failed to measure
    // (-1) makes the window "unknown", never "quiet".
    val window: String = {
      val cpuMax = math.max(canaryCpuPre, canaryCpuPost)
      val diskMax = math.max(canaryDiskPre, canaryDiskPost)
      // mt/st ratio: N threads of the same fixed kernel vs 1. Idle box
      // ≈ 1.0–1.3 (scheduler jitter); a co-tenant using a fraction of
      // the cores pushes it past 1.6 while the 1-thread canary stays at
      // floor (measured: five identical-plan runs read 57.8–102 s, all
      // "quiet" under the old single-thread-only classifier). Each
      // window's mt pairs with ITS OWN st (ADVICE r16 — the old
      // max(mt)/min(st) mixed windows and overstated the ratio beyond
      // what either window measured); load in either window still trips
      // the verdict because we take the worse of the two ratios.
      val mtRatio = {
        def r(mt: Double, st: Double) = if (st <= 0 || mt <= 0) -1.0 else mt / st
        math.max(r(canaryCpuMtPre, canaryCpuPre), r(canaryCpuMtPost, canaryCpuPost))
      }
      if (canaryCpuPre < 0 || canaryDiskPre < 0 ||
          canaryCpuPost < 0 || canaryDiskPost < 0 ||
          canaryCpuMtPre < 0 || canaryCpuMtPost < 0) "unknown"
      else if (diskMax >= 1.0) "disk-starved"
      else if (cpuMax >= 0.9 || mtRatio >= 1.6) "cpu-loaded"
      else "quiet"
    }
    val canaryJson =
      s""""window":"$window","canary":{"cpu_pre":${s3c(canaryCpuPre)},"cpu_mt_pre":${s3c(canaryCpuMtPre)},"spark_pre":${s3c(canarySparkPre)},"disk_pre":${s3c(canaryDiskPre)},"cpu_post":${s3c(canaryCpuPost)},"cpu_mt_post":${s3c(canaryCpuMtPost)},"spark_post":${s3c(canarySparkPost)},"disk_post":${s3c(canaryDiskPost)}}"""
    // "cpus" in BOTH lines (VERDICT r16 #2): the committed record and the
    // driver tail must say which core count produced them — an 8-core
    // quiet run is not comparable to a 32-core record, and without the
    // field a reader cannot even tell they differ.
    def fmtLine(q: Map[String, String], tot: String) =
      s"""{"metric":"total","value":$tot,"unit":"sec","cpus":$cpus,"loadavg":${s1(loadavg)},"cpu_sec":${s1(cpuLoopSec)},"cpu_wall_ratio":${s1(cpuWallRatio)},$canaryJson,"queries":${
        q.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      },$statsSchema,"job_stats":$statsJson$errs,"sf":"$sfDir","total_sec":$tot}"""
    // The driver captures only a bounded TAIL (~2000 chars) of this process's
    // output and json-parses the LAST line it finds there. At 111 queries even
    // the 3-decimal full line (~3 KB) overflows that window and gets truncated
    // at the FRONT — r7/r8 both recorded parsed=null. So: full per-query line
    // FIRST (for humans and scrollback), then a compact summary line LAST —
    // total, count, the 5 heaviest queries — comfortably inside the window,
    // so the driver's parse always lands on a complete JSON object.
    def s3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v) // locale-proof decimal point
    println(fmtLine(results.map { case (k, v) => k -> s3(v) }.toMap, s3(total)))
    val top5 = results.toSeq.sortBy(-_._2).take(5)
    println(s"""{"metric":"total","value":${s3(total)},"unit":"sec","queries":${
      top5.map { case (k, v) => "\"" + k + "\":" + s3(v) }.mkString("{", ",", "}")
    },"n_queries":${results.size},"cpus":$cpus,"loadavg":${s1(loadavg)},"cpu_sec":${s1(cpuLoopSec)},"cpu_wall_ratio":${s1(cpuWallRatio)},$canaryJson,"jobs":$jobsTotal,"stages":$stagesTotal,"tasks":$tasksTotal$errs,"sf":"$sfDir","total_sec":${s3(total)}}""")
    // full precision to a file for round-over-round per-query comparison.
    // SPARK_GRAFT_BENCH_OUT redirects it — side measurements (the scale
    // ritual, subset probes) must not clobber the committed round artifact.
    // With no redirect, the run ALWAYS lands in bench_result.latest.json
    // (gitignored scratch) and is PROMOTED to the committed
    // bench_result.json only when the window verdict is "quiet" — r15's
    // driver run silently overwrote the committed 70 s quiet record with
    // a 558 s disk-starved artifact; now a degraded window can never
    // clobber a quiet record (VERDICT r15 #4).
    val fullLine =
      fmtLine(results.map { case (k, v) => k -> v.toString }.toMap, total.toString) + "\n"
    def writeTo(p: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(p), fullLine.getBytes("UTF-8"))
      catch { case e: Exception =>
        System.err.println(s"[bench] could not write $p: $e") }
    sys.env.get("SPARK_GRAFT_BENCH_OUT") match {
      case Some(explicit) => writeTo(explicit)
      case None =>
        writeTo("bench_result.latest.json")
        // promote only FULL-surface quiet runs whose CONFIG matches the
        // committed record's (VERDICT r16 #2): a quiet SPARK_GRAFT_BENCH_ONLY
        // subset must not replace the full-registry record, and a quiet
        // 8-core run must not overwrite a 32-core record (or another SF's) —
        // the r16 driver's local[8] leg did exactly that. A legacy record
        // without a "cpus" field (pre-r17 format) is upgradeable by any
        // quiet full run; from then on the config is pinned.
        val configMatches =
          recordConfigMatches(java.nio.file.Paths.get("bench_result.json"), cpus, sfDir)
        if (window == "quiet" && only.isEmpty && configMatches)
          writeTo("bench_result.json")
        else System.err.println(
          s"[bench] window=$window, subset=${only.nonEmpty}, configMatches=$configMatches — " +
            "NOT promoting to bench_result.json; full line at bench_result.latest.json")
    }
    spark.stop()
  }

  /** Whether the committed record at `record` was taken with this run's
    * `cpus` and `sfDir` (no record: nothing to protect). Fails CLOSED: a
    * record that cannot be read is never overwritten by a guess. */
  private[graft] def recordConfigMatches(record: java.nio.file.Path,
                                         cpus: String, sfDir: String): Boolean =
    !java.nio.file.Files.exists(record) || (try {
      val rec = new String(java.nio.file.Files.readAllBytes(record), "UTF-8")
      val cpusOk = """"cpus":(\d+)""".r.findFirstMatchIn(rec)
        .forall(_.group(1) == cpus)
      val sfOk = """"sf":"([^"]*)"""".r.findFirstMatchIn(rec)
        .forall(_.group(1) == sfDir)
      cpusOk && sfOk
    } catch { case _: Exception => false })
}
