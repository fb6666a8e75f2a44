package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point, started by run.py:
  *
  *   Main --workload <registry|serve> --seed <n> --seconds <s> --trace <0|1>
  *        --bench-dir <perfbench> --work-dir <scratch dir> --out <raw.json>
  *
  * Runs one workload in-process against the engine's public surface and
  * writes the raw outcome (samples, checks, counters) as JSON to `--out`,
  * plus spans to `<out>.spans.jsonl` when tracing. run.py computes and
  * prints the metrics. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "registry" -> Registry.run, "serve" -> Serve.run)

  /** Not a workload: the short untimed run whose loaded classes run.py
    * archives for class-data sharing. */
  val ClassesRun = "classes"

  /** Hard stop: a run that has not finished by then is killed, so a hang
    * cannot outlive the 180 s a run is allowed. */
  val DeadlineSeconds = 170

  /** The aggregate `cpu` line of /proc/stat (user … steal), when there is one. */
  def hostCpuTicks(): Option[IndexedSeq[Long]] =
    try {
      val f = new java.io.File("/proc/stat")
      if (!f.exists) None
      else Files.readAllLines(f.toPath).stream().filter(_.startsWith("cpu ")).findFirst()
        .map[Option[IndexedSeq[Long]]](l => Some(l.trim.split("\\s+").drop(1).take(8).map(_.toLong).toIndexedSeq))
        .orElse(None)
    } catch { case _: Exception => None }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val run = Workloads.getOrElse(workload,
      if (workload == ClassesRun) null else sys.error(s"unknown workload $workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val out = Paths.get(opt("out"))

    val watchdog = new Thread(() => {
      try { Thread.sleep(DeadlineSeconds * 1000L); System.err.println("[perfbench] deadline"); Runtime.getRuntime.halt(3) }
      catch { case _: InterruptedException => () }
    }, "perfbench-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()

    val clock = new Clock
    val cpus = "4"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("work-dir"))
      .config("spark.sql.warehouse.dir", Paths.get(opt("work-dir"), "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (run == null) {
      // the build's class-data dump: load what every run loads, then exit
      // normally so that the JVM writes the archive
      val gate = Registry.Gates.head
      graft.SparkEntry.queries(gate)(spark, Paths.get(opt("bench-dir"), "data/sf0.001").toString).collect()
      spark.stop()
      System.exit(0)
    }
    val spans = new Spans(trace, clock)
    spans.onRequest = r =>
      spark.sparkContext.setLocalProperty(Probe.RequestKey, if (r == 0L) null else r.toString)
    val probe = new Probe(spark, clock, spans)
    val ctx = Ctx(spark, seed, seconds, trace, clock, spans, probe,
      Paths.get(opt("bench-dir")), Paths.get(opt("work-dir")))
    ctx.log(s"spark up; workload $workload seed $seed seconds $seconds trace $trace")
    val loadStart = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val cpuStart = hostCpuTicks()

    // a failed run ends the JVM at once: Spark's own threads would keep it
    // alive until the watchdog fired
    val o = try run(ctx) catch {
      case e: Throwable => e.printStackTrace(); Runtime.getRuntime.halt(1); throw e
    }

    val loadEnd = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // share of the host's CPU time the hypervisor gave to other guests
    // during the run: latency moves with it while process CPU does not
    val steal = (cpuStart, hostCpuTicks()) match {
      case (Some(a), Some(b)) if b.sum > a.sum =>
        (b(7) - a(7)).toDouble / (b.sum - a.sum)
      case _ => -1.0
    }
    if (trace) spans.writeTo(Paths.get(out.toString + ".spans.jsonl"))
    val raw = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "setup_s" -> o.setupSeconds,
      "samples" -> o.samples.map(s => Seq(s.kind, s.due, s.sent, s.done, s.error.getOrElse(""))),
      "checks" -> Map("attempted" -> o.checks._1, "failures" -> o.checks._2),
      "counters" -> o.counters,
      "facts" -> o.facts,
      "trace_recorder_ms" -> spans.recorderMillis,
      "span_count" -> spans.count,
      "info" -> (o.info ++ Map("seed" -> seed, "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_cpus" -> cpus.toInt, "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
        "host_steal_share" -> steal)))
    Files.writeString(out, Json.write(raw))
    spark.stop()
    watchdog.interrupt()
    System.exit(0)
  }
}
