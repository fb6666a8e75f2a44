package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Process- and Spark-level counters, read from outside the program through
  * public listener and MXBean interfaces. Counters are cumulative; a phase
  * reads them with [[snapshot]] before and after and reports the difference.
  * Spark jobs and stream micro-batches are also recorded as spans, so
  * run.py can attribute them to the request that was open when they ran. */
final class Probe(spark: SparkSession, clock: Clock, spans: Spans) {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val oneTaskJobs = new AtomicLong
  private val jobNanos = new AtomicLong
  private val execCpuNanos = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val spillBytes = new AtomicLong
  private val schedDelayMs = new AtomicLong
  private val jobStarts = new ConcurrentHashMap[Int, (Long, String, Long)]()
  // executor CPU by the kind of job a stage ran for: a stream's, the
  // background poll's, or a request's (or a gate's)
  private val stageClass = new ConcurrentHashMap[Int, String]()
  private val execCpuByClass = new ConcurrentHashMap[String, AtomicLong]()

  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Probe.Batch]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // jobs no request caused: stream micro-batches (their thread carries
      // the query id) and the alert scheduler's poll (its call site)
      val stream = Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null)
      val poll = e.stageInfos.exists(_.name.contains("Alerts.scala"))
      // a store commit: the parquet append in DocumentStore
      val write = e.stageInfos.exists(_.name.startsWith("parquet at DocumentStore.scala"))
      val req = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.RequestKey)))
        .map(_.toLong).getOrElse(0L)
      val cls = if (stream) "stream" else if (poll) "background" else "request"
      e.stageInfos.foreach(s => stageClass.put(s.stageId, cls))
      jobStarts.put(e.jobId, (clock.fromEpochMs(e.time),
        if (stream) "spark.job.stream" else if (poll) "spark.job.poll"
        else if (write) "spark.job.write" else "spark.job", req))
      if (e.stageInfos.map(_.numTasks).sum == 1) oneTaskJobs.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (start, name, req) = Option(jobStarts.remove(e.jobId))
        .getOrElse((clock.fromEpochMs(e.time), "spark.job", 0L))
      val end = math.max(start, clock.fromEpochMs(e.time))
      jobs.incrementAndGet()
      jobNanos.addAndGet(end - start)
      spans.record(name, start, end, req)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        execCpuNanos.addAndGet(m.executorCpuTime)
        execCpuByClass.computeIfAbsent(stageClass.getOrDefault(e.stageId, "request"),
          _ => new AtomicLong).addAndGet(m.executorCpuTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        val i = e.taskInfo
        // the Spark UI's scheduler delay: task duration not spent running,
        // deserializing, serializing the result or fetching it
        val delay = (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L)
        schedDelayMs.addAndGet(math.max(0L, delay))
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
      val start = clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val b = Probe.Batch(Option(p.name).getOrElse(""), start, d("triggerExecution"),
        d("queryPlanning"), d("addBatch"), p.numInputRows)
      batches.add(b)
      spans.record("stream.batch", start, start + b.triggerMs * 1000000L, 0L)
    }
  })

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap still in use after a full collection: the memory the run keeps
    * live (stores, caches, stream state), independent of when the
    * collector happened to run. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Listener events are delivered asynchronously: drain the bus before a
    * snapshot so a phase's jobs are not counted in the next one. */
  def drain(): Unit = org.apache.spark.sql.graft.DatasetBridge.drainListenerBus(spark)

  private val threadBean = ManagementFactory.getThreadMXBean

  /** CPU time (ms) of each live thread, keyed `cpu.thread.<part>.<id>`
    * with the part of the system it serves, known by its name (run.py sums
    * the parts). Keyed by thread, so that a thread ending between two
    * snapshots drops out of their difference instead of making it negative.
    * Task threads are left out: their time is split by job kind from the
    * task metrics instead. */
  def threadCpuMs(): Map[String, Double] = {
    val ids = threadBean.getAllThreadIds
    ids.zip(threadBean.getThreadInfo(ids)).flatMap { case (id, info) =>
      val cpu = threadBean.getThreadCpuTime(id)
      if (info == null || cpu <= 0) None
      else Probe.threadGroup(info.getThreadName).map(g => s"cpu.thread.$g.$id" -> cpu / 1e6)
    }.toMap
  }

  /** CPU time (ms) of the JVM's own native threads, which the thread bean
    * does not list: the JIT compilers and the garbage collector (with the
    * VM thread that runs its safepoints). Read from /proc/self/task, keyed
    * `cpu.thread.<jit|gc>.<tid>`; empty where there is no /proc. */
  def nativeThreadCpuMs(): Map[String, Double] =
    try {
      val tasks = new java.io.File("/proc/self/task").listFiles()
      if (tasks == null) Map.empty
      else tasks.toSeq.flatMap { t =>
        try {
          val comm = Files.readString(t.toPath.resolve("comm")).trim
          Probe.nativeGroup(comm).map { g =>
            val stat = Files.readString(t.toPath.resolve("stat"))
            // the fields after the parenthesised command: utime and stime
            // are the 12th and 13th, in clock ticks of 10 ms
            val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
            s"cpu.thread.$g.n${t.getName}" -> (f(11).toLong + f(12).toLong) * 10.0
          }
        } catch { case _: Exception => None }
      }.toMap
    } catch { case _: Exception => Map.empty }

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble,
    "tasks" -> tasks.get.toDouble,
    "one_task_jobs" -> oneTaskJobs.get.toDouble,
    "job_ms" -> jobNanos.get / 1e6,
    "executor_cpu_ms" -> execCpuNanos.get / 1e6,
    "shuffle_bytes" -> shuffleBytes.get.toDouble,
    "spill_bytes" -> spillBytes.get.toDouble,
    "scheduler_delay_ms" -> schedDelayMs.get.toDouble,
    "gc_ms" -> gcMillis.toDouble,
    "process_cpu_ms" -> os.getProcessCpuTime / 1e6) ++
    execCpuByClass.asScala.map { case (k, v) => s"cpu.tasks.$k" -> v.get / 1e6 } ++
    threadCpuMs() ++ nativeThreadCpuMs()

  def jobCount: Long = jobs.get

}

object Probe {
  /** The least of three live-heap readings 200 ms apart: at any one instant
    * a background poll may hold a batch of rows, or the context cleaner may
    * not yet have released the last query's broadcasts. */
  def settledLiveHeapMb(probe: Probe): Double =
    (1 to 3).map { _ => Thread.sleep(200); probe.liveHeapMb() }.min

  /** The part of the system a thread serves, by its name: stream
    * micro-batch drivers, the collector's HTTP handlers (ingest, query and
    * push requests, and the driver side of their jobs), background
    * maintenance and alert polling, and the benchmark's own callers (on
    * registry these run the gates' driver side). Spark task threads are
    * None: [[Probe]] splits their time by job kind. */
  def threadGroup(name: String): Option[String] =
    if (name.startsWith("Executor task launch worker")) None
    else if (name.startsWith("stream execution thread")) Some("stream")
    else if (name.startsWith("graft-collector")) Some("request")
    else if (name.startsWith("graft-alerts") || name.startsWith("graft-store-maintenance")) Some("background")
    else if (name.startsWith("perfbench-client") || name == "main") Some("caller")
    else Some("other")

  /** The JIT compiler and garbage collector threads, by their native names. */
  def nativeGroup(comm: String): Option[String] =
    if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")) Some("jit")
    else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ") || comm == "VM Thread") Some("gc")
    else None

  /** Spark local property carrying the id of the request a thread serves. */
  val RequestKey = "perfbench.req"

  /** One stream micro-batch, from StreamingQueryListener progress. */
  final case class Batch(query: String, start: Long, triggerMs: Long, planningMs: Long,
                         addBatchMs: Long, rows: Long)

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}
