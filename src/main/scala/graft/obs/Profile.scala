package graft.obs

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.DatasetBridge

/** What one call did: its result or failure, the Spark jobs it started,
  * and its wall, process-cpu and GC time. */
final case class Profile[T](result: Try[T], jobs: Seq[Profile.Job],
                            wallSec: Double, cpuSec: Double, gcMs: Long) {
  def stages: Int = jobs.map(_.stages).sum
  def tasks: Int = jobs.map(_.tasks).sum
}

object Profile {

  /** One job the call started: its start event and how long it ran
    * (-1 ms if it had not ended when the call returned). */
  final case class Job(start: SparkListenerJobStart, ms: Long) {
    def id: Int = start.jobId
    def stages: Int = start.stageInfos.size
    def tasks: Int = start.stageInfos.map(_.numTasks).sum
    def property(key: String): Option[String] =
      Option(start.properties).flatMap(p => Option(p.getProperty(key)))
  }

  /** Run `body` and profile it. Its jobs are the ones carrying a job tag
    * set for this call only. The tag reaches every thread Spark starts for
    * the call (broadcasts, subqueries, AQE stages), as a job group would;
    * unlike a job group, a callee that sets its own group (a Datalog
    * `:timeout`) does not hide its jobs. Nested calls each see their own
    * and their callees' jobs. Returns once the listener bus has delivered
    * the call's events. */
  def apply[T](spark: SparkSession)(body: => T): Profile[T] = {
    val sc = spark.sparkContext
    val tag = s"graft-profile-${java.util.UUID.randomUUID()}"
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val ends = TrieMap.empty[Int, Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(',').contains(tag))) starts.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.update(e.jobId, e.time)
    }
    sc.addSparkListener(listener)
    try {
      val (gc0, cpu0, t0) = (gcMs(), cpuNs(), System.nanoTime())
      sc.addJobTag(tag)
      val result = try Try(body) finally sc.removeJobTag(tag)
      val wallSec = (System.nanoTime() - t0) / 1e9
      val cpuSec = if (cpu0 < 0) -1.0 else (cpuNs() - cpu0) / 1e9
      val gc = gcMs() - gc0
      DatasetBridge.drainListenerBus(spark)
      val jobs = starts.asScala.toSeq.sortBy(_.jobId).map { s =>
        Job(s, ends.get(s.jobId).fold(-1L)(_ - s.time))
      }
      Profile(result, jobs, wallSec, cpuSec, gc)
    } finally sc.removeSparkListener(listener)
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}
