package graft

/** Forensic probe (guide §1): run one gate the way Bench does (warmup pass,
  * then a timed pass) and print one line per Spark JOB with its callsite +
  * description — the job-count breakdown BenchStatsSpec budgets can't show.
  * Usage: Test/runMain graft.JobCensus <gate> [sfDir] [cpus]
  */
object JobCensus {
  def main(args: Array[String]): Unit = {
    val gate = if (args.nonEmpty) args(0) else "datalog_pull_recursive"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2) else "32"
    val spark = Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(gate)
    // warmup (bench parity: models/staged artifacts/JIT amortized)
    try fn(spark, sfDir).count() catch { case e: Throwable =>
      System.err.println(s"[census] warmup failed: ${e.getMessage}") }
    graft.core.CacheRegistry.unpersistAll()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobStart.put(j.jobId, j.time)
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobs.add(f"job ${j.jobId}%3d stages=${j.stageInfos.size}%-2d tasks=${j.stageInfos.map(_.numTasks).sum}%-4d $site%-40s $desc")
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val dt = Option(jobStart.get(e.jobId)).map(t => (e.time - t) / 1000.0).getOrElse(-1.0)
        jobs.add(f"  end ${e.jobId}%3d ${dt}%6.3fs")
      }
    })
    val t0 = System.nanoTime()
    val n = fn(spark, sfDir).count()
    val dt = (System.nanoTime() - t0) / 1e9
    graft.core.CacheRegistry.unpersistAll()
    org.apache.spark.sql.graft.DatasetBridge.drainListenerBus(spark)
    jobs.forEach(l => println(s"[census] $l"))
    println(f"[census] $gate rows=$n wall=${dt}%.3fs")
    spark.stop()
  }
}
