package graft

import graft.obs.Profile

/** Forensic probe (guide §1): run one gate the way Bench does (warmup pass,
  * then a timed pass) and print one line per Spark JOB with its duration,
  * call site (its result stage's name) and description — the job-count
  * breakdown BenchStatsSpec budgets can't show.
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
    val p = Profile(spark)(fn(spark, sfDir).count())
    graft.core.CacheRegistry.unpersistAll()
    for (j <- p.jobs) {
      val site = j.start.stageInfos.maxBy(_.stageId).name
      val desc = j.property("spark.job.description").getOrElse("")
      println(f"[census] job ${j.id}%3d stages=${j.stages}%-2d tasks=${j.tasks}%-4d ${j.ms / 1000.0}%6.3fs $site%-40s $desc")
    }
    println(f"[census] $gate rows=${p.result.get} wall=${p.wallSec}%.3fs")
    spark.stop()
  }
}
