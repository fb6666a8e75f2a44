package graft
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.CacheRegistry
import graft.obs.Profile

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = session(cpus)
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
    // SPARK_GRAFT_BENCH_WARMUP=0 times a cold first pass (the scale ritual)
    val warmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    val (full, summary) = run(spark, queries, sfDir, warmup)
    println(full)
    println(summary)
    // The full line goes to SPARK_GRAFT_BENCH_OUT, else to the gitignored
    // bench_result.latest.json. Bench never writes the committed record
    // bench_result.json: a run replaces it only when someone records it
    // there on purpose (BASELINE.md), so a slow window cannot.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.latest.json")
    try Files.write(Paths.get(out), (full + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[bench] could not write $out: $e") }
    spark.stop()
  }

  /** Time each of `queries` once over `sfDir`, after one untimed pass over
    * all of them when `warmup` (JIT, codegen, footer caches and trained
    * models, so the timed pass measures the plan). Returns the two output
    * lines: the full per-query line, then the short summary line. */
  def run(spark: SparkSession, queries: Map[String, (SparkSession, String) => DataFrame],
          sfDir: String, warmup: Boolean): (String, String) = {
    if (warmup) queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      CacheRegistry.unpersistAll()
    }
    // 1-minute system load average, before the loop and at each gate's
    // start: a co-tenant spike shows at the gates it inflated
    def loadavg = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val load0 = loadavg
    val loop = Profile(spark)(queries.toSeq.map { case (name, fn) =>
      val load = loadavg
      val p = Profile(spark)(fn(spark, sfDir).count())
      p.result.failed.foreach(e => System.err.println(s"[bench] $name FAILED: ${e.getMessage}"))
      CacheRegistry.unpersistAll() // release per-query caches
      (name, load, p)
    })
    val gates = loop.result.get
    val total = gates.map(_._3.wallSec).sum
    // Plan facts (jobs, stages, tasks) are deterministic, and process cpu
    // and GC time move with the work done, while wall time on a shared
    // host swings 2× at unchanged plans. Together they tell a host
    // slowdown (wall up, cpu flat, cpu/wall down) from a plan regression.
    val cpuWallRatio = if (loop.cpuSec < 0 || loop.wallSec <= 0) -1.0
      else loop.cpuSec / loop.wallSec
    val failed = gates.collect { case (name, _, p) if p.result.isFailure => name }
    val errs =
      if (failed.isEmpty) ""
      else failed.sorted.map("\"" + _ + "\"").mkString(""","errors":[""", ",", "]")
    def s1(v: Double) = "%.2f".formatLocal(Locale.ROOT, v)
    def s3(v: Double) = "%.3f".formatLocal(Locale.ROOT, v)
    def obj(kv: Seq[(String, String)]) = kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val host = s""""cpus":${spark.sparkContext.defaultParallelism},"loadavg":${s1(load0)},"cpu_sec":${s1(loop.cpuSec)},"cpu_wall_ratio":${s1(cpuWallRatio)}"""
    // per-gate row, over the same timed call as "queries"
    val stats = obj(gates.map { case (name, load, p) =>
      name -> Seq(p.jobs.size.toString, p.stages.toString, p.tasks.toString, s1(load),
        s1(p.wallSec), s1(p.cpuSec), p.gcMs.toString).mkString("[", ",", "]")
    })
    val full = s"""{"metric":"total","value":${s3(total)},"unit":"sec",$host,"queries":${
      obj(gates.map { case (name, _, p) => name -> s3(p.wallSec) })
    },"job_stats_schema":["jobs","stages","tasks","loadavg","wall_s","cpu_s","gc_ms"],"job_stats":$stats$errs,"sf":"$sfDir","total_sec":${s3(total)}}"""
    // Readers that keep a bounded (~2000 char) tail of the output parse
    // its LAST line; the full line overflows that tail, and this one, with
    // the five heaviest gates, fits.
    val top5 = gates.sortBy(-_._3.wallSec).take(5)
    val summary = s"""{"metric":"total","value":${s3(total)},"unit":"sec","queries":${
      obj(top5.map { case (name, _, p) => name -> s3(p.wallSec) })
    },"n_queries":${gates.size},$host,"jobs":${loop.jobs.size},"stages":${loop.stages},"tasks":${loop.tasks}$errs,"sf":"$sfDir","total_sec":${s3(total)}}"""
    (full, summary)
  }

  /** The session every bench measurement runs in: `cpus` local cores and
    * as many shuffle partitions. */
  private[graft] def session(cpus: String): SparkSession =
    SparkSession.builder()
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
}
