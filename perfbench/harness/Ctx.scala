package perfbench

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the seeded generator, the clock,
  * tracing, the probe, the run's budget, and a scratch directory inside the
  * checkout. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
                     clock: Clock, spans: Spans, probe: Probe,
                     benchDir: java.nio.file.Path, workDir: java.nio.file.Path) {
  val rng = new java.util.Random(seed)
  def log(msg: String): Unit = System.err.println(f"[perfbench ${clock.now() / 1e9}%7.2fs] $msg")
}

/** A workload's raw outcome; run.py turns it into metrics. */
final case class Outcome(
    setupSeconds: Seq[Double],
    samples: Seq[Sample],
    /** Extra checked operations that are not timed samples (e.g. per-event
      * delivery checks): (attempted, failures). */
    checks: (Long, Seq[String]),
    /** Phase counters (Spark, CPU) over the timed window. */
    counters: Map[String, Double],
    /** Workload-specific raw facts for the per-layer metrics. */
    facts: Map[String, Any],
    info: Map[String, Any])
