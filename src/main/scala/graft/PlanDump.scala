package graft
import java.nio.file.{Files, Paths}

/** Measurement tool (guide §1): dump `.explain("formatted")` for declared
  * queries to text files, so plan claims (Exchange counts, join strategies,
  * PushedFilters) are auditable without running Spark. Usage:
  *   runMain graft.PlanDump <outDir> <suffix> [q1,q2,...]
  * writes `<outDir>/<query>_<suffix>.txt` for each named query (all queries
  * when the list is omitted). It runs in Bench's session, so the dumped
  * plans are the ones the bench measures. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outDir = args.headOption.getOrElse("plans/r16")
    val suffix = if (args.length > 1) args(1) else "after"
    val names: Seq[String] =
      if (args.length > 2) args(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq
    val spark = Bench.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    // Execute through the noop sink FIRST (guide §1.4) so AQE finalizes:
    // the pre-execution explain is `isFinalPlan=false` and cannot show
    // ReusedExchange / AQEShuffleRead / runtime join rewrites — exactly
    // the facts plan claims cite. Disable with SPARK_GRAFT_PLAN_EXEC=0.
    val exec = sys.env.getOrElse("SPARK_GRAFT_PLAN_EXEC", "1") != "0"
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            if (exec)
              try df.write.format("noop").mode("overwrite").save()
              catch { case e: Throwable =>
                System.err.println(s"[plandump] $n exec failed (plan still dumped): ${e.getMessage}")
              }
            val plan = df.queryExecution.explainString(mode)
            Files.write(Paths.get(s"$outDir/${n}_$suffix.txt"),
              plan.getBytes("UTF-8"))
            System.err.println(s"[plandump] wrote ${n}_$suffix.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
          }
          graft.core.CacheRegistry.unpersistAll()
        case None =>
          System.err.println(s"[plandump] unknown query: $n")
      }
    }
    spark.stop()
  }
}
