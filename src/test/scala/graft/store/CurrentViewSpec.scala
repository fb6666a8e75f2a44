package graft.store

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The current view's cost contract: once its base is built, a write
  * followed by a current read touches no version-log file, and the read's
  * plan carries no timestamp literal (so its generated code is the same
  * on every request). */
class CurrentViewSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(StructField("v", LongType)))

  test("a put then a Datalog query reads no version-log file, and the plan has no timestamp literal") {
    val store = DocumentStore(spark, Files.createTempDirectory("view").toString + "/db")
    val group = s"current-view-${System.nanoTime()}"
    val fileScans = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          stages.incrementAndGet()
          if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) fileScans.incrementAndGet()
        }
    }
    try {
      store.putAll((1 to 50).map(i => s"d$i" -> s"""{"v":$i}"""))
      val edn = "{:find [?e ?v] :where [[?e :v ?v] [(> ?v 10)]]}"
      assert(store.q(edn, schema).fold(fail(_), _.count()) == 40) // builds the base
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobGroup(group, "put then query")
      try {
        store.put("d51", """{"v":51}""")
        store.delete("d12")
        val df = store.q(edn, schema).fold(fail(_), identity)
        val got = df.as[(String, Long)].collect().toMap
        assert(got.size == 40 && got("d51") == 51L && !got.contains("d12"))
        val lits = store.db().queryExecution.optimizedPlan.flatMap(_.expressions
          .flatMap(_.collect { case l: Literal if l.dataType == TimestampType => l }))
        assert(lits.isEmpty, s"timestamp literals in the current read's plan: $lits")
      } finally spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.graft.DatasetBridge.drainListenerBus(spark)
      assert(stages.get() > 0, "the listener saw the put's and the query's stages")
      assert(fileScans.get() == 0,
        s"${fileScans.get()} stages scanned version-log files after a put")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      store.close()
    }
  }
}
