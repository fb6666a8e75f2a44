package graft.store

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The current view's cost contract: once its base is built, a write
  * followed by a current read touches no version-log file, the read's
  * plan carries no timestamp literal (so its generated code is the same
  * on every request), and a query door parses no base doc. A point read
  * of the version log is one job with no shuffle. */
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

  test("a current door read parses only the delta: no JsonToStructs over the base's scan") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.execution.{LocalTableScanExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    def leaves(p: SparkPlan): Seq[SparkPlan] = nodes(p).filter(n => n.children.isEmpty &&
      !n.isInstanceOf[AdaptiveSparkPlanExec] && !n.isInstanceOf[QueryStageExec])
    val store = DocumentStore(spark, Files.createTempDirectory("view-typed").toString + "/db")
    try {
      store.putAll((1 to 50).map(i => s"d$i" -> s"""{"v":$i}"""))
      val edn = "{:find [?e ?v] :where [[?e :v ?v] [(> ?v 10)]]}"
      assert(store.qPublic(edn, schema).fold(fail(_), _.count()) == 40) // base + typed base
      store.put("d51", """{"v":51}""")
      store.put("d13", """{"v":1}""")
      store.delete("d12")
      for (df <- Seq(store.q(edn, schema), store.qPublic(edn, schema)).map(_.fold(fail(_), identity))) {
        val got = df.as[(String, Long)].collect().toMap
        assert(got.size == 39 && got("d51") == 51L && !got.contains("d12") && !got.contains("d13"))
        val plan = nodes(df.queryExecution.executedPlan)
        assert(plan.exists(_.isInstanceOf[RDDScanExec]), "the read scans the base")
        val parsing = plan.filter(_.expressions.exists(_.exists(_.isInstanceOf[JsonToStructs])))
        parsing.foreach(p => assert(leaves(p).forall(_.isInstanceOf[LocalTableScanExec]),
          s"from_json over the base's scan:\n$p"))
      }
    } finally store.close()
  }

  test("a point read runs one job with no shuffle stage: entity, entityTx and a withTx Match") {
    val store = DocumentStore(spark, Files.createTempDirectory("view-point").toString + "/db")
    val prefix = s"point-read-${System.nanoTime()}-"
    // stages per job, by read: a shuffle would add a map stage (in its
    // own job under AQE) before the result stage
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(prefix))
          .foreach(g => stages.add(g.stripPrefix(prefix) -> e.stageInfos.size))
    }
    def read[T](name: String)(f: => T): T = {
      spark.sparkContext.setJobGroup(prefix + name, name)
      try f finally spark.sparkContext.clearJobGroup()
    }
    try {
      store.put("a", """{"v":1}""")
      store.put("a", """{"v":2}""")
      store.put("b", """{"v":3}""")
      store.delete("b")
      assert(store.entity("b").isEmpty) // first-use class loading stays out of the count
      spark.sparkContext.addSparkListener(listener)
      assert(read("entity")(store.entity("a")) == Some("""{"v":2}"""))
      assert(read("entityTx")(store.entityTx("a")).isDefined)
      assert(read("withTx Match")(store.withTx(Seq(
        TxOp.Match("a", Some("""{"v":2}""")), TxOp.Put("c", """{"v":4}""")))).isDefined)
      org.apache.spark.sql.graft.DatasetBridge.drainListenerBus(spark)
      val byRead = stages.toArray(Array.empty[(String, Int)]).toSeq.groupBy(_._1).map {
        case (name, jobs) => name -> jobs.map(_._2) }
      assert(byRead == Map("entity" -> Seq(1), "entityTx" -> Seq(1), "withTx Match" -> Seq(1)),
        s"stages per job, by read: $byRead")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      store.close()
    }
  }
}
