package graft.store

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.obs.Profile

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
    try {
      store.putAll((1 to 50).map(i => s"d$i" -> s"""{"v":$i}"""))
      val edn = "{:find [?e ?v] :where [[?e :v ?v] [(> ?v 10)]]}"
      assert(store.q(edn, schema).fold(fail(_), _.count()) == 40) // builds the base
      val putThenQuery = Profile(spark) {
        store.put("d51", """{"v":51}""")
        store.delete("d12")
        val df = store.q(edn, schema).fold(fail(_), identity)
        val got = df.as[(String, Long)].collect().toMap
        assert(got.size == 40 && got("d51") == 51L && !got.contains("d12"))
        val lits = store.db().queryExecution.optimizedPlan.flatMap(_.expressions
          .flatMap(_.collect { case l: Literal if l.dataType == TimestampType => l }))
        assert(lits.isEmpty, s"timestamp literals in the current read's plan: $lits")
      }
      putThenQuery.result.get
      val stages = putThenQuery.jobs.flatMap(_.start.stageInfos)
      assert(stages.nonEmpty, "the query ran stages")
      val fileScans = stages.count(_.rddInfos.exists(_.name == "FileScanRDD"))
      assert(fileScans == 0, s"$fileScans stages scanned version-log files after a put")
    } finally store.close()
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
    try {
      store.put("a", """{"v":1}""")
      store.put("a", """{"v":2}""")
      store.put("b", """{"v":3}""")
      store.delete("b")
      assert(store.entity("b").isEmpty) // first-use class loading stays out of the count
      val entity = Profile(spark)(store.entity("a"))
      val entityTx = Profile(spark)(store.entityTx("a"))
      val matched = Profile(spark)(store.withTx(Seq(
        TxOp.Match("a", Some("""{"v":2}""")), TxOp.Put("c", """{"v":4}"""))))
      assert(entity.result.get == Some("""{"v":2}"""))
      assert(entityTx.result.get.isDefined)
      assert(matched.result.get.isDefined)
      // stages per job, by read: a shuffle would add a map stage (in its
      // own job under AQE) before the result stage
      val byRead = Map("entity" -> entity, "entityTx" -> entityTx, "withTx Match" -> matched)
        .map { case (name, p) => name -> p.jobs.map(_.stages) }
      assert(byRead == Map("entity" -> Seq(1), "entityTx" -> Seq(1), "withTx Match" -> Seq(1)),
        s"stages per job, by read: $byRead")
    } finally store.close()
  }
}
