package graft.query.datalog

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.DatasetBridge

import graft.SparkSpec

/** A recursive rule's fixpoint rounds are Spark jobs; they must run in the
  * caller's job group — the scope a `:timeout` cancels and per-group job
  * counts read — whichever query ran before in the same JVM. */
class RecursiveRuleJobGroupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(("e1", null), ("e2", "e1"), ("e3", "e2"), ("e4", "e3"))
    .toDF("id", "manager")

  /** odd/even manager-path parity: two mutually recursive rules. */
  private val mutual =
    """{:find [?a ?b]
        :where [(even ?a ?b)]
        :rules [[(odd ?a ?b) [?a :manager ?b]]
                [(odd ?a ?b) [?a :manager ?x] (even ?x ?b)]
                [(even ?a ?b) [?a :manager ?x] (odd ?x ?b)]]%s}"""

  private def evenPairs(d: org.apache.spark.sql.DataFrame, opts: String = "") =
    EdnDatalog.run(d, mutual.format(opts)).fold(e => fail(e), identity)
      .as[(String, String)].collect().toSet

  /** Job group of every fixpoint job (a stage named after Fixpoint.scala)
    * started while `body` runs under job group `group`. */
  private def fixpointJobGroups(group: String)(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.name.contains("Fixpoint.scala")))
          seen.add(Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
    }
    val sc = spark.sparkContext
    DatasetBridge.drainListenerBus(spark)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, s"RecursiveRuleJobGroupSpec $group")
    try { body; DatasetBridge.drainListenerBus(spark) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    seen.asScala.toSeq
  }

  // first in the suite: in a fresh JVM the timed query is the first
  // mutual-rule query, so no earlier query can have fixed where its
  // fixpoint jobs run
  test("a fired :timeout on a mutual query leaves later mutual queries runnable") {
    val chain = (1 to 48).map(i => (s"n$i", if (i == 1) null else s"n${i - 1}"))
      .toDF("id", "manager")
    // warm the session on a self-recursive rule over the same chain, so the
    // budget below is spent in fixpoint rounds rather than first-query JIT
    val boss = """{:find [?a ?b] :where [(boss ?a ?b)]
                   :rules [[(boss ?a ?b) [?a :manager ?b]]
                           [(boss ?a ?b) [?a :manager ?m] (boss ?m ?b)]]}"""
    assert(EdnDatalog.run(chain, boss).fold(e => fail(e), identity).count() == 47 * 48 / 2)
    // the 48-deep chain needs ~47 one-job rounds — far past a 700 ms budget
    val timed = EdnDatalog.run(chain, mutual.format(" :timeout 700"))
    assert(timed.left.exists(_.contains("timed out")), s"got $timed")
    assert(evenPairs(docs) == Set(("e3", "e1"), ("e4", "e2")))
  }

  test("every fixpoint job of a mutual-rule query runs in the caller's job group") {
    val want = Set(("e3", "e1"), ("e4", "e2"))
    for (group <- Seq("graft-group-a", "graft-group-b")) {
      val groups = fixpointJobGroups(group)(assert(evenPairs(docs) == want))
      assert(groups.nonEmpty, "the query should run fixpoint jobs")
      assert(groups.forall(_ == group), s"jobs outside $group: ${groups.filterNot(_ == group)}")
    }
  }
}
