package graft.obs

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.DatasetBridge

import graft.SparkSpec
import graft.query.datalog.EdnDatalog

/** `Profile` reports every job a call starts, including the jobs a callee
  * runs under a job group of its own, and returns the call's failure as
  * well as its result. */
class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("a Datalog :timeout query reports the jobs a global job-start listener sees over the same call") {
    val chain = (1 to 8).map(i => (s"n$i", if (i == 1) null else s"n${i - 1}"))
      .toDF("id", "manager")
    val boss = """{:find [?a ?b] :where [(boss ?a ?b)]
                   :rules [[(boss ?a ?b) [?a :manager ?b]]
                           [(boss ?a ?b) [?a :manager ?m] (boss ?m ?b)]]
                   :timeout 600000}"""
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val all = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { seen.add(e); () }
    }
    DatasetBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(all)
    // Profile drains the bus before it returns, so `all` has every event too
    val p = try Profile(spark)(EdnDatalog.run(chain, boss).fold(e => fail(e), _.count()))
      finally spark.sparkContext.removeSparkListener(all)
    assert(p.result.get == 7 * 8 / 2)
    assert(p.jobs.map(_.id) == seen.asScala.map(_.jobId).toSeq.sorted)
    assert(p.stages == seen.asScala.map(_.stageInfos.size).sum)
    assert(p.jobs.exists(_.property("spark.jobGroup.id").exists(_.startsWith("graft-timeout-"))),
      "the :timeout runs its jobs under its own job group")
    assert(p.jobs.forall(_.ms >= 0), "every job ended before the call returned")
  }

  test("a failing call returns its failure and the jobs it started; nested calls see their callees' jobs") {
    val rdd = spark.sparkContext.parallelize(1 to 10, 2)
    val failing = Profile(spark) { rdd.count(); throw new IllegalStateException("boom") }
    assert(failing.result.failed.get.getMessage == "boom")
    assert(failing.jobs.size == 1 && failing.tasks == 2)
    val outer = Profile(spark) { Profile(spark)(rdd.count()).jobs.size + rdd.count().toInt }
    assert(outer.result.get == 1 + 10)
    assert(outer.jobs.size == 2)
    assert(!spark.sparkContext.getJobTags().exists(_.startsWith("graft-profile-")),
      "no profile tag outlives its call")
  }
}
