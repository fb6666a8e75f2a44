package graft.store

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.types._

import graft.SparkSpec

/** The complete Crux-equivalent loop: bitemporal puts + EDN Datalog queries
  * over snapshots, incl. as-of time travel — `query(valid-time, q)`
  * (`/root/reference/src/dataworks/db/user_db.clj:33-43`,
  * `/root/reference/doc/demo-app-1.org:273-285`). */
class StoreDatalogSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("role", StringType),
    StructField("level", LongType)))

  test("EDN datalog over the live store, with time travel") {
    val s = DocumentStore(spark, Files.createTempDirectory("sq").toString + "/db")
    s.putAll(Seq(
      "user/ada" -> """{"name":"ada","role":"admin","level":6}""",
      "user/bob" -> """{"name":"bob","role":"dev","level":4}""",
      "user/cid" -> """{"name":"cid","role":"dev","level":5}"""))
    val t1 = s.now()
    Thread.sleep(5)
    s.put("user/bob", """{"name":"bob","role":"admin","level":5}""") // promote bob

    // current snapshot: both admins
    val admins = s.q("""{:find [?n] :where [[?e :role "admin"] [?e :name ?n]]}""",
      schema).fold(fail(_), identity).as[String].collect().toSet
    assert(admins == Set("ada", "bob"))

    // as-of t1: only ada was admin (valid-time travel)
    val adminsT1 = s.q("""{:find [?n] :where [[?e :role "admin"] [?e :name ?n]]}""",
      schema, t1).fold(fail(_), identity).as[String].collect().toSet
    assert(adminsT1 == Set("ada"))

    // predicate + aggregate over the snapshot
    val got = s.q("""{:find [?r (count ?e)] :where [[?e :role ?r] [?e :level ?l] [(>= ?l 5)]]}""",
      schema).fold(fail(_), identity).as[(String, Long)].collect().toSet
    assert(got == Set(("admin", 2L), ("dev", 1L)))
  }

  test("putAll shares one tx-time; compact preserves the read view") {
    val s = DocumentStore(spark, Files.createTempDirectory("sc").toString + "/db")
    val tx = s.putAll((1 to 20).map(i => s"k$i" -> s"""{"i":$i}"""))
    (21 to 30).foreach(i => s.put(s"k$i", s"""{"i":$i}"""))
    assert(s.versions().select("txTime").distinct().count() == 11) // 1 batch + 10 singles
    assert(s.versions().filter(s"txTime = '$tx'").count() == 20)

    val before = s.db().orderBy("id").collect().toSeq
    val filesBefore = countParquetFiles(s)
    s.compact()
    val after = s.db().orderBy("id").collect().toSeq
    assert(before == after, "compaction must not change the read view")
    assert(countParquetFiles(s) < filesBefore,
      s"fewer files after compaction (${countParquetFiles(s)} vs $filesBefore)")
    // store still writable after compaction
    s.put("k31", """{"i":31}""")
    assert(s.entity("k31").isDefined)
  }

  /** Data files of the current generation (a compaction keeps the previous
    * generation on disk until the next one). */
  private def countParquetFiles(s: DocumentStore): Int = s.fragmentation().values.sum
}
