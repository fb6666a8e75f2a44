package graft.core

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

import graft.{SparkEntry, SparkSpec}
import graft.obs.Profile

/** `Tables` infers a fixture file's schema once per file version: later
  * reads of the same version start no Spark job while the DataFrame is
  * built, and a rewritten file, a changed inference conf or a directory
  * dataset still read exactly what a bare `spark.read.parquet` reads. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs started while `f` runs. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val p = Profile(spark)(f)
    (p.result.get, p.jobs.size)
  }

  /** Write `df` as one parquet file at `dir/name.parquet`, replacing any. */
  private def writeFile(df: DataFrame, dir: Path, name: String): Unit = {
    val stage = Files.createTempDirectory("tables-stage").resolve("out")
    df.coalesce(1).write.parquet(stage.toString)
    val part = Files.list(stage).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** An events file in the INT64 TIMESTAMP(NANOS) encoding the fixture
    * generator once shipped (Spark cannot write it): `(event_id, ts nanos)`. */
  private def writeNanosEvents(dir: Path, rows: Seq[(Long, Long)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val file = Files.createTempDirectory("tables-nanos").resolve("events.parquet")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toString))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, ts) => writer.write(groups.newGroup().append("event_id", id).append("ts", ts)) }
    finally writer.close()
    Files.move(file, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private val nanosRows = Seq(1L -> 1700000000123456789L, 2L -> 1700000001000000999L, 3L -> 1700003600999999000L)

  private def rows(df: DataFrame): Seq[Row] = df.orderBy(df.columns.head).collect().toSeq

  test("building a gate over fixtures read before starts no Spark job") {
    val dir = sf("sf0.001")
    for (name <- Seq("agg_min_max", "asof_history")) {
      val gate = SparkEntry.queries(name)
      val first = gate(spark, dir)
      val (df, jobs) = jobsDuring(gate(spark, dir))
      assert(jobs == 0, s"$name started $jobs job(s) while its DataFrame was built")
      assert(df.count() == first.count(), name)
      CacheRegistry.unpersistAll()
    }
  }

  test("a fixture rewritten at the same path is read with its new schema") {
    val dir = Files.createTempDirectory("tables-rewrite")
    writeFile(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir, "t")
    assert(Tables(spark, dir.toString, "t").columns.toSeq == Seq("id", "s"))
    writeFile(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "s", "x"), dir, "t")
    val again = Tables(spark, dir.toString, "t")
    assert(again.columns.toSeq == Seq("id", "s", "x"))
    assert(rows(again) == Seq(Row(1L, "a", 10.0), Row(2L, "b", 20.0), Row(3L, "c", 30.0)))
  }

  test("events.ts rewritten from nanos to micros at the same path is read with its new encoding") {
    val dir = Files.createTempDirectory("tables-events")
    writeNanosEvents(dir, nanosRows)
    assert(Tables.eventsRawTs(spark, dir.toString).schema("ts").dataType == LongType)
    val fromNanos = rows(Tables.events(spark, dir.toString))
    // µs truncation of each nanos instant
    assert(fromNanos == nanosRows.map { case (id, ns) =>
      Row(id, java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(ns / 1000 * 1000))) })
    writeFile(Tables.events(spark, dir.toString).withColumn("ts", col("ts").cast("timestamp_ntz")),
      dir, "events")
    assert(Tables.eventsRawTs(spark, dir.toString).schema("ts").dataType == TimestampNTZType)
    assert(rows(Tables.events(spark, dir.toString)) == fromNanos)
  }

  test("flipping an inference conf between reads gives each read the bare read's schema") {
    def sameAsBare(dir: String): Unit = {
      val bare = Try(spark.read.parquet(s"$dir/events.parquet").schema)
      val read = Try(Tables(spark, dir, "events").schema)
      assert(read.toOption == bare.toOption)
      assert(read.failed.toOption.map(_.getClass) == bare.failed.toOption.map(_.getClass))
    }
    def flipping(conf: String, dir: String): Unit = {
      val before = spark.conf.getOption(conf)
      try Seq("true", "false", "true").foreach { v => spark.conf.set(conf, v); sameAsBare(dir) }
      finally before.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
    }
    val nanos = Files.createTempDirectory("tables-flip")
    writeNanosEvents(nanos, nanosRows)
    flipping("spark.sql.legacy.parquet.nanosAsLong", nanos.toString)
    flipping("spark.sql.parquet.inferTimestampNTZ.enabled", sf("sf0.001"))
  }

  test("a directory dataset reads correctly and sees files added to it") {
    val dir = Files.createTempDirectory("tables-dir")
    val ds = dir.resolve("d.parquet").toString
    Seq((1L, "p"), (2L, "q")).toDF("id", "part").write.partitionBy("part").parquet(ds)
    val first = Tables(spark, dir.toString, "d")
    assert(first.columns.toSet == Set("id", "part"))
    assert(rows(first) == Seq(Row(1L, "p"), Row(2L, "q")))
    Seq((3L, "r")).toDF("id", "part").write.mode("append").partitionBy("part").parquet(ds)
    assert(rows(Tables(spark, dir.toString, "d")) == Seq(Row(1L, "p"), Row(2L, "q"), Row(3L, "r")))
  }

  test("reading events leaves a non-UTC session's confs alone and yields the UTC session's instants") {
    val la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val confs = Seq("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")
    val before = confs.map(la.conf.getOption)
    val dir = sf("sf0.001")
    val inLa = Tables.events(la, dir).select("event_id", "ts").orderBy("event_id").collect().toSeq
    Tables.eventsRawTs(la, dir).count()
    assert(confs.map(la.conf.getOption) == before)
    val inUtc = Tables.events(spark, dir).select("event_id", "ts").orderBy("event_id").collect().toSeq
    assert(inLa.nonEmpty && inLa == inUtc)
  }
}
