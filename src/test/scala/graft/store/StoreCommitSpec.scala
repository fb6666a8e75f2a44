package graft.store

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

import graft.SparkSpec
import graft.obs.Profile
import graft.stream.StoreChanges

/** A driver-side commit (put, putAll, delete) writes its transaction file
  * on the driver: it starts no Spark job, and the file it leaves is laid
  * out as a write task lays out [[DocumentStore.putBatch]]'s — same
  * partition directory, parquet schema, timestamp encoding and codec. */
class StoreCommitSpec extends SparkSpec {

  private def newStore(session: SparkSession, tag: String): (DocumentStore, String) = {
    val path = Files.createTempDirectory(tag).toString + "/db"
    (DocumentStore(session, path), path)
  }

  /** Parquet data files under `path`, relative to it. */
  private def dataFiles(session: SparkSession, path: String): Set[String] = {
    val fs = new Path(path).getFileSystem(session.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(path))
    if (!fs.exists(root)) Set.empty
    else {
      val it = fs.listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(_.getName.endsWith(".parquet"))
        .map(p => root.toUri.relativize(p.toUri).getPath).toSet
    }
  }

  /** The one data file `f` adds under `path`. */
  private def added(session: SparkSession, path: String)(f: => Any): String = {
    val before = dataFiles(session, path)
    f
    val now = dataFiles(session, path) -- before
    assert(now.size == 1, s"expected one new transaction file, got $now")
    now.head
  }

  private def footer(session: SparkSession, file: Path) = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, session.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  test("put, putAll and delete start no Spark job") {
    val (store, _) = newStore(spark, "commit-jobs")
    try {
      store.put("warm", """{"v":0}""") // first-use class loading stays out of the count
      val commits = Profile(spark) {
        store.put("a", """{"v":1}""")
        store.putAll(Seq("b" -> """{"v":2}""", "c" -> """{"v":3}""", "b" -> """{"v":4}"""))
        store.delete("a")
        store.put("d", """{"v":5}""", Some(new Timestamp(store.now().getTime - 86400000L)))
      }
      commits.result.get
      assert(commits.jobs.isEmpty, s"driver-side commits started ${commits.jobs.size} Spark job(s)")
      import spark.implicits._
      assert(store.db().select("id", "doc").as[(String, String)].collect().toMap ==
        Map("warm" -> """{"v":0}""", "b" -> """{"v":4}""", "c" -> """{"v":3}""",
          "d" -> """{"v":5}"""))
    } finally store.close()
  }

  test("a commit file and a putBatch file agree on partition, footer schema, timestamp encoding and codec") {
    val la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    // within an hour of midnight in Los Angeles, the next day in UTC: winter
    // (UTC-8) and summer (UTC-7) time
    val cases = Seq(
      "2026-01-15T07:40:00Z" -> "valid_date=2026-01-14",
      "2026-07-01T06:20:00Z" -> "valid_date=2026-06-30")
    for (outputType <- Seq("INT96", "TIMESTAMP_MICROS")) {
      la.conf.set("spark.sql.parquet.outputTimestampType", outputType)
      val (store, path) = newStore(la, s"commit-layout-$outputType")
      try for ((instant, dir) <- cases) {
        val vf = Some(Timestamp.from(java.time.Instant.parse(instant)))
        val committed = added(la, path)(store.put(s"p-$instant", """{"v":1}""", vf))
        val batched = added(la, path)(
          store.putBatch(la.createDataFrame(Seq((s"b-$instant", """{"v":2}""")))
            .toDF("id", "doc"), vf))
        // both land in the current (first) generation's date partition
        assert(committed.split("/").take(2).toSeq == Seq("g=0", dir), s"$instant: commit in $committed")
        assert(batched.split("/").take(2).toSeq == Seq("g=0", dir), s"$instant: putBatch in $batched")
        assert(committed.split("/").last.startsWith("part-"))
        val (fc, fb) = (footer(la, new Path(path, committed)), footer(la, new Path(path, batched)))
        val (sc, sb) = (fc.getFileMetaData.getSchema, fb.getFileMetaData.getSchema)
        assert(sc == sb, s"$outputType: commit schema\n$sc\nputBatch schema\n$sb")
        assert(sc.getType(sc.getFieldIndex("validFrom")).asPrimitiveType.getPrimitiveTypeName ==
          (if (outputType == "INT96") org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96
           else org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64))
        val rowMeta = "org.apache.spark.sql.parquet.row.metadata"
        assert(fc.getFileMetaData.getKeyValueMetaData.get(rowMeta) ==
          fb.getFileMetaData.getKeyValueMetaData.get(rowMeta))
        def codecs(f: org.apache.parquet.hadoop.metadata.ParquetMetadata) =
          f.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
        assert(codecs(fc) == codecs(fb))
        // and both read back through the store
        assert(store.entity(s"p-$instant", vf.get).contains("""{"v":1}"""))
        assert(store.entity(s"b-$instant", vf.get).contains("""{"v":2}"""))
      } finally store.close()
    }
  }

  test("the change tail picks a commit up; a leftover hidden temp file is invisible everywhere") {
    import spark.implicits._
    val (store, path) = newStore(spark, "commit-tail")
    val (other, otherPath) = newStore(spark, "commit-ghost")
    val first = added(spark, path)(store.put("a", """{"v":1}"""))
    val sink = s"commit_tail_${System.nanoTime()}"
    val tail = StoreChanges.stream(spark, path).writeStream
      .format("memory").queryName(sink).start()
    try {
      // a crash mid-commit leaves the file under its hidden temp name: plant
      // a complete one, carrying a row no commit made
      val ghost = added(spark, otherPath)(other.put("ghost", """{"v":9}"""))
      Files.copy(java.nio.file.Paths.get(otherPath, ghost),
        java.nio.file.Paths.get(path, first.split("/").head, s".${ghost.split("/").last}.tmp"))
      tail.processAllAvailable()
      store.put("b", """{"v":2}""")
      tail.processAllAvailable()
      def tailed = spark.table(sink).select("id").as[String].collect().toSet
      assert(tailed == Set("a", "b"))
      def ids(df: org.apache.spark.sql.DataFrame) = df.select("id").as[String].collect().toSet
      assert(ids(store.db()) == Set("a", "b"))
      assert(ids(store.scanAsOf(store.now(), DocumentStore.MaxTxTime)) == Set("a", "b"))
      assert(ids(store.versions()) == Set("a", "b"))
      store.compact()
      assert(ids(store.versions()) == Set("a", "b"))
      assert(ids(store.scanAsOf(store.now(), DocumentStore.MaxTxTime)) == Set("a", "b"))
      assert(store.fragmentation().values.forall(_ == 1))
      tail.processAllAvailable()
      assert(tailed == Set("a", "b"))
    } finally {
      tail.stop()
      store.close()
      other.close()
    }
  }
}
