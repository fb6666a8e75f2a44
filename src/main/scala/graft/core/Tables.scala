package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * The reference stores documents in Crux (its own storage layer,
  * `/root/reference/src/dataworks/db/app_db.clj:19-26`); our storage layer is
  * columnar Parquet so Catalyst gets predicate pushdown + column pruning +
  * partition pruning for free (SURVEY.md §4). At 100 TB these reads are the
  * scan layer: filters/projections issued on the returned DataFrame reach the
  * parquet reader (verify via `.explain`'s PushedFilters/ReadSchema).
  *
  * A bare `spark.read.parquet` runs a one-task schema-inference job on every
  * call. A fixture file's schema is therefore inferred once per file version
  * (qualified path, length, modification time) and set of session confs that
  * change parquet inference, and passed to later reads, so building a
  * DataFrame over a fixture starts no job. Only the schema is reused: the
  * files are still listed on every read, so a rewritten fixture is seen at
  * once. A directory keeps the plain read, because its modification time
  * does not track the files inside it.
  */
object Tables {
  private val MaxFiles = 256

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Session confs whose values change what parquet schema inference yields. */
  private val InferenceConfs = Seq(
    NanosAsLong,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private case class FileVersion(path: String, length: Long, modified: Long)

  /** What the reads of one file version share: Spark's inferred schema per
    * set of inference conf values, and whether `ts` is INT64
    * TIMESTAMP(NANOS), read from the footer on first use. */
  private final class Known(footerNanosTs: () => Boolean) {
    val schemas = new java.util.concurrent.ConcurrentHashMap[Seq[Option[String]], StructType]()
    lazy val nanosTs: Boolean = footerNanosTs()
  }

  private val files = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[FileVersion, Known](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[FileVersion, Known]): Boolean = size > MaxFiles
    })

  /** The cache entry of the file at `path`; None for a directory, or a
    * path that does not exist. */
  private def known(spark: SparkSession, path: String): Option[Known] = {
    val p = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val status =
      try Some(p.getFileSystem(conf).getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    status.filter(_.isFile).map { st =>
      val key = FileVersion(st.getPath.toString, st.getLen, st.getModificationTime)
      files.synchronized {
        Option(files.get(key)).getOrElse {
          val k = new Known(() => footerNanosTs(st, conf))
          files.put(key, k)
          k
        }
      }
    }
  }

  private def footerNanosTs(st: org.apache.hadoop.fs.FileStatus,
                            conf: org.apache.hadoop.conf.Configuration): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      schema.containsField("ts") &&
        (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        })
    } finally reader.close()
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    known(spark, path) match {
      case None => spark.read.parquet(path) // a directory, or Spark's own missing-path error
      case Some(k) =>
        val confs = InferenceConfs.map(spark.conf.getOption)
        val schema = Option(k.schemas.get(confs)).getOrElse {
          val inferred = spark.read.parquet(path).schema
          k.schemas.put(confs, inferred)
          inferred
        }
        spark.read.schema(schema).parquet(path)
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** events with `ts` as a TIMESTAMP instant regardless of the fixture's
    * physical encoding. The driver has shipped two encodings: INT64
    * TIMESTAMP(NANOS) (Spark rejects it by default → read the physical
    * long via `nanosAsLong` and truncate to µs, exactly DuckDB's native
    * behavior) and plain TIMESTAMP(MICROS) without UTC adjustment (Spark
    * reads TIMESTAMP_NTZ → the wall-clock read as UTC, the instant DuckDB
    * sees, by a cast whose zone is fixed in the plan, so the session's
    * own zone never enters). Dispatching on the observed schema keeps
    * every downstream query byte-identical across fixture regenerations. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = eventsRawTs(s, d)
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", ColumnBridge.column(
        Cast(ColumnBridge.resolvableExpression(col("ts")), TimestampType, Some("UTC"))))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts has unexpected parquet encoding $other — " +
          "expected INT64(nanos), TIMESTAMP_NTZ, or TIMESTAMP; " +
          "extend Tables.events/tsAtMost before querying this fixture")
    }
  }

  /** events with `ts` in its RAW parquet-native form — the one predicates
    * push through to the scan. For the nanos-long encoding that's the
    * physical BIGINT (a predicate on the converted timestamp can't push
    * past `timestamp_micros(ts div 1000)`); for a native timestamp encoding
    * the column itself is pushable, so it's returned as stored. Callers
    * must build range literals via [[tsAtMost]] rather than assuming a
    * numeric type; ordering semantics are identical either way. Only a
    * file whose footer shows a nanos `ts` sets `nanosAsLong` on the
    * session: Spark's parquet scan reads that conf from the session when
    * the query runs, so it cannot be scoped to this read. */
  def eventsRawTs(s: SparkSession, d: String): DataFrame = {
    if (known(s, s"$d/events.parquet").exists(_.nanosTs)) s.conf.set(NanosAsLong, "true")
    apply(s, d, "events")
  }

  /** `ts <= instant` as a predicate in the column's native type, so the
    * comparison reaches the parquet reader (PushedFilters + row-group
    * min/max pruning) under any fixture encoding. */
  def tsAtMost(df: DataFrame, instant: java.time.Instant): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        // µs-truncation semantics: DuckDB sees nanos truncated to micros, so
        // an event at (cut, cut+999ns] IS included by the oracle. Widening the
        // raw-nanos bound by 999 matches that exactly and stays a pushable
        // long range (no sub-µs event can exist that DuckDB would exclude).
        col("ts") <= lit(instant.getEpochSecond * 1000000000L + instant.getNano + 999L)
      case TimestampNTZType =>
        col("ts") <= lit(java.time.LocalDateTime.ofInstant(instant, java.time.ZoneOffset.UTC))
      case TimestampType =>
        col("ts") <= lit(instant)
      case other => throw new IllegalStateException(
        s"events.ts has unexpected parquet encoding $other — see Tables.events")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
