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
  * (qualified path, length, modification time, and the session confs that
  * change parquet inference) and passed to later reads, so building a
  * DataFrame over a fixture starts no job. Only the schema is reused: the
  * files are still listed on every read, so a rewritten fixture is seen at
  * once. A directory keeps the plain read, because its modification time
  * does not track the files inside it.
  */
object Tables {
  private val MaxSchemas = 256

  /** Session confs whose values change what parquet schema inference yields. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private case class FileVersion(path: String, length: Long, modified: Long,
                                 confs: Seq[Option[String]])

  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[FileVersion, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[FileVersion, StructType]): Boolean = size > MaxSchemas
    })

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    status.filter(_.isFile) match {
      case None => spark.read.parquet(path) // a directory, or Spark's own missing-path error
      case Some(st) =>
        val key = FileVersion(st.getPath.toString, st.getLen, st.getModificationTime,
          InferenceConfs.map(spark.conf.getOption))
        val schema = Option(schemas.get(key)).getOrElse {
          val inferred = spark.read.parquet(path).schema
          schemas.put(key, inferred)
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
  /** events with `ts` normalized to a session-zone TIMESTAMP regardless of
    * the fixture's physical encoding. The driver has shipped two encodings:
    * INT64 TIMESTAMP(NANOS) (Spark rejects it by default → read the physical
    * long via `nanosAsLong` and truncate to µs, exactly DuckDB's native
    * behavior) and plain TIMESTAMP(MICROS) without UTC adjustment (Spark
    * reads TIMESTAMP_NTZ → cast to the session-zone type; Verify pins the
    * session zone to UTC so the wall-clock is the same instant DuckDB sees).
    * Dispatching on the observed schema keeps every downstream query
    * byte-identical across fixture regenerations. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ branch's cast is instant-correct only under a UTC session zone;
    // pin it here so every entrypoint (Verify, Bench, spark-submit on a
    // non-UTC machine) sees the same instants as the DuckDB oracle.
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
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
    * numeric type; ordering semantics are identical either way. */
  def eventsRawTs(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
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
