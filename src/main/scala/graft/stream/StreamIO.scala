package graft.stream

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** External-stream abstraction behind the topology (S7/S8, SURVEY.md §2.1).
  *
  * The normalized message row mirrors `consume-record`
  * (`/root/reference/src/dataworks/utils/kafka.clj:93-100`):
  * `(key STRING, value STRING, ts TIMESTAMP, topic STRING)` — payloads ride
  * as JSON text (EDN topics go through the `edn_to_json` UDF, S10).
  */
trait StreamIO {
  def spark: SparkSession
  /** Source streaming DataFrame for an external topic. `rateLimit` maps the
    * node's fixed-buffer bound (T7) to source backpressure
    * (`maxOffsetsPerTrigger` for Kafka) — sliding/dropping buffers have no
    * Structured Streaming analog and degrade to the same rate limit
    * (documented divergence, SURVEY.md §2.3 T8/T9). */
  def source(topic: String, rateLimit: Option[Long] = None): DataFrame
  /** Start a sink writing `df` to an external topic. `checkpointName` keys
    * the checkpoint directory; a hot-swap restart under the SAME name
    * resumes at the committed offsets. [[StreamManager]] derives it from
    * the plan's stateful signature (SURVEY.md §7.4 risk 2): stateless plans
    * reuse the plain query name forever, stateful plans embed a signature
    * hash so an incompatible state shape never meets an old checkpoint. */
  def sink(topic: String, df: DataFrame, queryName: String,
           checkpointName: String): StreamingQuery
  /** Stateless default: checkpoint keyed by the query name itself. */
  final def sink(topic: String, df: DataFrame, queryName: String): StreamingQuery =
    sink(topic, df, queryName, queryName)
  /** T16 `stream!`: push one message into a node/topic by name from any
    * stored function. */
  def publish(topic: String, key: String, value: String): Unit
  /** Durable checkpoint dir for the control-plane subscriber, when the IO
    * has durable offsets worth resuming across restarts (Kafka) — a temp
    * checkpoint over `startingOffsets=latest` would permanently drop any
    * broadcast landing while the subscriber is down. None → temp
    * (MemoryIO offsets are process-scoped anyway). */
  def controlCheckpoint(queryName: String): Option[String] = None
  /** S9: ensure the topic exists before wiring (AdminClient for Kafka). */
  def ensureTopic(topic: String): Unit
  /** One-time checkpoint adoption: earlier releases escaped query names
    * with a plain '/'→'_' (non-injective), so the current injective scheme
    * ('/'→"_s", '_'→"_u") renames every existing checkpoint directory — an
    * upgraded deployment would silently abandon its committed offsets and
    * reprocess or skip data. Called before each query start: if a
    * checkpoint exists under `legacyName` and none under `currentName`,
    * adopt (rename) it — but only when its committed offsets are
    * consistent with `expectedSources` (the adopting query's source
    * topics): a legacy dir left behind by a PRIOR topology shape must not
    * hand its offsets to a query with different semantics. Default
    * no-op — MemoryIO checkpoints are process-scoped temp dirs that never
    * saw the legacy scheme. */
  def migrateCheckpoint(legacyName: String, currentName: String,
                        expectedSources: Set[String] = Set.empty): Unit = ()
}

/** Kafka-backed IO (S7-S9). Requires the spark-sql-kafka connector +
  * kafka-clients on the runtime classpath (not shipped in this build env,
  * so this class is exercised in prod deployments, MemoryIO in tests).
  *
  * Options mirror the reference consumer/producer settings where they make
  * sense under Structured Streaming: `startingOffsets=latest` matches
  * `auto.offset.reset=latest` (`kafka.clj:84-88`); offset tracking moves
  * from Kafka auto-commit (at-most-once-ish, `kafka.clj:108-109`) to the
  * checkpoint (at-least-once) — an intentional upgrade (SURVEY.md §3.3). */
class KafkaIO(val spark: SparkSession, bootstrapServers: String,
              checkpointRoot: String,
              topicPartitions: Int = 6, topicReplication: Short = 3) extends StreamIO {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def source(topic: String, rateLimit: Option[Long] = None): DataFrame =
    spark.readStream.format("kafka")
      .options(KafkaIO.sourceOptions(bootstrapServers, topic, rateLimit))
      .load()
      .select(
        col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        col("timestamp").as("ts"),
        col("topic"))

  /** T16 push: a one-row batch write through the Kafka connector. */
  def publish(topic: String, key: String, value: String): Unit = {
    import spark.implicits._
    Seq((key, value)).toDF("key", "value")
      .selectExpr("CAST(key AS BINARY) AS key", "CAST(value AS BINARY) AS value")
      .write.format("kafka")
      .options(KafkaIO.publishOptions(bootstrapServers, topic))
      .save()
  }

  def sink(topic: String, df: DataFrame, queryName: String,
           checkpointName: String): StreamingQuery =
    KafkaIO.sinkProjection(df)
      .writeStream.format("kafka")
      .options(KafkaIO.sinkOptions(bootstrapServers, topic, checkpointRoot, checkpointName))
      .queryName(queryName)
      .trigger(Trigger.ProcessingTime("100 milliseconds")) // poll cadence (kafka.clj:108)
      .start()

  /** Kafka offsets are durable — give the control-plane subscriber a
    * durable checkpoint so broadcasts landing while it is down replay on
    * the next start instead of being skipped by startingOffsets=latest. */
  override def controlCheckpoint(queryName: String): Option[String] =
    Some(s"$checkpointRoot/$queryName")

  /** Adopt a pre-injective-escape checkpoint directory (see trait doc):
    * rename `$checkpointRoot/<legacy>` → `$checkpointRoot/<current>` when
    * only the legacy one exists AND its newest committed offsets entry
    * references one of the adopting query's source topics — the name
    * check alone cannot distinguish "this query's own legacy dir" from a
    * dir a since-removed query of a prior topology committed under the
    * colliding name. Rename failure is logged, not thrown — the query
    * then starts from a fresh checkpoint, which is the pre-fix behavior. */
  override def migrateCheckpoint(legacyName: String, currentName: String,
                                 expectedSources: Set[String] = Set.empty): Unit = {
    if (legacyName == currentName) return
    try {
      val root = new org.apache.hadoop.fs.Path(checkpointRoot)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val legacy = new org.apache.hadoop.fs.Path(root, legacyName)
      val current = new org.apache.hadoop.fs.Path(root, currentName)
      if (fs.exists(legacy) && !fs.exists(current)) {
        offsetsEvidence(fs, legacy, expectedSources) match {
          case Left(reason) =>
            log.warn(s"NOT adopting legacy checkpoint $legacy for " +
              s"'$currentName': $reason — likely a prior topology's query; " +
              "starting fresh (legacy dir preserved on disk for audit)")
          case Right(evidence) =>
            if (fs.rename(legacy, current))
              log.info(s"adopted legacy checkpoint $legacy -> $current ($evidence)")
            else
              log.warn(s"could not adopt legacy checkpoint $legacy; " +
                s"query '$currentName' starts from a fresh checkpoint")
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"legacy checkpoint probe failed for '$currentName'", e)
    }
  }

  /** Right(evidence) when adoption is safe: no source expectation, no
    * committed offsets (nothing to resume wrongly), or the newest offsets
    * entry references an expected source topic. Left(reason) otherwise. */
  private def offsetsEvidence(fs: org.apache.hadoop.fs.FileSystem,
                              legacy: org.apache.hadoop.fs.Path,
                              expected: Set[String]): Either[String, String] = {
    if (expected.isEmpty) return Right("no source expectation supplied")
    // committed offsets reference PHYSICAL topic names — normalize the
    // expected logical node names the same way the reader options do
    val expectedPhysical = expected.map(KafkaIO.topicName)
    val dir = new org.apache.hadoop.fs.Path(legacy, "offsets")
    if (!fs.exists(dir)) return Right("no committed offsets")
    val batches = fs.listStatus(dir).toSeq.filter(_.isFile)
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption.map(_ -> s.getPath))
    if (batches.isEmpty) return Right("no committed offsets")
    val newest = batches.maxBy(_._1)._2
    val content = {
      val in = fs.open(newest)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        new String(out.toByteArray, "UTF-8")
      } finally in.close()
    }
    expectedPhysical.find(t => content.contains("\"" + t + "\"") || content.contains(t))
      .toRight(s"newest offsets entry ($newest) references none of the " +
        s"query's source topics ${expectedPhysical.mkString("[", ", ", "]")}")
      .map(t => s"offsets entry $newest tracks source '$t'")
  }

  /** S9 topic auto-creation (kafka.clj:26-50: default 6 partitions / RF 3,
    * overridable via the constructor for small dev clusters).
    * kafka-clients is a runtime dependency of real deployments (the Spark
    * Kafka connector pulls it in) but absent from this build environment,
    * so the AdminClient is reached REFLECTIVELY: compiles clean here, and
    * creates the topic (idempotently) wherever the jar is present. Without
    * the jar this degrades to the documented no-op.
    *
    * Best-effort by design: ANY create failure (unreachable broker,
    * InvalidReplicationFactorException on an under-replicated dev cluster,
    * auth) is logged and swallowed so `addNode` registration still
    * succeeds — the source/sink query surfaces the real connectivity error
    * if the topic truly doesn't exist, matching the reference where topic
    * creation failure never blocks node registration. */
  def ensureTopic(topic: String): Unit =
    try {
      val props = new java.util.Properties()
      props.put("bootstrap.servers", bootstrapServers)
      val adminCls = Class.forName("org.apache.kafka.clients.admin.AdminClient")
      val admin = adminCls.getMethod("create", classOf[java.util.Properties])
        .invoke(null, props)
      try {
        val newTopicCls = Class.forName("org.apache.kafka.clients.admin.NewTopic")
        val newTopic = newTopicCls
          .getConstructor(classOf[String], classOf[Int], classOf[Short])
          .newInstance(KafkaIO.topicName(topic),
            Int.box(topicPartitions), Short.box(topicReplication)) // kafka.clj:36-37
        val result = adminCls
          .getMethod("createTopics", classOf[java.util.Collection[_]])
          .invoke(admin, java.util.Collections.singleton(newTopic))
        val future = result.getClass.getMethod("all").invoke(result)
        Class.forName("org.apache.kafka.common.KafkaFuture")
          .getMethod("get").invoke(future) // block until created
      } finally adminCls.getMethod("close").invoke(admin)
    } catch {
      case _: ClassNotFoundException => () // no kafka-clients on classpath
      case e: java.lang.reflect.InvocationTargetException
          if rootCauseIsTopicExists(e) => () // already there — idempotent
      case scala.util.control.NonFatal(e) =>
        log.warn(s"topic auto-creation failed for '$topic' (continuing; " +
          "the stream query will surface any real connectivity error)", e)
    }

  private def rootCauseIsTopicExists(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t.getCause != null && t.getCause != t) t = t.getCause
    t.getClass.getName.endsWith("TopicExistsException")
  }
}

/** The exact option maps [[KafkaIO]] hands Spark's Kafka connector — pure
  * functions, so the env-blocked path (no kafka jar in this build env) is
  * still option-for-option verifiable: KafkaOptionsSpec pins these against
  * the reference's consumer/producer settings, and the IO methods apply
  * them via `.options(...)` with no other option call sites, so the spec
  * asserts precisely what a real deployment's reader/writer receives. */
object KafkaIO {

  /** Physical Kafka topic for a logical node/topic name. Node full names
    * carry '/' (`kafka/out`), ILLEGAL in a Kafka topic ([a-zA-Z0-9._-]):
    * a kafka-topic node's topic is its LOCAL name (the reference's node
    * `:topic`, kafka.clj:75 — `kafka/out` ⇒ topic `out`), and any other
    * '/' (non-kafka node kinds used as topics) maps to '.', legal and
    * injective. Injectivity is guaranteed by NodeName.parse validation,
    * not by this function alone: internal local names ban '.', kafka
    * local names may not use the reserved `stream.` prefix or the
    * control topic, so `kafka/stream.x` vs `stream/x` and
    * `kafka/dataworks.internal.functions` are rejected at registration
    * rather than silently sharing a physical topic. Applied by source,
    * sink, publish, AND ensureTopic, so a same-named source and a sink
    * node meet on ONE topic. MemoryIO is untouched (arbitrary string
    * keys; tests pin its naming). */
  private[graft] def topicName(t: String): String =
    (if (t.startsWith("kafka/")) t.stripPrefix("kafka/") else t).replace('/', '.')

  /** Reader options: subscribe-by-topic, `startingOffsets=latest`
    * (= the reference's `auto.offset.reset=latest`, kafka.clj:84-88), and
    * the node's fixed-buffer bound as `maxOffsetsPerTrigger` (T7). */
  private[graft] def sourceOptions(bootstrap: String, topic: String,
                                   rateLimit: Option[Long]): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "subscribe" -> topicName(topic),
      "startingOffsets" -> "latest") ++
      rateLimit.map(n => "maxOffsetsPerTrigger" -> n.toString)

  /** Writer options: target topic + the per-query checkpoint directory
    * (offset tracking lives in the checkpoint, not Kafka auto-commit —
    * the documented at-least-once upgrade over kafka.clj:108-109). */
  private[graft] def sinkOptions(bootstrap: String, topic: String,
                                 checkpointRoot: String,
                                 checkpointName: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "topic" -> topicName(topic),
      "checkpointLocation" -> s"$checkpointRoot/$checkpointName")

  /** One-shot batch publish options (T16 `stream!`). */
  private[graft] def publishOptions(bootstrap: String, topic: String): Map[String, String] =
    Map("kafka.bootstrap.servers" -> bootstrap, "topic" -> topicName(topic))

  /** The sink's record shape: key as binary, value = the row serialized to
    * JSON (S10's wire format) as binary — exactly what the connector's
    * (key, value) contract expects. Factored out so the spec can run it on
    * a BATCH frame and check the serialization without a broker. */
  private[graft] def sinkProjection(df: DataFrame): DataFrame =
    df.select(
      col("key").cast("binary").as("key"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).cast("binary").as("value"))
}

/** In-memory IO for tests and local topologies: MemoryStream per source
  * topic, a collecting foreachBatch sink per sink topic. The collecting
  * sink survives query restarts (hot-swap!) while the per-query checkpoint
  * guarantees already-committed offsets aren't reprocessed — exactly the
  * "old messages old code, new messages new code" contract
  * (`/root/reference/ReadMe.org:64`). */
class MemoryIO(val spark: SparkSession) extends StreamIO {
  import spark.implicits._

  private val sources = new ConcurrentHashMap[String, MemoryStream[(String, String, Timestamp)]]()
  private val outputs = new ConcurrentHashMap[String, mutable.Buffer[Row]]()
  private val checkpointRoot = Files.createTempDirectory("graft-ckpt").toString

  private def stream(topic: String): MemoryStream[(String, String, Timestamp)] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    sources.computeIfAbsent(topic, _ => MemoryStream[(String, String, Timestamp)])
  }

  /** `MemoryStream.addData` serializes rows with one shared encoder before
    * it takes its own lock, so concurrent pushes to one topic can lose,
    * repeat or garble rows. Pushes to a topic therefore go one at a time. */
  private def add(topic: String, rows: Seq[(String, String, Timestamp)]): Unit = {
    val s = stream(topic)
    s.synchronized { s.addData(rows); () }
  }

  /** Push a message into a source topic (test harness side of T16). */
  def publish(topic: String, key: String, value: String): Unit =
    add(topic, Seq((key, value, new Timestamp(System.currentTimeMillis()))))

  /** Push with an explicit event time (drives watermark/window tests). */
  def publishAt(topic: String, key: String, value: String, ts: Timestamp): Unit =
    add(topic, Seq((key, value, ts)))

  /** Push many messages as ONE block (= one input partition in the next
    * micro-batch) — lets tests overflow a bounded buffer deterministically. */
  def publishBatch(topic: String, kvs: Seq[(String, String)]): Unit = {
    val now = new Timestamp(System.currentTimeMillis())
    add(topic, kvs.map { case (k, v) => (k, v, now) })
  }

  /** Collected sink rows for a topic (in arrival order). Reads take the
    * same monitor the foreachBatch append does — an unsynchronized copy
    * racing a concurrent append can observe a partially-filled resize. */
  def collected(topic: String): Seq[Row] =
    Option(outputs.get(topic)).map(b => b.synchronized(b.toSeq)).getOrElse(Seq.empty)

  def source(topic: String, rateLimit: Option[Long] = None): DataFrame =
    stream(topic).toDF()
      .toDF("key", "value", "ts")
      .withColumn("topic", lit(topic))

  def sink(topic: String, df: DataFrame, queryName: String,
           checkpointName: String): StreamingQuery = {
    val buf = outputs.computeIfAbsent(topic, _ => mutable.Buffer.empty[Row])
    df.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.collect()
        buf.synchronized { buf ++= rows }
        ()
      }
      .option("checkpointLocation", s"$checkpointRoot/$checkpointName")
      .queryName(queryName)
      .start()
  }

  def ensureTopic(topic: String): Unit = { stream(topic); () }
}
