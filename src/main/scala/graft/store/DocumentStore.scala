package graft.store

import java.sql.Timestamp
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{BooleanType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.VersionedDoc

/** Speculative transaction op for [[DocumentStore.withTx]] — the crux
  * `::xt/put` / `::xt/delete` / `::xt/match` op shapes. A failed Match
  * ABORTS the speculative transaction (withTx returns None — crux's nil),
  * exactly as it would abort a committed one; cas is Match + Put. */
sealed trait TxOp
object TxOp {
  final case class Put(id: String, doc: String,
                       validFrom: Option[Timestamp] = None) extends TxOp
  final case class Delete(id: String,
                          validFrom: Option[Timestamp] = None) extends TxOp
  /** Assert `id`'s visible doc equals `expected` (None = expect absent) at
    * this point of the op sequence — earlier speculative ops count. */
  final case class Match(id: String, expected: Option[String]) extends TxOp
}

/** Bitemporal document store: the Crux semantics the reference exposes to
  * every stored function (dataworks `src/dataworks/db/app_db.clj:95-113`,
  * `src/dataworks/db/user_db.clj:28-48`), rebuilt as an append-only
  * versioned Parquet table + window-based as-of views.
  *
  * Operations (SURVEY.md §2.1):
  *  - S1 `put`            — upsert, valid-from = now
  *  - S2 `put` @ future   — caller-supplied valid-from; invisible until due
  *  - S3 `match`+put      — optimistic concurrency (compare current, then append)
  *  - S4 `cas`            — compare-and-swap payloads
  *  - S5 `delete`         — tombstone row ending validity
  *  - S6 `await-tx`       — synchronous commit (writes here are synchronous)
  *  - Q1 `entity`         — whole doc at a snapshot
  *  - Q10/Q11 `asOf`      — valid-time / bitemporal snapshot views
  *
  * Write path & scale: Crux serializes all transactions through a single
  * Kafka tx-log (dataworks `example-config.edn:3-14`); we funnel
  * writes through one commit point per store instance (a JVM lock +
  * monotonic tx clock — the moral equivalent for a driver-owned control
  * plane; match/cas REQUIRE that serialization, SURVEY.md §7.4 risk 1).
  * Data layout: `<path>/g=<N>/valid_date=…/part-…`. Rows are partitioned
  * by `valid_date` so as-of reads prune historical partitions, and each
  * transaction is one small parquet file in the current generation `N`
  * until [[compact]] rewrites them as generation `N+1`. A generation is
  * never renamed or changed in place except by appends, so a read built
  * on one keeps its files through the next compaction (which deletes
  * only `N-1`). A driver-side transaction (put, putAll, delete, matchPut)
  * writes its file on the driver through Spark's own parquet writer, so
  * a commit runs no Spark job; [[putBatch]], whose rows never reach the
  * driver, appends with a write job.
  *
  * Read path: one resolver decides visibility for every log read. Its
  * cut keeps the versions with valid_from <= vt and tx_time <= tt (plus a
  * `valid_date` bound, so parquet prunes later date partitions); then
  * row_number() over (partition by id, order by valid_from desc, tx_time
  * desc) = 1 keeps each id's newest version, tombstone included, and the
  * caller drops tombstones. [[asOf]]'s scan, the current view's base and
  * [[withTx]]'s snapshot all read through it; the window shuffles by id
  * once. Point reads ([[entity]], [[entityTx]], withTx's Match and the
  * control plane's tombstone check) read through one `versionAt`: the
  * same cut with the id pushed to parquet, newest first, top 1, a single
  * stage with no shuffle.
  *
  * Current reads (`asOf(vt)` with no tx-time cut, hence [[db]], [[q]],
  * [[qPublic]] and the alert poll) skip that scan: Crux answers `(db node)`
  * from maintained indexes, and this store keeps the moral equivalent — a
  * BASE (the live top-1 version per id as of a base time vt0, materialized
  * once with `localCheckpoint`, so it is lineage-free and no compaction
  * can delete files under it) plus a driver-side DELTA (the rows this
  * instance appended since vt0, and rows still future-dated at vt0). A
  * current read picks the delta's winners at its valid time on the driver,
  * filters their ids out of the base's own scan, and unions the live
  * winners back in as a local relation — no timestamp literal or id list
  * enters the plan, so its generated code is the same on every request.
  * The base is dropped, and rebuilt on the next current read, by a
  * retroactive row (validFrom < vt0), a [[putBatch]], an [[evict]], or a
  * delta past [[DocumentStore.MaxDelta]] rows; [[compact]] keeps it.
  * The query doors ([[q]], [[qPublic]]) read the base already typed: the
  * base's docs parsed by a reader's schema are materialized once per
  * (schema, public-only) and the same overlay applies, with only the live
  * delta winners parsed per read.
  */
class DocumentStore(val spark: SparkSession, val path: String) {
  import spark.implicits._

  private val lock = new Object
  private val lastTx = new AtomicLong(0L)

  /** Single-driver guard. The store's write path is correct ONLY under one
    * commit point: match/cas read-compare-write through this instance's JVM
    * lock, and the tx clock is instance-local — a second driver on the same
    * path would corrupt both silently (SURVEY §7.4 risk 1; Crux gets the
    * same guarantee from its single Kafka tx-log). So construction takes an
    * exclusive create on `<path>.lock` (a sibling of the generations) and
    * FAILS FAST naming the other holder. A lock left
    * by a crashed process on THIS host is detected dead via its pid and
    * reclaimed; a lock from another host is never presumed stale — delete
    * it by hand after confirming that driver is gone. */
  private val lockToken = java.util.UUID.randomUUID().toString
  locally { DocumentStore.acquire(spark, path, lockToken) }
  @volatile private var closed = false

  private val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The current generation: commits write into, and reads list, `g=<gen>`.
    * Moved only by [[rewriteTable]], under `lock`. */
  @volatile private var gen = 0L
  private def genDir(g: Long): Path = new Path(path, s"g=$g")

  // Open the log under the lock: the highest generation is current, and a
  // crashed compaction's hidden temp and older generations are deleted.
  // Then seed the tx clock from the table's max committed txTime (one
  // footer-stats-friendly aggregate). A previous instance's clock can have
  // run AHEAD of wall-clock (same-ms collision bumps, a backwards NTP
  // step); restarting at wall-clock would assign txTimes <= already-
  // committed ones — changesSince(checkpoint) would silently drop the new
  // writes and asOf's txTime-desc tie-break would prefer the OLD payload.
  // The single-driver lock serializes concurrent opens; this serializes
  // the clock across sequential ones.
  try {
    fs.mkdirs(new Path(path))
    val names = fs.listStatus(new Path(path)).map(_.getPath.getName)
    if (names.exists(_.startsWith("valid_date="))) throw new DocumentStore.FlatLayoutException(path)
    gen = names.collect { case DocumentStore.GenName("", g) => g.toLong }.maxOption.getOrElse(0L)
    names.foreach {
      case n @ DocumentStore.GenName(hidden, g) if hidden.nonEmpty || g.toLong < gen =>
        fs.delete(new Path(path, n), true)
      case _ => ()
    }
    fs.mkdirs(genDir(gen))
    val m = versionsRaw().agg(max(col("txTime"))).head().getTimestamp(0)
    if (m != null) lastTx.updateAndGet(prev => math.max(prev, m.getTime))
  } catch { case e: Throwable => DocumentStore.release(spark, path, lockToken); throw e }

  /** Release the single-driver lock. Idempotent; the store object must not
    * be used afterwards (a later re-open is a NEW instance on the path). */
  def close(): Unit = lock.synchronized {
    if (!closed) {
      closed = true
      Option(maintenance.get()).foreach(h =>
        try h.close() catch { case _: Exception => () })
      // reads on a closed store take the scan path; the base's blocks go now
      Option(view).foreach { v =>
        v.base.rdd.unpersist(blocking = false)
        v.base.relations.values().forEach(_.rdd.foreach(_.unpersist(blocking = false)))
      }
      dropView()
      DocumentStore.release(spark, path, lockToken)
    }
  }

  /** Monotonic tx clock: real time, bumped by 1ms under collision so tx
    * order is total (Crux tx-ids are totally ordered by the tx-log). */
  private def nextTxTime(): Timestamp = {
    val t = lastTx.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))
    new Timestamp(t)
  }

  /** "Current" read time: wall-clock OR the latest committed tx time,
    * whichever is later. The tx clock bumps +1 ms under same-ms collisions,
    * so it can run (briefly) ahead of wall-clock — and after a backwards
    * NTP step, far ahead. Reading at plain wall-clock would make freshly
    * committed writes invisible (entity() missing a doc put() just
    * returned, cas/matchPut failing against their own committed state);
    * max(wall, lastTx) restores read-your-writes. */
  def now(): Timestamp =
    new Timestamp(math.max(System.currentTimeMillis(), lastTx.get()))

  /** Every driver-side write lands here, under `lock`: one transaction
    * file per `valid_date`, written on this thread (no Spark job). The
    * layout is a write task's: the partition value is the Catalyst
    * `to_date(validFrom)` cast in this session's zone, the directory name
    * Spark's partition-path formatting, and the file comes from Spark's
    * parquet writer with this session's confs
    * ([[DocumentStore.writeFile]]) with [[putBatch]]'s columns. The delta
    * sees each committed row, and a failed append drops the base (a
    * partial commit would otherwise be invisible to current reads). */
  private def append(rows: Seq[VersionedDoc]): Unit = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp
    import org.apache.spark.sql.types.DateType
    val zone = Some(spark.conf.get("spark.sql.session.timeZone"))
    def partition(validFrom: Timestamp): String = {
      val day = Cast(Literal(fromJavaTimestamp(validFrom), TimestampType), DateType, zone).eval()
      ExternalCatalogUtils.getPartitionPathString("valid_date",
        Cast(Literal(day, DateType), StringType, zone).eval().toString)
    }
    try rows.groupBy(r => partition(r.validFrom)).foreach { case (dir, part) =>
      DocumentStore.writeFile(spark, new Path(genDir(gen), dir),
        part.map(r => InternalRow(UTF8String.fromString(r.id), fromJavaTimestamp(r.validFrom),
          fromJavaTimestamp(r.txTime), r.deleted, UTF8String.fromString(r.doc))))
    } catch { case e: Throwable => dropView(); throw e }
    Option(view).foreach { v =>
      if (rows.exists(_.validFrom.getTime < v.base.vt0) ||
          v.delta.size + rows.size > DocumentStore.MaxDelta) dropView()
      else view = v.copy(delta = v.delta ++ rows)
    }
  }

  /** Writes on a closed store would interleave an unserialized tx clock
    * with whatever driver now legitimately holds the lock — fail fast. */
  private def requireOpen(): Unit =
    require(!closed, s"document store at $path is closed — writes after " +
      "close() would bypass the single-driver lock")

  /** The current generation's versions INCLUDING the `valid_date`
    * directory-partition column. As-of readers filter on it so Spark prunes
    * whole date partitions from the scan — the layout's entire point at
    * warehouse scale. The files are listed here, when the read is built. */
  private def versionsRaw(): DataFrame =
    // EXPLICIT schema, never inference: a reader can race an in-flight
    // append (continuous ingest is the norm), and mid-write the generation
    // holds only `_temporary` task files — schema inference throws
    // UNABLE_TO_INFER_SCHEMA there, where the correct answer is simply
    // "the committed view" (empty on a first-ever append). The schema is
    // the VersionedDoc encoder's plus the valid_date partition column,
    // i.e. exactly what `append` writes.
    spark.read.schema(versionSchema).parquet(genDir(gen).toString)

  private lazy val versionSchema =
    org.apache.spark.sql.Encoders.product[VersionedDoc].schema
      .add("valid_date", org.apache.spark.sql.types.DateType)

  /** Full version history (all rows, including tombstones). */
  def versions(): DataFrame = versionsRaw().drop("valid_date")

  // ----------------------------------------------------------------- writes

  /** S1/S2: put a document; `validFrom` defaults to now, future values give
    * scheduled visibility (`/root/reference/doc/demo-app-1.org:125-127`). */
  def put(id: String, doc: String, validFrom: Option[Timestamp] = None): Timestamp =
    lock.synchronized {
      requireOpen()
      val tx = nextTxTime()
      append(Seq(VersionedDoc(id, validFrom.getOrElse(tx), tx, deleted = false, doc)))
      tx
    }

  /** Batch put: one transaction (one tx-time, one parquet file) for many
    * documents — Crux transactions carry many ops under one tx id; this is
    * also the high-frequency-write answer (one file per batch, not per
    * doc). */
  def putAll(docs: Seq[(String, String)],
             validFrom: Option[Timestamp] = None): Timestamp =
    lock.synchronized {
      requireOpen()
      val tx = nextTxTime()
      // crux applies a tx's ops IN ORDER (last put of an id wins); all rows
      // here share one (validFrom, txTime), so a duplicated id would make
      // the as-of winner a shuffle-order accident — keep the LAST
      // occurrence, which is exactly the state crux's sequential apply
      // leaves visible
      val lastWins = docs.zipWithIndex
        .groupBy(_._1._1).values.map(_.maxBy(_._2))
        .toSeq.sortBy(_._2).map(_._1) // stable original order
      append(lastWins.map { case (id, doc) =>
        VersionedDoc(id, validFrom.getOrElse(tx), tx, deleted = false, doc) })
      tx
    }

  /** Bulk put: append a whole DataFrame of `(id, doc)` rows as ONE
    * transaction WITHOUT materializing it on the driver. The tx-time is
    * assigned under the store's lock (serialized commit point — same
    * guarantee as `putAll`), but the rows flow straight from the executors
    * to the versioned table via a distributed parquet append. This is the
    * high-rate ingest path: `putAll` funnels every row through driver
    * memory, which is fine for registry/control-plane traffic but wrong
    * for a data-scale stream; match/cas batches still need the collect
    * path because their read-compare-write is inherently per-entity.
    *
    * `docs` must have columns `id` and `doc` (castable to string), and ids
    * must be distinct WITHIN the batch: all rows share one (validFrom,
    * txTime), so a duplicated id's visible winner would be a shuffle-order
    * accident (`putAll` dedups driver-side; here a dedup would cost a
    * shuffle on every ingest batch — the contract is the caller's). */
  def putBatch(docs: DataFrame, validFrom: Option[Timestamp] = None): Timestamp =
    lock.synchronized {
      requireOpen()
      val tx = nextTxTime()
      val vf = validFrom.getOrElse(tx)
      // the rows never reach the driver, so the delta cannot track them
      dropView()
      docs
        .select(
          col("id").cast("string").as("id"),
          lit(vf).as("validFrom"),
          lit(tx).as("txTime"),
          lit(false).as("deleted"),
          col("doc").cast("string").as("doc"),
          to_date(lit(vf)).as("valid_date"))
        .write.mode(SaveMode.Append).partitionBy("valid_date").parquet(genDir(gen).toString)
      tx
    }

  /** Compact the version log: rewrite the accumulated per-put files into
    * one file per valid_date partition of the next generation (read view
    * unchanged — same rows). At warehouse scale this is the periodic
    * compaction job every append-log table needs; here it runs under the
    * store's write lock. */
  def compact(): Unit = rewriteTable("compact", identity, erase = false)

  /** Crux `evict`: PHYSICAL erasure of every version of the given ids —
    * the GDPR right-to-be-forgotten operation, and the one thing a
    * tombstone [[delete]] deliberately does NOT do (delete ends
    * visibility; history, as-of reads before the delete, and the payload
    * bytes all remain). Eviction rewrites the version log without the
    * ids' rows — the only way to truly remove data from an immutable
    * append log (crux's evict rewrites its KV indexes the same way) — as
    * the next generation, like [[compact]], and deletes every older
    * generation before it returns, so no file left on disk holds the ids'
    * bytes. Serialized with writers under the store lock; a
    * subsequent [[entity]]/[[history]]/[[changes]] shows NO trace of the
    * id, as if it never existed. Heavier than delete by design: one
    * full-table rewrite per eviction batch, so batch ids and run
    * off-peak, like compaction. */
  def evict(ids: Seq[String]): Unit = {
    require(ids.nonEmpty, "evict: no ids given")
    require(ids.forall(i => i != null && i.nonEmpty), "evict: null/empty id")
    lock.synchronized {
      dropView()
      rewriteTable("evict", _.filter(!col("id").isin(ids: _*)), erase = true)
    }
  }

  def evict(id: String): Unit = evict(Seq(id))

  /** Rewrite the log as generation `gen + 1`: written under a hidden name
    * that no listing includes, published by one directory rename, then
    * made current, all under the lock, so no commit lands in between. A
    * crash before the rename leaves the old generation current, after it
    * the new one (the open deletes the rest). Generation `gen - 1` is
    * deleted, so a read built before this rewrite still finds its files;
    * `erase` deletes `gen` too. */
  private def rewriteTable(opName: String, transform: DataFrame => DataFrame,
                           erase: Boolean): Unit = lock.synchronized {
    requireOpen()
    val next = gen + 1
    val tmp = new Path(path, s".g=$next")
    // one file per date partition, rows CLUSTERED by (id, validFrom): parquet
    // row-group min/max stats on `id` become tight ranges, so post-rewrite
    // entity()/history(id) point reads skip every row group but the entity's
    // own — the SURVEY §4 "partitioned by date(valid_from), sorted by id"
    // layout
    // versionsRaw keeps the ORIGINAL valid_date partition values — re-
    // deriving them via to_date in THIS session's timezone could silently
    // re-bucket rows written under another zone (still readable thanks to
    // the as-of prune slack, but a layout shift and a wasted projection)
    transform(versionsRaw())
      .repartition(col("valid_date"))
      .sortWithinPartitions(col("valid_date"), col("id"), col("validFrom"))
      .write.mode(SaveMode.Overwrite).partitionBy("valid_date")
      .parquet(tmp.toString)
    DocumentStore.rewriteHook("written")
    if (!fs.rename(tmp, genDir(next)))
      throw new java.io.IOException(s"$opName: rename $tmp -> ${genDir(next)} failed")
    gen = next
    DocumentStore.rewriteHook("published")
    fs.delete(genDir(next - 2), true)
    if (erase) fs.delete(genDir(next - 1), true)
  }

  /** Files per `valid_date` partition of the current generation — the
    * fragmentation the one-file-per-transaction append layout accumulates.
    * Metadata-only (a directory listing, no data read); the operator-facing
    * health probe behind [[compactIfFragmented]]. */
  def fragmentation(): Map[String, Int] =
    fs.listStatus(genDir(gen)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("valid_date="))
      .map { dir =>
        dir.getPath.getName -> fs.listStatus(dir.getPath)
          .count(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
      }.toMap

  /** Compaction POLICY over the manual [[compact]]: rewrite only when some
    * date partition has accumulated more than `maxFilesPerPartition`
    * transaction files. The intended cadence is a periodic maintenance
    * tick (an alert-scheduler transactor, a cron) calling this — cheap
    * no-op listing most of the time, a single compaction when the append
    * log is actually fragmented. Returns whether a compaction ran. */
  def compactIfFragmented(maxFilesPerPartition: Int = 64): Boolean = {
    require(maxFilesPerPartition >= 1, "maxFilesPerPartition must be >= 1")
    val frag = fragmentation()
    if (frag.values.exists(_ > maxFilesPerPartition)) { compact(); true }
    else false
  }

  /** Background compaction cadence — the operational envelope Crux gets
    * from RocksDB's self-compaction and this parquet append log must
    * provide itself: without it a long-lived deployment under the 1 s
    * alert-claim churn fragments unboundedly (measured 1.6-2× snapshot
    * read degradation at 210-610 files, BASELINE r13 probe). A daemon
    * thread calls [[compactIfFragmented]] every `intervalMs` — a
    * metadata-only listing when healthy, one rewrite when fragmented.
    * Close the returned handle to stop; the daemon also stops itself
    * when the store closes (writes on a closed store fail fast) and an
    * unexpected compaction failure only skips that tick, never kills
    * the thread. One daemon per store is plenty — a second start() call
    * returns the live handle. */
  def startMaintenance(intervalMs: Long = 60000L,
                       maxFilesPerPartition: Int = 64): AutoCloseable =
    maintenance.synchronized {
      requireOpen()
      require(intervalMs > 0, "intervalMs must be positive")
      maintenance.get() match {
        case h if h != null => h
        case _ =>
          val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
          val t = new Thread(() => {
            while (!stop.get()) {
              if (closed) stop.set(true)
              else try compactIfFragmented(maxFilesPerPartition)
              catch {
                // requireOpen is a Scala require → IllegalArgumentException;
                // a close racing the tick must stop the daemon, not spin
                // forever through the skip-tick arm. But IAE/ISE are not
                // unique to requireOpen (compact paths have their own
                // requires), so only stop when the store really IS closed —
                // any other failure skips the tick per the scaladoc promise.
                case _: IllegalStateException | _: IllegalArgumentException
                    if closed =>
                  stop.set(true) // store closed under us
                case scala.util.control.NonFatal(_) => () // skip this tick
              }
              if (!stop.get()) try Thread.sleep(intervalMs)
              catch { case _: InterruptedException => stop.set(true) }
            }
          }, s"graft-store-maintenance-$path")
          t.setDaemon(true)
          // close() only vacates the slot while it still holds THIS handle:
          // double-closing a stale handle after a newer daemon started must
          // not unregister the live one (store close() would then miss it
          // and a duplicate daemon could start alongside the running thread)
          val handle: AutoCloseable = new AutoCloseable {
            override def close(): Unit = maintenance.synchronized {
              stop.set(true); t.interrupt()
              maintenance.compareAndSet(this, null)
            }
          }
          maintenance.set(handle)
          t.start()
          handle
      }
    }

  private val maintenance =
    new java.util.concurrent.atomic.AtomicReference[AutoCloseable]()

  /** S5: delete — tombstone ending validity now (or at `validFrom`). */
  def delete(id: String, validFrom: Option[Timestamp] = None): Timestamp =
    lock.synchronized {
      requireOpen()
      val tx = nextTxTime()
      append(Seq(VersionedDoc(id, validFrom.getOrElse(tx), tx, deleted = true, doc = null)))
      tx
    }

  /** S3: match + put — transaction commits only if the current visible doc
    * equals `expected` (None = must not exist), mirroring
    * `[[:crux.tx/match][:crux.tx/put]]`
    * (`/root/reference/src/dataworks/db/app_db.clj:102-105`). */
  def matchPut(id: String, expected: Option[String], doc: String,
               validFrom: Option[Timestamp] = None): Boolean =
    lock.synchronized {
      requireOpen()
      if (entity(id) == expected) { put(id, doc, validFrom); true } else false
    }

  /** S4: cas — compare-and-swap against the current payload
    * (`/root/reference/src/dataworks/utils/auth.clj:139-146`). */
  def cas(id: String, oldDoc: String, newDoc: String): Boolean =
    matchPut(id, Some(oldDoc), newDoc)

  /** S6: writes are synchronous — a returned tx-time IS committed. */
  def awaitTx(tx: Timestamp): Boolean = txCommitted(tx)
  def txCommitted(tx: Timestamp): Boolean = tx.getTime <= lastTx.get()

  /** Crux `latest-submitted-tx` — the tx-time of the newest transaction
    * this node has accepted (None before any write; a reopened store
    * reseeds from the max committed tx-time, so the answer survives
    * restarts). Crux returns a `{:crux.tx/tx-id …}` map; tx-time is the
    * identity this store's transactions carry. */
  def latestSubmittedTx: Option[Timestamp] = lastTx.get() match {
    case 0L => None
    case t => Some(new Timestamp(t))
  }

  /** Crux `(sync node timeout)` — block until the index has caught up
    * with the latest submitted transaction, returning the tx-time it
    * reached. Writes here commit synchronously inside the submitting
    * call (there is no async indexer to wait on), so sync returns
    * immediately; the reference calls it once at node start
    * (`/root/reference/src/dataworks/db/user_db.clj:19-23`) and this
    * keeps that call shape working. `timeoutMs` is accepted for
    * signature fidelity and never elapses. */
  def sync(timeoutMs: Long = 0L): Option[Timestamp] = {
    requireOpen()
    latestSubmittedTx
  }

  // ------------------------------------------------------------------ reads

  /** Q10/Q11: snapshot of all documents visible at (valid-time, tx-time).
    * Result schema: (id, validFrom, txTime, doc). With no tx-time cut and
    * a valid time at or past the base's, this is the current view (class
    * doc); otherwise the version-log scan. */
  def asOf(validTime: Timestamp, txTime: Timestamp): DataFrame =
    currentAt(validTime, txTime)
      .map { case (base, winners) => overlay(base.df, base.rdd, winners, identity) }
      .getOrElse(scanAsOf(validTime, txTime))

  /** The version-log scan behind every read the current view does not
    * answer — and the reference the view is tested against. */
  private[store] def scanAsOf(validTime: Timestamp, txTime: Timestamp): DataFrame =
    latest(versionsRaw(), validTime, txTime).filter(!col("deleted")).drop("deleted")

  /** The cut every as-of read applies: versions valid at `vt` and
    * committed by `tt`. valid_date = date(validFrom), so validFrom <= vt
    * implies valid_date <= date(vt) + slack: the redundant predicate on the
    * DIRECTORY partition column lets Spark prune every post-snapshot date
    * partition from the scan (PlanQualitySpec pins this) — the row-level
    * validFrom cut alone cannot prune directories. The 2-day slack makes
    * the prune timezone-safe: valid_date was rendered in the WRITER
    * session's timezone, to_date(vt) in the READER's, and two renderings
    * of one instant can differ by up to two calendar days across extreme
    * zones (UTC-12 vs UTC+14). Exactness still comes from the row-level
    * instant comparison; the slack only admits two extra directories. */
  private def cut(raw: DataFrame, vt: Timestamp, tt: Timestamp): DataFrame =
    raw.filter(col("valid_date") <= date_add(to_date(lit(vt)), 2) &&
      col("validFrom") <= lit(vt) && col("txTime") <= lit(tt))

  /** The as-of order, newest first: the later valid time wins, then the
    * later tx time ([[DocumentStore.AsOfOrder]] on the driver). */
  private val newestFirst = Seq(col("validFrom").desc, col("txTime").desc)

  /** The resolver: each id's newest version at the cut, tombstones kept,
    * as (id, validFrom, txTime, deleted, doc) — one shuffle by id. */
  private def latest(raw: DataFrame, vt: Timestamp, tt: Timestamp): DataFrame =
    cut(raw, vt, tt)
      .withColumn("rn", row_number().over(Window.partitionBy("id").orderBy(newestFirst: _*)))
      .filter(col("rn") === 1)
      .select("id", "validFrom", "txTime", "deleted", "doc")

  /** The point read: `id`'s newest version at `vt` with no tx-time cut,
    * tombstone included — the resolver's cut with the id pushed to
    * parquet, newest first, top 1: one stage, no shuffle. */
  private[graft] def versionAt(id: String, vt: Timestamp): Option[VersionedDoc] =
    cut(versionsRaw().filter(col("id") === id), vt, DocumentStore.MaxTxTime)
      .drop("valid_date").orderBy(newestFirst: _*).limit(1)
      .as[VersionedDoc].collect().headOption

  def asOf(validTime: Timestamp): DataFrame = asOf(validTime, DocumentStore.MaxTxTime)

  // ----------------------------------------------------------- current view

  /** Written under `lock` only; readers take one consistent snapshot. */
  @volatile private var view: DocumentStore.View = null
  /** Wall-clock ms before which no base is built: set when more rows than
    * [[DocumentStore.MaxDelta]] were future-dated at the last attempt
    * (they fall due only as time passes). */
  @volatile private var noViewUntil = 0L

  /** Drop the base (caller holds `lock`). Its blocks, and its typed
    * relations', are released by Spark's cleaner once nothing references
    * them: a DataFrame a read handed out may still run after the drop. */
  private def dropView(): Unit = {
    Option(view).foreach(_.base.relations.values()
      .forEach(r => graft.query.datalog.DatalogCompiler.forgetStats(r.df)))
    view = null
  }

  /** Build the base as of `vt0` (caller holds `lock`, so no write or
    * compaction runs meanwhile): one job collects the future-dated rows
    * into the delta, one window job materializes the base. */
  private def buildView(vt0: Long): Option[DocumentStore.View] = {
    val raw = versionsRaw()
    val at = new Timestamp(vt0)
    val future = raw.filter(col("validFrom") > lit(at)).drop("valid_date")
      .as[VersionedDoc].limit(DocumentStore.MaxDelta + 1).collect().toVector
    if (future.size > DocumentStore.MaxDelta) {
      noViewUntil = System.currentTimeMillis() + DocumentStore.ViewRetryMs
      return None
    }
    val top = latest(raw, at, DocumentStore.MaxTxTime).filter(!col("deleted")).drop("deleted")
    val (df, _, rdd) =
      DatasetBridge.materializeWithCount(top, reliable = false)
    Some(DocumentStore.View(new DocumentStore.Base(vt0, df, rdd), future))
  }

  /** The base and the delta's winners at `validTime`, when the current
    * view answers this read: no tx-time cut, an open store, and a valid
    * time at or past the base's (a missing base is built here, as of
    * `validTime` or now). */
  private def currentAt(validTime: Timestamp,
                        txTime: Timestamp): Option[(DocumentStore.Base, Seq[VersionedDoc])] = {
    if (txTime.getTime != DocumentStore.MaxTxTime.getTime) return None
    val vt = validTime.getTime
    // only a read at or past the last commit builds a base: an older valid
    // time is a historical read, which the scan answers
    val v = Option(view).orElse(
      if (closed || vt < lastTx.get() || System.currentTimeMillis() < noViewUntil) None
      else lock.synchronized {
        if (view == null && !closed && System.currentTimeMillis() >= noViewUntil)
          view = buildView(math.min(vt, now().getTime)).orNull
        Option(view)
      })
    v.filter(x => !closed && vt >= x.base.vt0).map { x =>
      // delta winners at vt by the as-of order (validFrom, txTime); each
      // beats its id's base row, which is older on both clocks
      (x.base, x.delta.filter(_.validFrom.getTime <= vt).groupBy(_.id).values
        .map(_.max(DocumentStore.AsOfOrder)).toSeq)
    }
  }

  /** A relation over the base (`df`, backed by `rdd`, `id` first) as of
    * the read: the winners' ids leave it inside its own scan — a join
    * would broadcast them, one more job per read — and `live` of the live
    * winners, as (id, validFrom, txTime, doc), is unioned in. */
  private def overlay(df: DataFrame, rdd: RDD[InternalRow], winners: Seq[VersionedDoc],
                      live: DataFrame => DataFrame): DataFrame =
    if (winners.isEmpty) df
    else {
      val superseded = winners.map(r => UTF8String.fromString(r.id)).toSet
      DatasetBridge.internalCreate(spark,
        rdd.filter(row => !superseded.contains(row.getUTF8String(0))), df.schema)
        .unionByName(live(winners.filterNot(_.deleted)
          .map(r => (r.id, r.validFrom, r.txTime, r.doc))
          .toDF("id", "validFrom", "txTime", "doc")))
    }

  /** Current snapshot (Crux `(db node)`). */
  def db(): DataFrame = asOf(now())

  /** Crux 1.16 `with-tx` (speculative transactions): the snapshot AS IF
    * `ops` had committed, WITHOUT committing anything — what-if reads for
    * validation flows ("would this deploy produce a cycle?") and the
    * test-before-transact idiom crux exposes through `(crux/with-tx db
    * [...])`. The speculative rows ride a txTime strictly after every
    * committed one (and each op after its predecessor, so crux's in-order
    * apply semantics hold: the LAST put of an id wins, a later delete
    * hides an earlier put), then flow through the SAME resolver as
    * [[asOf]] — one code path decides visibility for committed and
    * speculative rows alike. The store itself is untouched: no append,
    * no tx-clock advance; [[db]]/[[entity]] after the call are oblivious.
    *
    * A `TxOp.Match` asserts the doc visible AT THAT POINT of the op
    * sequence (earlier speculative ops count — crux's in-order apply);
    * a failed match ABORTS: withTx returns None, crux's nil. Match
    * evaluation mirrors the resolver exactly on the driver — the
    * committed candidate is the point read `versionAt` (memoized per id),
    * ranked by the same as-of order against the speculative rows so far —
    * so "what Match saw" and "what the returned snapshot shows" can never
    * disagree. Cost: one single-stage Spark job per DISTINCT matched id,
    * driver memory O(ops).
    *
    * Result schema matches [[db]]: (id, validFrom, txTime, doc). */
  def withTx(ops: Seq[TxOp], validTime: Timestamp = now()): Option[DataFrame] = {
    require(ops.nonEmpty, "withTx: no speculative ops")
    val base = lastTx.get()
    // The committed-row cut stays at the CALLER's valid time — crux
    // `(with-tx (db node T) [...])` composes the speculative ops onto the
    // as-of-T basis, so clamping vt forward to the tx clock would leak
    // committed versions from (T, now] into the view and make Match
    // assert against the wrong cut. Default-validFrom speculative rows
    // are pinned AT vt (not at the tx clock): their txTime (base+1+i,
    // strictly above every committed txTime, increasing per op) already
    // makes them outrank committed rows at the cut and keeps crux's
    // in-order last-put-wins among themselves.
    val vt = validTime
    // the committed candidate per matched id, read once
    val committed = scala.collection.mutable.Map.empty[String, Option[VersionedDoc]]
    var spec = Vector.empty[VersionedDoc] // the speculative rows so far
    ops.zipWithIndex.foreach {
      case (TxOp.Put(id, doc, vf), i) =>
        val v = VersionedDoc(id, vf.getOrElse(vt),
          new Timestamp(base + 1 + i), deleted = false, doc)
        spec :+= v
      case (TxOp.Delete(id, vf), i) =>
        val v = VersionedDoc(id, vf.getOrElse(vt),
          new Timestamp(base + 1 + i), deleted = true, doc = null)
        spec :+= v
      case (TxOp.Match(id, expected), _) =>
        val visible = (committed.getOrElseUpdate(id, versionAt(id, vt)) ++
          spec.filter(v => v.id == id && v.validFrom.getTime <= vt.getTime))
          .maxOption(DocumentStore.AsOfOrder).filterNot(_.deleted).map(_.doc)
        if (visible != expected) return None // crux: failed match aborts → nil
    }
    val unioned =
      if (spec.isEmpty) versionsRaw() // all-Match op list that passed
      else versionsRaw().unionByName(spec.toDS().toDF()
        .withColumn("valid_date", to_date(col("validFrom"))))
    Some(latest(unioned, vt, DocumentStore.MaxTxTime).filter(!col("deleted")).drop("deleted"))
  }

  /** [[withTx]] convenience: one entity's doc in the speculative view
    * (None = entity invisible there, OR the transaction aborted on a
    * failed Match — callers distinguishing the two use withTx itself). */
  def withTxEntity(ops: Seq[TxOp], id: String): Option[String] = {
    import spark.implicits._
    withTx(ops).flatMap(
      _.filter(col("id") === id).select("doc")
        .as[String].collect().headOption)
  }

  /** Q1: entity lookup — current doc payload for `id`, if visible. */
  def entity(id: String): Option[String] = entity(id, now())

  def entity(id: String, validTime: Timestamp): Option[String] =
    versionAt(id, validTime).filterNot(_.deleted).map(_.doc)

  /** Crux `entity-tx` — the bitemporal coordinates of the version that
    * makes `entity(id, validTime)` answer: (validFrom = crux valid-time,
    * txTime = crux tx-time). None when the entity is absent or
    * tombstoned at that cut, exactly when `entity` is None (crux returns
    * nil then too). */
  def entityTx(id: String, validTime: Timestamp): Option[(Timestamp, Timestamp)] =
    versionAt(id, validTime).filterNot(_.deleted).map(v => (v.validFrom, v.txTime))

  def entityTx(id: String): Option[(Timestamp, Timestamp)] = entityTx(id, now())

  /** Crux `entity-history`: the full version chain of ONE entity — every
    * (validFrom, txTime) version INCLUDING tombstones, newest first (oldest
    * first with `asc = true`), the canonical companion to `entity`
    * (`/root/reference/src/dataworks/db/user_db.clj:45-48`). The id filter
    * pushes to parquet, so the chain read never surfaces other entities'
    * rows; no window is needed — a chain is one entity's versions. */
  def history(id: String, asc: Boolean = false): DataFrame = {
    val chain = versions().filter(col("id") === id)
    if (asc) chain.orderBy("validFrom", "txTime") else chain.orderBy(newestFirst: _*)
  }

  // ------------------------------------------------------------ change feed

  /** CDC read side: the tx log as a relation of classified changes — each
    * version row tagged with its change kind (`op`):
    *
    *  - `delete` — a tombstone;
    *  - `insert` — the id's first version, OR a put right after a tombstone
    *    (a re-insert starts a new life of the entity, as a downstream
    *    consumer materializing "current state" needs it to);
    *  - `update` — every other version.
    *
    * The kind depends only on the PREVIOUS version's tombstone flag, so the
    * plan is one window over (id) in tx order — one shuffle on id, per-id
    * chains are short, no join. Downstream incremental maintenance
    * ([[graft.stream.StoreChanges]]) consumes this batch view for catch-up
    * and the appended-file stream for steady-state tailing.
    *
    * This feed is TRANSACTION-ordered, like crux's own tx-log listeners:
    * a retroactive put (validFrom before an existing tombstone) or a
    * scheduled future put is emitted when COMMITTED, classified against
    * the per-id chain in (txTime, validFrom) order — not against the
    * valid-time-resolved read view. A consumer that needs "current state
    * as [[asOf]] would report it" must resolve valid-time itself (or just
    * query asOf); materializing this feed verbatim reflects the tx log,
    * which is the CDC contract. */
  def changes(): DataFrame = {
    val w = Window.partitionBy("id").orderBy(col("txTime"), col("validFrom"))
    val prevDeleted = lag(col("deleted"), 1).over(w)
    versions()
      .withColumn("op",
        when(col("deleted"), lit("delete"))
          .when(prevDeleted.isNull || prevDeleted, lit("insert"))
          .otherwise(lit("update")))
      .select("id", "validFrom", "txTime", "op", "doc")
  }

  /** [[changes]] after `tx` (exclusive) — the catch-up read a consumer runs
    * to resume from its last processed transaction. The classification
    * window must see the FULL per-id chain (an update's kind depends on the
    * version before the cut), so the tail filter applies after it. */
  def changesSince(tx: Timestamp): DataFrame =
    changes().filter(col("txTime") > lit(tx))

  // --------------------------------------------------- Datalog over the store

  /** Wide relation over an arbitrary snapshot frame (id, …, doc): JSON doc
    * payloads expanded to typed columns via `schema` (plus `id`) — the
    * document universe the Datalog compiler runs against. Shared by the
    * committed ([[q]], its typed base relations included) and speculative
    * ([[qWith]]) paths so every query surface sees identical typing rules. */
  private[store] def relationOf(snap: DataFrame, schema: StructType): DataFrame =
    snap
      .select(col("id"), from_json(col("doc"), schema).as("d"))
      // getField takes the literal name — col(s"d.$f") would parse a field
      // named "price.usd" as a two-level path and fail analysis
      .select(col("id") +: schema.fieldNames.toSeq
        .map(f => col("d").getField(f).as(f)): _*)

  /** EDN Datalog over the (valid-time, tx-time) snapshot, `publicOnly`
    * dropping ':' ids. Over the current view the docs come typed: the
    * base's relation for this (schema, public-only) is materialized once
    * per base, and a read parses only the live delta winners. The same
    * relation ranks the joins, so the compiler's stats pass runs once per
    * base instead of once per commit (stats only rank joins — no result
    * depends on them). Past [[DocumentStore.MaxTypedRelations]] schemas a
    * base parses its docs per read, as the scan path does. */
  private def query(edn: String, schema: StructType,
                    validTime: Timestamp, txTime: Timestamp,
                    publicOnly: Boolean): Either[String, DataFrame] = {
    def scope(df: DataFrame): DataFrame =
      if (publicOnly) df.filter(!col("id").startsWith(":")) else df
    def typed(snap: DataFrame): DataFrame = scope(relationOf(snap, schema))
    currentAt(validTime, txTime) match {
      case Some((base, winners)) =>
        val rel = base.relation((schema, publicOnly), typed(base.df))
        val docs = rel.rdd match {
          case Some(rdd) => overlay(rel.df, rdd, winners, typed)
          case None => typed(overlay(base.df, base.rdd, winners, identity))
        }
        graft.query.datalog.EdnDatalog.run(docs, edn,
          new graft.query.datalog.DatalogCompiler(statsSource = Some(rel.df)))
      case None =>
        graft.query.datalog.EdnDatalog.run(typed(scanAsOf(validTime, txTime)), edn)
    }
  }

  /** The full Crux query surface over this store: an EDN Datalog query
    * against the (valid-time, tx-time) snapshot — `query(vt, tt, q)`
    * (`/root/reference/src/dataworks/db/user_db.clj:33-43`). */
  def q(edn: String, schema: org.apache.spark.sql.types.StructType,
        validTime: Timestamp, txTime: Timestamp): Either[String, DataFrame] =
    query(edn, schema, validTime, txTime, publicOnly = false)

  def q(edn: String, schema: org.apache.spark.sql.types.StructType,
        validTime: Timestamp): Either[String, DataFrame] =
    q(edn, schema, validTime, DocumentStore.MaxTxTime)

  def q(edn: String, schema: org.apache.spark.sql.types.StructType): Either[String, DataFrame] =
    q(edn, schema, now())

  /** [[q]] over the PUBLIC document universe only: ids in the reserved
    * ':' namespace — stored-function control docs AND `:user/…` accounts
    * (which carry bcrypt hashes) — are excluded from the relation. The
    * REST query collectors go through this: ingest symmetrically refuses
    * to WRITE ':' ids, and on a combined-store deployment a data-plane
    * reader must not be able to bind credential docs into a result (the
    * opt-in user-db split isolates them physically; this isolates them
    * logically either way). */
  def qPublic(edn: String, schema: org.apache.spark.sql.types.StructType)
      : Either[String, DataFrame] =
    query(edn, schema, now(), DocumentStore.MaxTxTime, publicOnly = true)

  /** Crux `(crux/q (crux/with-tx db ops) query)`: the full EDN Datalog
    * surface over the SPECULATIVE snapshot — the test-before-transact
    * idiom ("would this deploy create a cycle?") with real query power,
    * not just entity reads. Nothing commits; see [[withTx]]. A failed
    * Match aborts with a diagnosed Left (crux's with-tx yields nil and a
    * q over nil throws — the Left is the total-function face of that). */
  def qWith(ops: Seq[TxOp], edn: String,
            schema: org.apache.spark.sql.types.StructType,
            validTime: Timestamp = now()): Either[String, DataFrame] =
    qWithArgs(ops, edn, schema, Nil, validTime)

  /** [[qWith]] with positional `:in` arguments — crux's
    * `(q (with-tx db ops) query arg1 …)` calling shape: the full query
    * surface (recursive rules, :in bindings, pull) over speculative state. */
  def qWithArgs(ops: Seq[TxOp], edn: String,
                schema: org.apache.spark.sql.types.StructType,
                inputs: Seq[Any],
                validTime: Timestamp = now()): Either[String, DataFrame] =
    withTx(ops, validTime) match {
      case None => Left("speculative transaction aborted: a TxOp.Match failed")
      case Some(snap) =>
        graft.query.datalog.EdnDatalog.runWith(relationOf(snap, schema), edn, inputs)
    }

  /** Crux `attribute-stats`: attribute → number of CURRENT docs carrying
    * it (the key present in the payload — an explicit JSON null still
    * counts, exactly as crux indexes a nil value). Schema-free — keys come from
    * the JSON payloads themselves via `json_object_keys`, so it reports
    * attributes no reader declared (the discovery use crux puts it to:
    * "what's in this store?"). One scan + one shuffle of (attribute)
    * rows; crux counts eav rows from its index — for cardinality-many
    * (array) values this counts the DOC once, which is the planning
    * statistic [[graft.query.datalog.DatalogCompiler]] wants anyway. */
  def attributeStats(): DataFrame =
    db()
      .select(explode(json_object_keys(col("doc"))).as("attribute"))
      .groupBy("attribute").agg(count(lit(1)).as("doc_count"))
}

object DocumentStore {
  def apply(spark: SparkSession, path: String): DocumentStore =
    new DocumentStore(spark, path)

  /** "No tx-time cut" sentinel for as-of reads. NOT Long.MaxValue: Catalyst
    * converts a literal Timestamp to MICROseconds (a ×1000), so the raw max
    * would overflow the long — the >> 12 keeps the scaled value in range
    * while staying ~71k years in the future. */
  private[store] val MaxTxTime = new Timestamp(Long.MaxValue >> 12)

  /** The as-of order on the driver, oldest first: valid time, then tx
    * time — the order of the resolver's window. */
  private val AsOfOrder: Ordering[VersionedDoc] =
    Ordering.by(r => (r.validFrom.getTime, r.txTime.getTime))

  /** The materialized base: live top-1 version per id as of `vt0`, as
    * (id, validFrom, txTime, doc), backed by the locally checkpointed
    * `rdd`. A tombstone winner is left out: any later version of its id
    * arrives through the delta and replaces the base row regardless.
    * `relations` holds the query doors' relation per (schema,
    * public-only): typed and materialized for the first
    * [[MaxTypedRelations]] keys, the untyped parse over `df` past them. */
  private final class Base(val vt0: Long, val df: DataFrame, val rdd: RDD[InternalRow]) {
    val relations = new java.util.concurrent.ConcurrentHashMap[(StructType, Boolean), Relation]()
    private val typedSlots = new AtomicInteger(0)

    def relation(key: (StructType, Boolean), untyped: => DataFrame): Relation =
      relations.computeIfAbsent(key, _ =>
        if (typedSlots.getAndIncrement() >= MaxTypedRelations) Relation(untyped, None)
        else try {
          val (m, _, r) = DatasetBridge.materializeWithCount(untyped, reliable = false)
          Relation(m, Some(r))
        } catch { case e: Throwable => typedSlots.decrementAndGet(); throw e })
  }
  /** A base's relation for one (schema, public-only): `rdd` backs `df`
    * when it is materialized. */
  private final case class Relation(df: DataFrame, rdd: Option[RDD[InternalRow]])
  /** Base plus the rows appended since (and rows future-dated at vt0). */
  private final case class View(base: Base, delta: Vector[VersionedDoc])

  /** Delta rows past which the current view's base is dropped and rebuilt:
    * each current read scans the delta on the driver and ships its
    * winners in the plan, so it must stay small. */
  private[store] val MaxDelta = 1024

  /** Wait before retrying a base that too many future-dated rows refused. */
  private val ViewRetryMs = 10000L

  /** Typed relations kept per base: each holds every base doc parsed by
    * one reader schema, so an unbounded set of schemas would hold the
    * base many times over. */
  private[store] val MaxTypedRelations = 8

  /** A generation directory's name, `g=<N>`, or `.g=<N>` while a
    * compaction writes it (hidden: Spark's listings skip a leading '.'). */
  private val GenName = """(\.?)g=(\d+)""".r

  /** Thrown on opening a path whose `valid_date=` partitions sit directly
    * under it: the flat layout this store wrote before generations. Read
    * as a generation layout it would look empty, so it is refused. */
  final class FlatLayoutException(val path: String) extends IllegalStateException(
    s"document store at $path has the flat layout (valid_date= directories " +
      "directly under the path); this store reads only <path>/g=<N>/valid_date=…")

  /** The data columns of a transaction file as [[putBatch]]'s write task
    * lays them out (the tx clocks and the tombstone flag are never null). */
  private val FileSchema = StructType(Seq(
    StructField("id", StringType),
    StructField("validFrom", TimestampType, nullable = false),
    StructField("txTime", TimestampType, nullable = false),
    StructField("deleted", BooleanType, nullable = false),
    StructField("doc", StringType)))

  /** Write `rows` ([[FileSchema]]) as one parquet file in `dir`, on the
    * calling thread, through Spark's own parquet writer set up by
    * `ParquetFileFormat.prepareWrite` with this session's confs
    * (compression, timestamp encoding, rebase modes): the file a write
    * task would produce, without a job. It is written under a hidden name,
    * which no listing of the table includes (Spark skips names starting
    * with '.' or '_'), then renamed to a `part-` name, so a reader, the
    * change tail and a compaction see the whole file or none of it. */
  private def writeFile(spark: SparkSession, dir: Path, rows: Seq[InternalRow]): Unit = {
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(session, job, Map.empty, FileSchema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("graft-store", 0, TaskType.MAP, 0, 0))
    val name = s"part-00000-${java.util.UUID.randomUUID()}.c000${factory.getFileExtension(ctx)}"
    val tmp = new Path(dir, s".$name.tmp")
    val file = new Path(dir, name)
    val fs = dir.getFileSystem(job.getConfiguration)
    try {
      val out = factory.newInstance(tmp.toString, FileSchema, ctx)
      try rows.foreach(out.write) finally out.close()
      if (!fs.rename(tmp, file))
        throw new java.io.IOException(s"rename $tmp -> $file failed")
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: Exception => () }
        throw e
    }
  }

  /** In-JVM holder registry: the pid check below cannot see a second store
    * INSIDE this same process (its pid is alive — ours), so live holders in
    * this JVM are tracked here. Keyed by the lock file's string path. */
  private val liveHolders = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Test hook: runs after a reclaimer observes a stale holder and before its
    * reclaim rename — the window in which a competing reclaimer can win and
    * recreate a fresh lock. Lets the spec force that interleaving
    * deterministically instead of hoping a thread race lands on it. */
  private[store] var reclaimInterleaveHook: () => Unit = () => ()

  /** Test hook: runs inside a compaction once its generation is
    * `"written"` (before the publishing rename) and once it is
    * `"published"` (before the older generation is deleted). */
  private[store] var rewriteHook: String => Unit = _ => ()

  /** Test hook: transforms the post-create verification read-back. Lets the
    * spec simulate an object store whose read lags the exclusive create
    * (read-back returns "" though our bytes are durably on disk). */
  private[store] var readBackHook: String => String = identity

  private def lockPath(path: String) = new org.apache.hadoop.fs.Path(path + ".lock")
  private def localHost: String =
    try java.net.InetAddress.getLocalHost.getHostName catch { case _: Exception => "unknown" }

  private def acquire(spark: SparkSession, path: String, token: String): Unit = {
    val lp = lockPath(path)
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val desc = s"""{"pid":${ProcessHandle.current.pid},"host":"$localHost",""" +
      s""""token":"$token","since":"${java.time.Instant.now()}"}"""
    var attempts = 0
    while (true) {
      attempts += 1
      val prev = liveHolders.putIfAbsent(lp.toString, token)
      if (prev != null)
        throw new IllegalStateException(
          s"document store at $path is already open in this JVM " +
            "(close() the other instance first — two stores on one path " +
            "would run two tx clocks and break match/cas serialization)")
      try {
        val out = fs.create(lp, false) // exclusive: fails if the file exists
        try out.write(desc.getBytes("UTF-8")) finally out.close()
        // Verify our descriptor actually holds the slot. On HDFS the
        // exclusive create alone arbitrates, but LocalFileSystem's
        // create(overwrite=false) is exists-check-then-create (TOCTOU) and
        // object stores may not expose the file until close() — two
        // creators can BOTH succeed. The read-back shrinks that window to
        // write-vs-write: whoever's bytes survive is the holder; the other
        // observes a foreign token and falls through to the holder-
        // examination path below.
        val readBack = readBackHook(try {
          val in = fs.open(lp)
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        } catch { case _: Exception => "" })
        if (readBack == desc) return
        // the catch path removes our liveHolders entry and re-examines
        throw new java.io.IOException("lost a non-atomic create race")
      } catch {
        case _: java.io.IOException => // lock file exists — examine the holder
          liveHolders.remove(lp.toString, token)
          def readHolder(): String = try {
            val in = fs.open(lp)
            try new String(in.readAllBytes(), "UTF-8") finally in.close()
          } catch { case _: Exception => "" }
          var holder = readHolder()
          // Our own descriptor on disk means the exclusive create DID win
          // and only the verification read-back transiently failed (object
          // store read lag): without this check the alive-pid test below
          // would see "a live same-host holder" — ourselves — and wedge
          // every open from this JVM forever. The token is per-instance
          // random, so matching bytes can only be this acquire's write.
          if (holder == desc) {
            if (liveHolders.putIfAbsent(lp.toString, token) == null) return
            throw new IllegalStateException(
              s"document store at $path is already open in this JVM " +
                "(close() the other instance first)")
          }
          if (holder.isEmpty) {
            // an empty lock is EITHER a crash between create and write (the
            // two aren't atomic — reclaimable) OR another driver mid-create
            // right now; a short grace re-read separates them, since the
            // healthy writer finishes in microseconds
            Thread.sleep(100)
            holder = readHolder()
          }
          // A STILL-empty descriptor needs an age gate before it counts as
          // stale: a live holder can stall between create and write for far
          // longer than the 100 ms grace (GC pause, object-store read lag),
          // and pid/host of an empty descriptor parse to None — which the
          // foralls below would happily treat as a dead same-host process.
          // Only an empty lock OLDER than the gate (no healthy writer takes
          // seconds to write 100 bytes) is a crash artifact to reclaim.
          val emptyButYoung = holder.isEmpty && {
            val age = try System.currentTimeMillis() -
              fs.getFileStatus(lp).getModificationTime
            catch { case _: Exception => 0L } // vanished/unreadable: defer
            age < 10000L
          }
          val pid = "\"pid\":(\\d+)".r.findFirstMatchIn(holder).map(_.group(1).toLong)
          val host = "\"host\":\"([^\"]*)\"".r.findFirstMatchIn(holder).map(_.group(1))
          // forall, not exists: an OLD empty/unparseable lock has no live
          // claimant to defer to — reclaim it (the exclusive re-create still
          // arbitrates if two reclaimers race)
          val staleSameHost = !emptyButYoung && host.forall(_ == localHost) &&
            pid.forall(p => ProcessHandle.of(p).map[Boolean](h => !h.isAlive).orElse(true))
          if (staleSameHost && attempts < 3) {
            // crashed holder on this host (or an unreadable/empty lock from
            // one). Reclaim protocol, hardened twice over:
            //
            //  1. A RECLAIM MUTEX (exclusive-create sibling file):
            //     reclaimers serialize, so only ONE may touch lp at a time.
            //     Without it, reclaimer C could rename winner B's FRESH
            //     lock aside (rename can't compare-and-swap), opening a
            //     window where a third acquirer's exclusive create wins —
            //     two live drivers (the r10-review interleaving). A mutex
            //     left by a crashed reclaimer is recognized by the same
            //     dead-pid rule and removed.
            //  2. Under the mutex, RE-READ lp and proceed only if it still
            //     carries the stale descriptor we examined; then rename it
            //     aside (never delete-then-create: delete isn't atomic with
            //     the re-create, ADVICE r9) and verify the moved bytes one
            //     more time (defense in depth — holder descriptors embed a
            //     per-instance random token, so fresh ≠ stale always).
            //
            // Plain acquirers never rename; if one's exclusive create wins
            // the emptied slot before ours, the retry below observes its
            // live holder and defers loudly — safe, not a corruption.
            val mx = new org.apache.hadoop.fs.Path(lp.toString + ".reclaim")
            val gotMutex =
              try {
                val out = fs.create(mx, false)
                try out.write(desc.getBytes("UTF-8")) finally out.close()
                true
              } catch {
                case _: java.io.IOException =>
                  // held by a live reclaimer (wait; retry the outer loop) or
                  // left by a crashed one (dead pid → remove; the exclusive
                  // mutex create re-arbitrates next attempt)
                  val m = try {
                    val in = fs.open(mx)
                    try new String(in.readAllBytes(), "UTF-8") finally in.close()
                  } catch { case _: Exception => "" }
                  val mPid = "\"pid\":(\\d+)".r.findFirstMatchIn(m).map(_.group(1).toLong)
                  val mHost = "\"host\":\"([^\"]*)\"".r.findFirstMatchIn(m).map(_.group(1))
                  if (mHost.forall(_ == localHost) && mPid.forall(p =>
                      ProcessHandle.of(p).map[Boolean](h => !h.isAlive).orElse(true)))
                    try fs.delete(mx, false) catch { case _: Exception => () }
                  false
              }
            if (gotMutex) { try {
              reclaimInterleaveHook()
              val cur = readHolder()
              if (cur == holder) {
                val aside = new org.apache.hadoop.fs.Path(
                  lp.toString + s".stale.$token.$attempts")
                if (fs.rename(lp, aside)) {
                  val taken = try {
                    val in = fs.open(aside)
                    try new String(in.readAllBytes(), "UTF-8") finally in.close()
                  } catch { case _: Exception => "" }
                  if (taken == holder) {
                    try fs.delete(aside, false) catch { case _: Exception => () }
                  } else if (!fs.rename(aside, lp)) {
                    // should be unreachable under the mutex; if a takeover
                    // race ever lands here, try to put the stolen
                    // descriptor back, and if the slot was re-claimed keep
                    // the aside file ON DISK — it is the displaced
                    // driver's only evidence
                    val restored =
                      try {
                        val out = fs.create(lp, false)
                        try out.write(taken.getBytes("UTF-8")) finally out.close()
                        true
                      } catch { case _: Exception => false }
                    if (restored)
                      try fs.delete(aside, false) catch { case _: Exception => () }
                    else System.err.println(
                      s"[graft] lock reclaim displaced a live descriptor and " +
                        s"could not restore it — preserved at $aside; " +
                        s"two drivers may be active on $path")
                  }
                }
              }
              // else: the slot changed under us — fall through; the retry
              // observes (and defers to) the new holder
            } finally {
              try fs.delete(mx, false) catch { case _: Exception => () }
            } } else Thread.sleep(150) // let the mutex holder finish, then retry
            // whether or not we reclaimed, retry the exclusive create — it
            // still arbitrates (a live holder makes the retry fail loudly)
          } else throw new IllegalStateException(
            s"document store at $path is locked by another driver " +
              s"(${holder.trim.stripPrefix("{").stripSuffix("}")}); " +
              s"if that process is dead, delete $lp and retry")
      }
    }
  }

  private def release(spark: SparkSession, path: String, token: String): Unit = {
    val lp = lockPath(path)
    if (liveHolders.remove(lp.toString, token)) {
      val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try fs.delete(lp, false) catch { case _: Exception => () }
    }
  }
}
