package graft.store

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.VersionedDoc

/** Bitemporal document store: the Crux semantics the reference exposes to
  * every stored function (`/root/reference/src/dataworks/db/app_db.clj:95-113`,
  * `/root/reference/src/dataworks/db/user_db.clj:28-48`), rebuilt as an
  * append-only versioned Parquet table + window-based as-of views.
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
  * Kafka tx-log (`/root/reference/example-config.edn:3-14`); we funnel
  * writes through one commit point per store instance (a JVM lock +
  * monotonic tx clock — the moral equivalent for a driver-owned control
  * plane; match/cas REQUIRE that serialization, SURVEY.md §7.4 risk 1).
  * Data layout: rows are partitioned by `valid_date` so as-of reads prune
  * historical partitions, and each append is a small parquet file — at
  * warehouse scale you'd compact these, but the read view is identical.
  *
  * Read path: `asOf(vt, tt)` = filter(valid_from <= vt && tx_time <= tt)
  * → row_number() over (partition by id, order by valid_from desc, tx_time
  * desc) = 1 → drop tombstones. The filter is pushed to parquet; the
  * window shuffles by id exactly once.
  *
  * Current reads (`asOf(vt)` with no tx-time cut, hence [[db]], [[q]],
  * [[qPublic]] and the alert poll) skip that scan: Crux answers `(db node)`
  * from maintained indexes, and this store keeps the moral equivalent — a
  * BASE (the live top-1 version per id as of a base time vt0, materialized
  * once with `localCheckpoint`, so it is lineage-free and no compaction
  * can swap files under it) plus a driver-side DELTA (the rows this
  * instance appended since vt0, and rows still future-dated at vt0). A
  * current read picks the delta's winners at its valid time on the driver,
  * filters their ids out of the base's own scan, and unions the live
  * winners back in as a local relation — no timestamp literal or id list
  * enters the plan, so its generated code is the same on every request. The base is dropped, and rebuilt on the next current read, by
  * a retroactive row (validFrom < vt0), a [[putBatch]], an [[evict]], or a
  * delta past [[DocumentStore.MaxDelta]] rows; [[compact]] keeps it.
  */
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

class DocumentStore(val spark: SparkSession, val path: String) {
  import spark.implicits._

  private val lock = new Object
  private val lastTx = new AtomicLong(0L)

  /** Single-driver guard. The store's write path is correct ONLY under one
    * commit point: match/cas read-compare-write through this instance's JVM
    * lock, and the tx clock is instance-local — a second driver on the same
    * path would corrupt both silently (SURVEY §7.4 risk 1; Crux gets the
    * same guarantee from its single Kafka tx-log). So construction takes an
    * exclusive create on `<path>.lock` (sibling file — compact()'s dir swap
    * never touches it) and FAILS FAST naming the other holder. A lock left
    * by a crashed process on THIS host is detected dead via its pid and
    * reclaimed; a lock from another host is never presumed stale — delete
    * it by hand after confirming that driver is gone. */
  private val lockToken = java.util.UUID.randomUUID().toString
  locally { DocumentStore.acquire(spark, path, lockToken) }
  @volatile private var closed = false

  // Seed the tx clock from the table's max committed txTime (one footer-
  // stats-friendly aggregate at open). A previous instance's clock can
  // have run AHEAD of wall-clock (same-ms collision bumps, a backwards
  // NTP step); restarting at wall-clock would assign txTimes <= already-
  // committed ones — changesSince(checkpoint) would silently drop the new
  // writes and asOf's txTime-desc tie-break would prefer the OLD payload.
  // The single-driver lock serializes concurrent opens; this serializes
  // the clock across sequential ones.
  locally {
    val m = versionsRaw().agg(max(col("txTime"))).head().getTimestamp(0)
    if (m != null) { lastTx.updateAndGet(prev => math.max(prev, m.getTime)); () }
  }

  /** Release the single-driver lock. Idempotent; the store object must not
    * be used afterwards (a later re-open is a NEW instance on the path). */
  def close(): Unit = lock.synchronized {
    if (!closed) {
      closed = true
      Option(maintenance.get()).foreach(h =>
        try h.close() catch { case _: Exception => () })
      // reads on a closed store take the scan path; the base's blocks go now
      Option(view).foreach(_.base.rdd.unpersist(blocking = false))
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

  /** The ONE physical append pipeline (partition column, partitioning,
    * save mode): `append` (driver-side rows) and `putBatch` (distributed
    * rows) both delegate here so the table layout can never fork. */
  private def appendDF(rows: DataFrame): Unit =
    rows
      .withColumn("valid_date", to_date(col("validFrom")))
      .write.mode(SaveMode.Append).partitionBy("valid_date").parquet(path)

  /** Every driver-side write lands here, under `lock`: the delta sees each
    * committed row, and a failed append drops the base (a partial commit
    * would otherwise be invisible to current reads). */
  private def append(rows: Seq[VersionedDoc]): Unit = {
    try appendDF(rows.toDS().toDF())
    catch { case e: Throwable => dropView(); throw e }
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

  /** Versioned table INCLUDING the `valid_date` directory-partition column.
    * As-of readers filter on it so Spark prunes whole date partitions from
    * the scan — the layout's entire point at warehouse scale. */
  private def versionsRaw(): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // EXPLICIT schema, never inference: a reader can race an in-flight
    // append (continuous ingest is the norm), and mid-write the directory
    // exists holding only `_temporary` task files — schema inference
    // throws UNABLE_TO_INFER_SCHEMA there, where the correct answer is
    // simply "the committed view" (empty on a first-ever append). The
    // schema is the VersionedDoc encoder's plus the valid_date partition
    // column, i.e. exactly what `append` writes.
    if (fs.exists(p))
      spark.read.schema(versionSchema).parquet(path)
    else {
      // compact()'s swap is rename(path→.old) then rename(.compact→path):
      // a reader landing between the two — or after a crash there — finds
      // the path absent while .old holds the FULL pre-compact data.
      // Reading .old in that window is the correct snapshot (compaction
      // changes layout, never rows); silently returning empty here made
      // the swap window a wrong-answer window, not just a slow one.
      val bak = new org.apache.hadoop.fs.Path(path + ".old")
      if (fs.exists(bak)) spark.read.schema(versionSchema).parquet(bak.toString)
      else spark.emptyDataset[VersionedDoc].toDF()
        .withColumn("valid_date", to_date(col("validFrom")))
    }
  }

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
      appendDF(docs
        .select(
          col("id").cast("string").as("id"),
          lit(vf).as("validFrom"),
          lit(tx).as("txTime"),
          lit(false).as("deleted"),
          col("doc").cast("string").as("doc")))
      tx
    }

  /** Compact the version log: rewrite the accumulated per-put files into
    * one file per valid_date partition (read view unchanged — same rows).
    * At warehouse scale this is the periodic compaction job every
    * append-log table needs; here it runs under the store's write lock. */
  def compact(): Unit = rewriteTable("compact", identity)

  /** Crux `evict`: PHYSICAL erasure of every version of the given ids —
    * the GDPR right-to-be-forgotten operation, and the one thing a
    * tombstone [[delete]] deliberately does NOT do (delete ends
    * visibility; history, as-of reads before the delete, and the payload
    * bytes all remain). Eviction rewrites the version log without the
    * ids' rows — the only way to truly remove data from an immutable
    * append log (crux's evict rewrites its KV indexes the same way) —
    * using [[compact]]'s crash-safe rename-rename swap and the same
    * clustered layout. Serialized with writers under the store lock; a
    * subsequent [[entity]]/[[history]]/[[changes]] shows NO trace of the
    * id, as if it never existed. Heavier than delete by design: one
    * full-table rewrite per eviction batch, so batch ids and run
    * off-peak, like compaction. */
  def evict(ids: Seq[String]): Unit = {
    require(ids.nonEmpty, "evict: no ids given")
    require(ids.forall(i => i != null && i.nonEmpty), "evict: null/empty id")
    lock.synchronized {
      dropView()
      rewriteTable("evict", _.filter(!col("id").isin(ids: _*)))
    }
  }

  def evict(id: String): Unit = evict(Seq(id))

  private def rewriteTable(opName: String,
                           transform: DataFrame => DataFrame): Unit = lock.synchronized {
    requireOpen()
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a previous rewrite that crashed between its two renames left the data
    // at `.old` and the path absent — restore it first (readers were
    // already being served from `.old` by versionsRaw's fallback)
    val prevBak = new Path(path + ".old")
    if (!fs.exists(p) && fs.exists(prevBak) && !fs.rename(prevBak, p))
      throw new java.io.IOException(
        s"$opName: crashed-swap recovery rename $prevBak -> $p failed")
    if (!fs.exists(p)) return
    val tmp = new Path(path + ".compact")
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
    // rename-rename swap (never delete-then-rename): the live path is
    // absent only between the two renames, and a crash there leaves the
    // full data at `<path>.old` + `<path>.compact` for recovery instead of
    // deleted. Concurrent readers hitting that window (single-writer
    // maintenance op — run it off-peak) see a transient missing-path error,
    // not silent data loss.
    val bak = new Path(path + ".old")
    if (fs.exists(bak)) fs.delete(bak, true)
    // a false return from HDFS rename is a real failure mode (destination
    // exists, permissions, cross-volume) — blindly continuing would delete
    // the only surviving copy; abort instead, leaving tmp/bak for recovery
    if (!fs.rename(p, bak))
      throw new java.io.IOException(
        s"$opName: rename $p -> $bak failed; rewritten data left at $tmp")
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(
        s"$opName: rename $tmp -> $p failed; original data left at $bak")
    if (fs.exists(p)) fs.delete(bak, true)
  }

  /** Files per `valid_date` partition — the fragmentation the
    * one-file-per-transaction append layout accumulates. Metadata-only
    * (a directory listing, no data read); the operator-facing health
    * probe behind [[compactIfFragmented]]. */
  def fragmentation(): Map[String, Int] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("valid_date="))
      .map { dir =>
        dir.getPath.getName -> fs.listStatus(dir.getPath)
          .count(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
      }.toMap
  }

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
    currentAt(validTime, txTime).map(_._1).getOrElse(scanAsOf(validTime, txTime))

  /** The version-log scan behind every read the current view does not
    * answer — and the reference the view is tested against. */
  private[store] def scanAsOf(validTime: Timestamp, txTime: Timestamp): DataFrame = {
    val w = Window.partitionBy("id")
      .orderBy(col("validFrom").desc, col("txTime").desc)
    // valid_date = date(validFrom), so validFrom <= vt implies
    // valid_date <= date(vt) + slack: the redundant predicate on the
    // DIRECTORY partition column lets Spark prune every post-snapshot date
    // partition from the scan (PlanQualitySpec pins this) — the row-level
    // validFrom cut alone cannot prune directories. The 2-day slack makes
    // the prune timezone-safe: valid_date was rendered in the WRITER
    // session's timezone, to_date(vt) in the READER's, and two renderings
    // of one instant can differ by up to two calendar days across extreme
    // zones (UTC-12 vs UTC+14). Exactness still comes from the row-level
    // instant comparison; the slack only admits two extra directories.
    versionsRaw()
      .filter(col("valid_date") <= date_add(to_date(lit(validTime)), 2) &&
        col("validFrom") <= lit(validTime) && col("txTime") <= lit(txTime))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && !col("deleted"))
      .select("id", "validFrom", "txTime", "doc")
  }

  def asOf(validTime: Timestamp): DataFrame = asOf(validTime, DocumentStore.MaxTxTime)

  // ----------------------------------------------------------- current view

  /** Written under `lock` only; readers take one consistent snapshot. */
  @volatile private var view: DocumentStore.View = null
  /** Wall-clock ms before which no base is built: set when more rows than
    * [[DocumentStore.MaxDelta]] were future-dated at the last attempt
    * (they fall due only as time passes). */
  @volatile private var noViewUntil = 0L

  /** Drop the base (caller holds `lock`). Its blocks are released by
    * Spark's cleaner once no in-flight read references them. */
  private def dropView(): Unit = {
    Option(view).foreach(_.base.statsSources.values()
      .forEach(graft.query.datalog.DatalogCompiler.forgetStats(_)))
    view = null
  }

  /** Build the base as of `vt0` (caller holds `lock`, so no write or
    * compaction runs meanwhile): one job collects the future-dated rows
    * into the delta, one window job materializes the base. */
  private def buildView(vt0: Long): Option[DocumentStore.View] = {
    val raw = versionsRaw()
    val cut = lit(new Timestamp(vt0))
    val future = raw.filter(col("validFrom") > cut).drop("valid_date")
      .as[VersionedDoc].limit(DocumentStore.MaxDelta + 1).collect().toVector
    if (future.size > DocumentStore.MaxDelta) {
      noViewUntil = System.currentTimeMillis() + DocumentStore.ViewRetryMs
      return None
    }
    val w = Window.partitionBy("id")
      .orderBy(col("validFrom").desc, col("txTime").desc)
    val top = raw.filter(col("validFrom") <= cut)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && !col("deleted"))
      .select("id", "validFrom", "txTime", "doc")
    val (df, _, rdd) =
      org.apache.spark.sql.graft.DatasetBridge.materializeWithCount(top, reliable = false)
    Some(DocumentStore.View(new DocumentStore.Base(vt0, df, rdd), future))
  }

  /** The current view at `validTime`, with its base, when it answers this
    * read: no tx-time cut, an open store, and a valid time at or past the
    * base's (a missing base is built here, as of `validTime` or now). */
  private def currentAt(validTime: Timestamp, txTime: Timestamp): Option[(DataFrame, DocumentStore.Base)] = {
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
      val winners = x.delta.filter(_.validFrom.getTime <= vt).groupBy(_.id).values
        .map(_.maxBy(r => (r.validFrom.getTime, r.txTime.getTime))).toSeq
      val snap =
        if (winners.isEmpty) x.base.df
        else {
          // the superseded ids leave the base inside its own scan: a join
          // would broadcast them, one more job per read
          val superseded = winners.map(r => UTF8String.fromString(r.id)).toSet
          org.apache.spark.sql.graft.DatasetBridge.internalCreate(spark,
            x.base.rdd.filter(row => !superseded.contains(row.getUTF8String(0))),
            x.base.df.schema)
            .unionByName(winners.filterNot(_.deleted)
              .map(r => (r.id, r.validFrom, r.txTime, r.doc))
              .toDF("id", "validFrom", "txTime", "doc"))
        }
      (snap, x.base)
    }
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
    * hides an earlier put), then flow through the SAME as-of window as
    * [[db]] — one code path decides visibility for committed and
    * speculative rows alike. The store itself is untouched: no append,
    * no tx-clock advance; [[db]]/[[entity]] after the call are oblivious.
    *
    * A `TxOp.Match` asserts the doc visible AT THAT POINT of the op
    * sequence (earlier speculative ops count — crux's in-order apply);
    * a failed match ABORTS: withTx returns None, crux's nil. Match
    * evaluation mirrors the plan's window exactly on the driver — the
    * committed candidate is one id-pushed, partition-pruned top-1 read
    * (memoized per id), compared by the same (validFrom, txTime) rank
    * against the speculative rows so far — so "what Match saw" and
    * "what the returned snapshot shows" can never disagree. Cost: one
    * bounded Spark job per DISTINCT matched id, driver memory O(ops).
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
    // committed top-1 candidate per matched id: (validFrom, txTime,
    // deleted, doc) under the same vt cut the plan applies
    val committedTop = scala.collection.mutable.Map
      .empty[String, Option[(Long, Long, Boolean, String)]]
    def committed(id: String): Option[(Long, Long, Boolean, String)] =
      committedTop.getOrElseUpdate(id, retryOnSwap {
        versionsRaw()
          .filter(col("id") === id &&
            col("valid_date") <= date_add(to_date(lit(vt)), 2) &&
            col("validFrom") <= lit(vt))
          .orderBy(col("validFrom").desc, col("txTime").desc).limit(1)
          .select("validFrom", "txTime", "deleted", "doc")
          .collect().headOption.map(r => (r.getTimestamp(0).getTime,
            r.getTimestamp(1).getTime, r.getBoolean(2), r.getString(3)))
      })
    val specRows = Vector.newBuilder[VersionedDoc]
    var specSoFar = List.empty[VersionedDoc] // newest first
    ops.zipWithIndex.foreach {
      case (TxOp.Put(id, doc, vf), i) =>
        val v = VersionedDoc(id, vf.getOrElse(vt),
          new Timestamp(base + 1 + i), deleted = false, doc)
        specRows += v; specSoFar ::= v
      case (TxOp.Delete(id, vf), i) =>
        val v = VersionedDoc(id, vf.getOrElse(vt),
          new Timestamp(base + 1 + i), deleted = true, doc = null)
        specRows += v; specSoFar ::= v
      case (TxOp.Match(id, expected), _) =>
        val candidates =
          committed(id).toSeq ++
            specSoFar.filter(v => v.id == id && v.validFrom.getTime <= vt.getTime)
              .map(v => (v.validFrom.getTime, v.txTime.getTime, v.deleted, v.doc))
        val visible = candidates
          .sortBy(c => (c._1, c._2)).lastOption
          .filterNot(_._3).map(_._4)
        if (visible != expected) return None // crux: failed match aborts → nil
    }
    val rows = specRows.result()
    val unioned =
      if (rows.isEmpty) versionsRaw() // all-Match op list that passed
      else versionsRaw().unionByName(rows.toDS().toDF()
        .withColumn("valid_date", to_date(col("validFrom"))))
    val w = Window.partitionBy("id")
      .orderBy(col("validFrom").desc, col("txTime").desc)
    Some(unioned
      .filter(col("valid_date") <= date_add(to_date(lit(vt)), 2) &&
        col("validFrom") <= lit(vt))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && !col("deleted"))
      .select("id", "validFrom", "txTime", "doc"))
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

  /** One rebuild-and-retry for the store's OWN driver-side reads across a
    * compaction swap: a plan lists the parquet files at DataFrame build
    * time and reads them at action time — a rewrite landing in that
    * millisecond gap (routine under [[startMaintenance]], not just the
    * manual off-peak ritual) renames the listed files away and the action
    * throws FAILED_READ_FILE. `f` must BUILD the plan as well as run it,
    * so the retry lists the post-swap files; failing twice needs two
    * full compactions inside two consecutive point reads. Lazy DataFrames
    * handed to callers (db/asOf/q/changes) keep Spark's own contract:
    * re-derive after a swap, as the error message instructs. */
  private def retryOnSwap[T](f: => T): T =
    try f catch {
      case e: Exception
          if Option(e.getMessage).exists(m =>
            m.contains("FAILED_READ_FILE") || m.contains("FILE_NOT_EXIST") ||
              m.contains("does not exist")) => f
    }

  /** Q1: entity lookup — current doc payload for `id`, if visible. */
  def entity(id: String): Option[String] = entity(id, now())

  def entity(id: String, validTime: Timestamp): Option[String] = retryOnSwap {
    // id filter applied BEFORE the window so parquet only surfaces this
    // entity's versions (predicate pushdown; no full-table window).
    val w = Window.partitionBy("id")
      .orderBy(col("validFrom").desc, col("txTime").desc)
    versionsRaw() // same 2-day TZ slack on the partition prune as asOf()
      .filter(col("id") === id &&
        col("valid_date") <= date_add(to_date(lit(validTime)), 2) &&
        col("validFrom") <= lit(validTime))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && !col("deleted"))
      .select("doc")
      .as[String].collect().headOption
  }

  /** Crux `entity-tx` — the bitemporal coordinates of the version that
    * makes `entity(id, validTime)` answer: (validFrom = crux valid-time,
    * txTime = crux tx-time). None when the entity is absent or
    * tombstoned at that cut, exactly when `entity` is None (crux returns
    * nil then too). Same pushed id filter + window as the payload read. */
  def entityTx(id: String, validTime: Timestamp): Option[(Timestamp, Timestamp)] =
    retryOnSwap {
      val w = Window.partitionBy("id")
        .orderBy(col("validFrom").desc, col("txTime").desc)
      versionsRaw()
        .filter(col("id") === id &&
          col("valid_date") <= date_add(to_date(lit(validTime)), 2) &&
          col("validFrom") <= lit(validTime))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && !col("deleted"))
        .select("validFrom", "txTime")
        .collect().headOption.map(r =>
          (r.getTimestamp(0), r.getTimestamp(1)))
    }

  def entityTx(id: String): Option[(Timestamp, Timestamp)] = entityTx(id, now())

  /** Typed view of the history for Dataset-style callers. */
  def history(): Dataset[VersionedDoc] = {
    versions()
      .select("id", "validFrom", "txTime", "deleted", "doc").as[VersionedDoc]
  }

  /** Crux `entity-history`: the full version chain of ONE entity — every
    * (validFrom, txTime) version INCLUDING tombstones, newest first (oldest
    * first with `asc = true`), the canonical companion to `entity`
    * (`/root/reference/src/dataworks/db/user_db.clj:45-48`). The id filter
    * pushes to parquet, so the chain read never surfaces other entities'
    * rows; no window is needed — a chain is one entity's versions. */
  def history(id: String, asc: Boolean = false): DataFrame = {
    val chain = versions().filter(col("id") === id)
    (if (asc) chain.orderBy(col("validFrom").asc, col("txTime").asc)
     else chain.orderBy(col("validFrom").desc, col("txTime").desc))
      .select("id", "validFrom", "txTime", "deleted", "doc")
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
    * committed ([[relation]]) and speculative ([[qWith]]) paths so both
    * query surfaces see identical typing rules. */
  private def relationOf(snap: DataFrame,
                         schema: org.apache.spark.sql.types.StructType): DataFrame =
    snap
      .select(col("id"), from_json(col("doc"), schema).as("d"))
      // getField takes the literal name — col(s"d.$f") would parse a field
      // named "price.usd" as a two-level path and fail analysis
      .select(col("id") +: schema.fieldNames.toSeq
        .map(f => col("d").getField(f).as(f)): _*)

  /** EDN Datalog over the (valid-time, tx-time) snapshot, `publicOnly`
    * dropping ':' ids. Over the current view the join-ranking statistics
    * come from the same relation over the BASE: its plan is the same on
    * every request, so the stats pass runs once per base instead of once
    * per commit (stats only rank joins — no result depends on them). */
  private def query(edn: String, schema: org.apache.spark.sql.types.StructType,
                    validTime: Timestamp, txTime: Timestamp,
                    publicOnly: Boolean): Either[String, DataFrame] = {
    def scope(df: DataFrame): DataFrame =
      if (publicOnly) df.filter(!col("id").startsWith(":")) else df
    currentAt(validTime, txTime) match {
      case Some((snap, base)) =>
        val stats = base.statsSources.computeIfAbsent((schema, publicOnly),
          _ => scope(relationOf(base.df, schema)))
        graft.query.datalog.EdnDatalog.run(scope(relationOf(snap, schema)), edn,
          new graft.query.datalog.DatalogCompiler(statsSource = Some(stats)))
      case None =>
        graft.query.datalog.EdnDatalog.run(
          scope(relationOf(scanAsOf(validTime, txTime), schema)), edn)
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

  /** The materialized base: live top-1 version per id as of `vt0`, as
    * (id, validFrom, txTime, doc), backed by the locally checkpointed
    * `rdd`. A tombstone winner is left out: any later version of its id
    * arrives through the delta and replaces the base row regardless.
    * `statsSources` memoizes the Datalog stats relation per (schema,
    * public-only), so the compiler's stats pass runs once per base. */
  private final class Base(val vt0: Long, val df: DataFrame,
                           val rdd: org.apache.spark.rdd.RDD[InternalRow]) {
    val statsSources = new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.types.StructType, Boolean), DataFrame]()
  }
  /** Base plus the rows appended since (and rows future-dated at vt0). */
  private final case class View(base: Base, delta: Vector[VersionedDoc])

  /** Delta rows past which the current view's base is dropped and rebuilt:
    * each current read scans the delta on the driver and ships its
    * winners in the plan, so it must stay small. */
  private[store] val MaxDelta = 1024

  /** Wait before retrying a base that too many future-dated rows refused. */
  private val ViewRetryMs = 10000L

  /** In-JVM holder registry: the pid check below cannot see a second store
    * INSIDE this same process (its pid is alive — ours), so live holders in
    * this JVM are tracked here. Keyed by the lock file's string path. */
  private val liveHolders = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Test hook: runs after a reclaimer observes a stale holder and before its
    * reclaim rename — the window in which a competing reclaimer can win and
    * recreate a fresh lock. Lets the spec force that interleaving
    * deterministically instead of hoping a thread race lands on it. */
  private[store] var reclaimInterleaveHook: () => Unit = () => ()

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
