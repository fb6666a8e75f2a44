package graft.stream

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.VersionedDoc
import graft.ext.Dedup
import graft.store.DocumentStore

/** The store's change feed as a STREAM, and the maintenance loop it powers.
  *
  * [[DocumentStore]] is an append-only partitioned parquet table where one
  * transaction = one file — which makes the tx log a Structured Streaming
  * file source for free: `readStream` over the store path picks up exactly
  * the newly committed files, so steady-state tailing costs the delta, not
  * a history scan (the reference's stored functions react to writes via
  * Kafka; here the table IS the log — SURVEY.md §3.3's write-reaction loop
  * without a broker). The batch catch-up companion is
  * [[DocumentStore.changesSince]].
  *
  * Caveats, both inherent to file-source tailing and documented here as the
  * operating contract:
  *  - the first micro-batch replays every file already present (catch-up);
  *    consumers must be idempotent under replay — [[maintainShingleIndex]]
  *    anti-joins against the index's own doc ids, so replayed or
  *    already-indexed docs are no-ops;
  *  - [[DocumentStore.compact]] writes the log as a new generation
  *    directory (`<path>/g=<N+1>`) and later deletes the old one. A running
  *    tail SURVIVES it (no failed batch: `ignoreMissingFiles` covers a file
  *    deleted after the source listed it) but sees the new generation's
  *    files as new and replays the history once — the same idempotence the
  *    catch-up replay already demands. Compacting during quiet hours
  *    minimizes the replay cost; it is not a correctness requirement
  *    (CompactionRaceSpec is the drill).
  */
object StoreChanges {

  /** Tail the store as a stream of version rows (id, validFrom, txTime,
    * deleted, doc). The source lists every generation's files
    * (`recursiveFileLookup`, so no directory becomes a column: the schema
    * is the transaction file's). `maxFilesPerTrigger` bounds a
    * micro-batch — catch-up over a long history proceeds in increments
    * instead of one giant batch.
    *
    * `ignoreMissingFiles` is set for compaction-tolerance: a compaction
    * can delete a file BETWEEN this source listing it and reading it, and
    * without the option that batch fails the query. With it, the batch
    * skips the vanished file — and loses nothing, because every row it held
    * lives in the compacted files, which the source then lists as new and
    * replays (CompactionRaceSpec drills this). Net contract: the tail is
    * AT-LEAST-ONCE across compaction; consumers must already be idempotent
    * under replay (the catch-up caveat above), and a compaction makes the
    * whole history replay once. */
  def stream(spark: SparkSession, storePath: String,
             maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream
      .schema(Encoders.product[VersionedDoc].schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("ignoreMissingFiles", "true")
      .parquet(storePath)

  /** Keep a staged shingle index ([[Dedup.stageShingleIndex]]) maintained
    * from the store's change feed: every committed put flows through the
    * tail and is merged via [[Dedup.appendToShingleIndex]], so downstream
    * dedup/admission always probes an index that includes the documents
    * already ingested — the daily-append 100 TB pipeline as a standing
    * stream instead of a scheduled rebuild.
    *
    * Per micro-batch: keep each id's LATEST live version (tombstoned ids
    * drop out), extract the text payload from the JSON doc, then anti-join
    * against the ids already in the index — only genuinely new documents
    * pay tokenize+merge. The anti-join also makes the loop idempotent
    * under catch-up replay and checkpoint recovery, and enforces
    * `appendToShingleIndex`'s ids-are-new contract (an UPDATED document's
    * re-index still needs a re-stage — same contract as any staged
    * artifact).
    *
    * The index's docs side is probed from its staged files (ids only — a
    * column-pruned parquet read, cheap vs. the delta's tokenize), so a
    * concurrent re-stage is picked up on the next batch. */
  def maintainShingleIndex(spark: SparkSession, storePath: String,
                           indexPath: String, queryName: String,
                           textJsonPath: String = "$.text",
                           shingleN: Int = 3, maxDf: Int = 10,
                           maxFilesPerTrigger: Int = 64): StreamingQuery =
    stream(spark, storePath, maxFilesPerTrigger).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = Window.partitionBy("id")
          .orderBy(col("txTime").desc, col("validFrom").desc)
        val live = batch
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .filter(!col("deleted"))
          .select(col("id").as("doc_id"),
            get_json_object(col("doc"), textJsonPath).as("text"))
          .filter(col("text").isNotNull)
        val known = spark.read
          .parquet(graft.core.Staged.resolve(spark, indexPath) + "/docs")
          .select(col("id").as("doc_id"))
        val fresh = live.join(known, Seq("doc_id"), "left_anti")
        if (!fresh.isEmpty)
          Dedup.appendToShingleIndex(fresh, indexPath,
            shingleN = shingleN, maxDf = maxDf)
        ()
      }
      .queryName(queryName)
      .start()
}
