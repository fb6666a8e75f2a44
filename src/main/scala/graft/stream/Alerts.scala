package graft.stream

import java.sql.Timestamp
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.registry.FunctionRegistry
import graft.store.DocumentStore

/** T20 alert scheduler (`/root/reference/src/dataworks/utils/alert.clj:9-51`):
  * timers are *future-valid-time documents* — a put at valid-from = due-time
  * is invisible until due (S2), and a 1 s poll over the as-of view picks it
  * up, claims it, invokes the named handler, then deletes it.
  *
  * Alert doc shape (FIXTURES.md): `{"appName":…, "alertHandler":…,
  * "alertParams":[…], "alertClaim":…}` under an id ending in "/alert".
  *
  * Divergence, deliberate: the reference's claim is racy (an unconditional
  * put that always commits, noted at SURVEY.md §2.3 T20); here the claim is
  * a real compare-and-set through the store's serialized write path, so two
  * scheduler instances can't both fire one alert — replicating intent, not
  * the race. */
class AlertScheduler(store: DocumentStore,
                     registry: FunctionRegistry = FunctionRegistry.default,
                     pollMillis: Long = 1000, // faithful to alert.clj:36
                     claimId: String = java.util.UUID.randomUUID().toString,
                     claimTtlMillis: Long = 60000) {

  private implicit val formats: Formats = DefaultFormats
  @volatile private var exec: Option[ScheduledExecutorService] = None
  @volatile private var firedCount: Long = 0L
  @volatile private var skippedCount: Long = 0L
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Cap on the id-probe fan-in before tick falls back to the one-pass
    * plan (see the scale note on [[tick]]). */
  private val maxProbeIds = 5000

  def fired: Long = firedCount

  /** Polls that failed and were skipped (each logged at warn with its
    * cause); the next poll retries. */
  def skipped: Long = skippedCount

  /** One poll: due (= now-visible) alert docs → claim → handle → delete.
    * The WHOLE body is guarded: `scheduleWithFixedDelay` suppresses all
    * future runs after an uncaught throw, so a transient Spark failure in
    * the scan must never escape.
    *
    * Scale shape (this runs EVERY second against a store whose version
    * log only grows): two phases, so the per-tick cost tracks the ALERT
    * population, not the corpus.
    *
    *  1. Probe the `id` column alone for alert-suffixed ids — one
    *     column's worth of IO (Spark 4 pushes EndsWith to parquet, so
    *     dictionary-filtered row groups skip wholesale), never decoding
    *     `doc` payloads. Alert ids are control-plane-scale, so the
    *     collect is bounded.
    *  2. Run the bitemporal as-of resolution ONLY over those ids: the
    *     `isin` pushes an In filter to the scan (row-group min/max on a
    *     compacted id-clustered layout skips everything else) and the
    *     rn=1 window partitions over a handful of ids instead of every
    *     entity in the store.
    *
    * If the alert-id population ever exceeds [[maxProbeIds]] (pathology:
    * unbounded DISTINCT alert names — tombstones of FIRED alerts don't
    * accumulate ids when names recur), fall back to the single-pass plan
    * rather than build a degenerate In list. */
  def tick(now: Timestamp = store.now()): Unit = try {
    import org.apache.spark.sql.functions.col
    import store.spark.implicits._
    val alertIds = store.versions().select("id")
      .where(col("id").endsWith("/alert"))
      .distinct().limit(maxProbeIds + 1)
      .as[String].collect()
    if (alertIds.isEmpty) return
    val asOfAll = store.asOf(now)
    val snapshot =
      if (alertIds.length > maxProbeIds) asOfAll.filter("id LIKE '%/alert'")
      else asOfAll.filter(col("id").isin(alertIds.toSeq: _*))
    val due = snapshot
      .select("id", "doc")
      .as[(String, String)]
      .collect() // alert docs are control-plane-scale (few), like the 1 s poll loop
    val nowMs = System.currentTimeMillis()
    due.foreach { case (id, doc) =>
      try {
        val parsed = JsonMethods.parse(doc)
        // a claim EXPIRES after claimTtlMillis: an instance that claimed an
        // alert and died before deleting it must not lose the alert forever
        // — any instance may re-claim (fresh CAS) once the claim is stale.
        // Claims without a timestamp (legacy/corrupt) count as stale.
        val claimFresh = (parsed \ "alertClaim") != JNothing &&
          (parsed \ "alertClaimAt").extractOpt[Long]
            .exists(at => nowMs - at < claimTtlMillis)
        if (!claimFresh) {
          val claimed = JsonMethods.compact(JsonMethods.render(
            parsed.merge(JObject("alertClaim" -> JString(claimId),
              "alertClaimAt" -> JLong(nowMs)))))
          // real CAS claim: only one scheduler instance wins (cf. alert.clj:20-28)
          if (store.cas(id, doc, claimed)) {
            val handler = (parsed \ "alertHandler").extractOpt[String]
            val params = (parsed \ "alertParams") match {
              case JArray(xs) => xs.map(x => JsonMethods.compact(JsonMethods.render(x)))
              case JNothing => Nil
              case other => List(JsonMethods.compact(JsonMethods.render(other)))
            }
            handler.foreach { h =>
              registry.transact(h, params) // fire-and-forget, like transact!
              firedCount += 1
            }
            store.delete(id) // alert.clj:31
          }
        }
      } catch { // a bad alert doc never kills the loop
        case scala.util.control.NonFatal(e) => log.warn(s"alert '$id' skipped this poll", e)
      }
    }
  } catch { // transient scan failure: retry next poll
    case scala.util.control.NonFatal(e) =>
      skippedCount += 1
      log.warn("alert poll skipped", e)
  }

  def start(): Unit = synchronized {
    if (exec.isEmpty) {
      val e = Executors.newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, "graft-alerts"); t.setDaemon(true); t
      })
      e.scheduleWithFixedDelay(() => tick(), pollMillis, pollMillis, TimeUnit.MILLISECONDS)
      exec = Some(e)
    }
  }

  def stop(): Unit = synchronized { exec.foreach(_.shutdownNow()); exec = None }
}
