package graft.stream

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{NodeName, StreamNode}
import graft.registry.FunctionRegistry
import graft.store.DocumentStore

/** Streaming-query lifecycle manager: graph wiring (T13), startup bootstrap
  * (T19), hot-swap (T15), and the control-plane refresh (T18).
  *
  * Hot-swap contract (`/root/reference/ReadMe.org:64`): messages processed
  * before the swap ran the old code, messages after run the new code. Here
  * that falls out of checkpointed restarts: each sink query's checkpoint
  * holds its committed offsets, so stop → rebuild plan with the new node →
  * start with the same queryName resumes exactly after the last committed
  * batch. Only the affected subgraph (T14 `query-graph`) restarts —
  * untouched sinks keep running (`update-graph!`,
  * `/root/reference/src/dataworks/stream.clj:21-28,66-81`).
  */
class StreamManager(val topology: Topology) {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val running = TrieMap.empty[String, StreamingQuery]

  /** Serializes graph mutations. The management plane applies an update
    * locally AND broadcasts it; the control-plane subscriber applies the
    * same update from the topic — two threads stop/starting one
    * checkpointed query concurrently corrupts its StreamMetadata
    * ("multiple streaming queries using metadata"). Mutations are
    * control-plane-scale (rare), so one lock is the right tool. */
  private val adminLock = new Object

  // injective escape ('/'→"_s", '_'→"_u"): plain '/'→'_' collides
  // "kafka/a/b" with "kafka/a_b" — duplicate Spark query names AND a shared
  // checkpoint dir, where a restart of one silently resumes the OTHER
  // query's committed offsets
  private def queryName(full: String): String =
    full.flatMap { case '/' => "_s"; case '_' => "_u"; case c => c.toString }

  // pre-injective-escape query name ('/'→'_'): the scheme durable
  // checkpoints may have been committed under before this release
  private def legacyQueryName(full: String): String = full.replace('/', '_')

  /** Adopt a legacy-named checkpoint (if any) before starting `suffix`-ed
    * queries for node `full` — upgraded deployments resume their committed
    * offsets instead of silently reprocessing from scratch.
    *
    * The legacy scheme was non-injective, so one legacy dir can be claimed
    * by several current queries (node `stream/a`'s `_errors` checkpoint vs
    * a node literally named `stream/a_errors`): whichever started first
    * would adopt the other's committed offsets. When more than one
    * registered node maps to the same legacy name, adoption is ambiguous —
    * skip it loudly and let the query start from a fresh checkpoint (the
    * safe, at-least-once direction) rather than resume the wrong offsets. */
  private[stream] def adoptCheckpoint(full: String, suffix: String = ""): Unit = {
    val target = legacyQueryName(full) + suffix
    // a node claims a legacy dir only for queries it would actually run:
    // the plain name for its sink query (kafka sinks with upstreams), the
    // '_errors' name only when it has an error handler. Counting every
    // node for both names refused adoption of genuinely unambiguous dirs
    // (e.g. sink 'kafka/a_errors' vs an error-handler-less 'kafka/a').
    val claimants = topology.nodes.values.toSeq.flatMap { n =>
      val main =
        if (n.upstream.nonEmpty && n.name.isInstanceOf[graft.core.NodeName.KafkaTopic])
          Seq(legacyQueryName(n.name.full))
        else Seq.empty
      val errors =
        if (n.errorSink.isDefined) Seq(legacyQueryName(n.name.full) + "_errors")
        else Seq.empty
      main ++ errors
    }.count(_ == target)
    if (claimants > 1)
      log.warn(s"legacy checkpoint '$target' is claimed by $claimants current " +
        s"queries (non-injective legacy naming); not adopting it for " +
        s"'${queryName(full) + suffix}' — starting fresh")
    else
      // the query's source topics ride along so the IO layer can verify
      // the legacy dir's committed offsets actually belong to this query
      // (a prior topology's same-named dir is refused, not resumed)
      topology.io.migrateCheckpoint(target, queryName(full) + suffix,
        topology.sourceTopics(full))
  }

  /** Name of the internal control-plane topic
    * (`/root/reference/src/dataworks/app_graph.clj:13-19`). Reserved at
    * NodeName.parse so no user kafka node can collide with it. */
  val controlTopic = NodeName.ControlTopic

  // last checkpoint name used per running-map key — lets a restart detect
  // that the stateful change class rotated the checkpoint (clean restart)
  private val lastCheckpoint = TrieMap.empty[String, String]

  /** Checkpoint-directory name for node `full`'s `suffix`-ed query — the
    * per-change-class hot-swap contract (SURVEY.md §7.4 risk 2):
    *
    *   - STATELESS plan (empty [[Topology.statefulSignature]]): the plain
    *     query name, forever. Map/filter swaps restart from committed
    *     offsets — old messages old code, new messages new code.
    *   - STATEFUL plan: query name + a hash of the stateful signature. A
    *     swap that preserves the stateful shape (e.g. edits a downstream
    *     map) resumes its own checkpoint, state included; a swap that
    *     CHANGES the shape (adds/removes/re-parameterizes a windowAgg /
    *     sessionAgg / dedupe) gets a fresh checkpoint instead of handing
    *     Spark an incompatible one (StateSchemaNotCompatible — the query
    *     would crash-loop). That is a documented CLEAN RESTART: committed
    *     offsets are abandoned loudly; sources re-read per their policy
    *     (Kafka `startingOffsets=latest` → only new messages; replayable
    *     test sources → reprocess), i.e. at-least-once across this one
    *     transition, never silent state corruption. */
  private[stream] def checkpointFor(full: String, suffix: String = ""): String = {
    val sig = topology.statefulSignature(full)
    val base = queryName(full) + suffix
    // "_t" is UNFORGEABLE in escaped text: '_' appears in queryName output
    // only as the escapes "_s"/"_u", so no node name can produce "_t…" and
    // collide with a signature-suffixed checkpoint. (The previous "_st"
    // suffix was forgeable: node "kafka/a/t<hex>" escaped to
    // "kafka_sa" + "_st<hex>" — exactly stateful "kafka/a"'s checkpoint.)
    val name =
      if (sig.isEmpty) base
      else base + "_t" + java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.orderedHash(sig).toLong & 0xffffffffL)
    lastCheckpoint.put(full + suffix, name).foreach { prev =>
      if (prev != name)
        log.warn(s"stateful shape of '$full' changed: checkpoint rotates " +
          s"'$prev' -> '$name' (clean restart; committed offsets abandoned)")
    }
    name
  }

  // ------------------------------------------------------------------ wiring

  /** One-time adoption of a pre-rename stateful checkpoint: the suffix
    * literal changed "_st"→"_t" (forgeability fix) but the signature hash
    * did not, so an upgraded deployment's stateful query must resume its
    * committed state+offsets under the new name instead of silently
    * restarting fresh — `lastCheckpoint` is in-memory, so the rotation
    * warning could never fire across a process restart (ADVICE r11).
    * Same rails as legacy adoption: migrateCheckpoint renames only when
    * the new dir doesn't exist yet AND the old dir's committed offsets
    * actually track this query's source topics (a forged "_st" dir from
    * the collision this rename fixed reads different sources → refused). */
  private[stream] def adoptStatefulRename(full: String, suffix: String,
                                          ckpt: String): Unit = {
    val marker = queryName(full) + suffix + "_t"
    if (ckpt.startsWith(marker))
      topology.io.migrateCheckpoint(
        queryName(full) + suffix + "_st" + ckpt.stripPrefix(marker),
        ckpt, topology.sourceTopics(full))
  }

  /** Start the sink query for one kafka sink node (producer loop). */
  def startSink(n: StreamNode): StreamingQuery = {
    val topic = n.name.asInstanceOf[NodeName.KafkaTopic].name
    val plan = topology.buildPlan(n.name.full)
    val ckpt = checkpointFor(n.name.full)
    // legacy adoption only for stateless plans (ckpt == plain query name):
    // a signature-suffixed dir never existed under the legacy scheme, and a
    // stateful plan must not adopt offsets committed under an unknown shape
    if (ckpt == queryName(n.name.full)) adoptCheckpoint(n.name.full)
    else adoptStatefulRename(n.name.full, "", ckpt)
    val q = topology.io.sink(topic, plan, queryName(n.name.full), ckpt)
    running.put(n.name.full, q)
    q
  }

  /** Dead-letter route (T10) for ANY node with an error handler — sink or
    * intermediate: rows its transducer nulled out go to the error topic. */
  def startDeadLetter(n: StreamNode): Option[StreamingQuery] =
    topology.deadLetterPlan(n.name.full).map { dead =>
      val ckpt = checkpointFor(n.name.full, "_errors")
      if (ckpt == queryName(n.name.full) + "_errors")
        adoptCheckpoint(n.name.full, "_errors")
      else adoptStatefulRename(n.name.full, "_errors", ckpt)
      val eq = topology.io.sink(n.errorSink.get, dead,
        queryName(n.name.full) + "_errors", ckpt)
      running.put(n.name.full + "#errors", eq)
      eq
    }

  /** T13/T19 `apply-graph!` + startup bootstrap: start every sink query and
    * every error-handler's dead-letter query not yet running. Idempotent. */
  def applyGraph(): Seq[StreamingQuery] = adminLock.synchronized {
    // liveness sweep FIRST: a query that TERMINATED with an exception (not
    // stopped by us — stopSink deregisters) would otherwise keep its map
    // entry forever, and the membership checks below would never restart
    // it — a transient broker outage would take the pipeline down silently
    // until process restart. Restart-from-checkpoint is exactly the
    // recovery the hot-swap machinery already provides.
    running.filterInPlace { (k, q) =>
      val alive = q.isActive
      if (!alive) log.warn(s"query '$k' terminated" +
        q.exception.map(e => s" (${e.getMessage})").getOrElse("") +
        " — restarting it from its checkpoint")
      alive
    }
    // per-sink isolation: one node whose plan can't build (e.g. a
    // bootstrapped doc referencing a node that no longer exists) must not
    // prevent every OTHER sink from starting — and must never propagate out
    // of a control-plane micro-batch (which would kill the control plane)
    def tryStart[A](what: String)(f: => A): Option[A] =
      try Some(f) catch {
        case scala.util.control.NonFatal(e) =>
          log.warn(s"skipping unstartable $what: ${e.getMessage}"); None
      }
    val mains = topology.sinkNodes.sortBy(_.name.full)
      .filterNot(n => running.contains(n.name.full))
      .flatMap(n => tryStart(s"sink ${n.name.full}")(startSink(n)))
    val deads = topology.nodes.values.toSeq.sortBy(_.name.full)
      .filter(n => n.errorSink.isDefined && !running.contains(n.name.full + "#errors"))
      .flatMap(n => tryStart(s"dead-letter ${n.name.full}")(startDeadLetter(n)).flatten)
    // drains are user intent (T17 "keep this node flowing") — a hot-swap of
    // anything upstream stops them via stopSink, so apply-graph must bring
    // them back like any other query, or an update silently unplugs them
    val drains = drainIntents.toArray(Array.empty[String]).toSeq.sorted
      .filter(f => topology.nodes.contains(f) && !running.contains(f + "#drain"))
      .flatMap(f => tryStart(s"drain $f")(startDrain(f)))
    mains ++ deads ++ drains
  }

  def runningQueries: Map[String, StreamingQuery] = running.toMap

  /** T16 `stream!`: push data into any node by name
    * (`/root/reference/src/dataworks/streams.clj:21-24`). */
  def stream(nodeName: String, key: String, value: String): Unit =
    topology.io.publish(nodeName, key, value)

  /** T17 drain: consume-and-discard a node's output to keep it flowing
    * (`take-while`, `/root/reference/src/dataworks/utils/stream.clj:120-126`)
    * — the `noop` sink. */
  /** Nodes the user asked to keep draining — survives stopSink (a hot-swap
    * stops the #drain query; applyGraph restarts it from this set). */
  private val drainIntents =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def drain(full: String): StreamingQuery = {
    drainIntents.add(full)
    startDrain(full)
  }

  private def startDrain(full: String): StreamingQuery = {
    // no checkpoint adoption here: the noop drain sets no checkpointLocation
    // (consume-and-discard has no offsets worth resuming), so there is no
    // durable directory under either naming scheme to migrate
    val q = topology.buildPlan(full)
      .writeStream.format("noop").queryName(queryName(full) + "_drain").start()
    running.put(full + "#drain", q)
    q
  }

  /** Stop a node's sink query AND its companion queries — the dead-letter
    * sink (`#errors`) and drain (`#drain`) registered under suffixed keys.
    * Without this, a hot-swap of a node with an errorSink would try to
    * start a second `<name>_errors` query while the old one still runs
    * (Spark rejects duplicate active query names → updateNode would fail),
    * and deleteNode would leak a running query bound to a removed node. */
  def stopSink(full: String): Unit = {
    // deregister under the lock, but JOIN the query thread OUTSIDE it:
    // query.stop() waits for the stream thread, and the control-plane
    // stream's foreachBatch calls updateNode — which needs adminLock.
    // Holding adminLock across that join deadlocks (monitor-enter is not
    // interruptible, so Spark's stop-interrupt can't break the cycle).
    val qs = adminLock.synchronized {
      Seq(full, full + "#errors", full + "#drain")
        .flatMap(k => running.remove(k).map(k -> _))
    }
    // stop each independently: one stop() timing out must not leave the
    // REST deregistered-but-active (an orphan blocks its name forever and
    // runs a stale plan). A query that would not stop goes back under
    // management so the next pass can retry it.
    qs.foreach { case (k, q) =>
      try q.stop() catch {
        case scala.util.control.NonFatal(e) =>
          log.warn(s"stop of query '$k' failed: ${e.getMessage}" +
            (if (q.isActive) " — re-registering it for a later retry" else ""))
          if (q.isActive) running.putIfAbsent(k, q)
      }
    }
  }

  def stopAll(): Unit = {
    drainIntents.clear() // full shutdown withdraws drain intent too
    // control plane FIRST: once it is down nothing else starts queries, so
    // the loop converges — an in-flight control-plane batch may have
    // started new sinks between our snapshot and its stop, hence re-snapshot.
    // Bounded: a query whose stop() keeps failing re-registers itself (see
    // stopSink); without a cap that would spin here forever.
    var remaining = running.keys.toSeq
    var rounds = 0
    while (remaining.nonEmpty && rounds < 8) {
      remaining.sortBy(k => (if (k == controlTopic) 0 else 1, k)).foreach(stopSink)
      remaining = running.keys.toSeq
      rounds += 1
    }
    if (remaining.nonEmpty)
      log.warn(s"stopAll: queries would not stop after $rounds rounds: " +
        remaining.sorted.mkString(", "))
  }

  /** Wait until every running query has processed all available input
    * (test/synchronous helper; production topologies run continuously). */
  def processAllAvailable(): Unit =
    running.values.foreach(_.processAllAvailable())

  // ---------------------------------------------------------------- hot-swap

  /** T15 `update-stream!`: validate, swap the node, restart only the
    * affected subgraph's sinks from their checkpoints. */
  private def hasRunningQueries(full: String): Boolean =
    Seq(full, full + "#errors", full + "#drain").exists(running.contains)

  def updateNode(n: StreamNode): Either[String, Seq[StreamingQuery]] =
    // wiring is validated BEFORE any running sink is stopped: a spec naming
    // a missing upstream or closing a cycle fails the railway here instead
    // of throwing out of buildPlan with downstream queries already down
    topology.validate(n).flatMap(topology.validateWiring).flatMap { ok =>
      adminLock.synchronized {
        val affectedSinks = (topology.downstreamOf(ok.name.full) + ok.name.full)
          .filter(hasRunningQueries)
        affectedSinks.foreach(stopSink)
        // addNode re-validates against the CURRENT graph (a concurrent
        // direct registration may have changed it since the pre-check);
        // on rejection, restart what was stopped and report the failure
        // instead of pretending the swap landed
        topology.addNode(ok) match {
          case Right(_) => Right(applyGraph())
          case Left(err) => applyGraph(); Left(err)
        }
      }
    }

  /** Remove a node and stop everything downstream of it. */
  def deleteNode(full: String): Unit = adminLock.synchronized {
    (topology.downstreamOf(full) + full).filter(hasRunningQueries).foreach(stopSink)
    topology.removeNode(full)
    drainIntents.remove(full)
    // a later same-named node starts its drop counters from zero and does
    // not inherit the removed node's checkpoint-rotation history
    Seq(full, full + "_errors").foreach(lastCheckpoint.remove)
    DropMetrics.forSession(topology.io.spark).reset(full)
  }

  /** T19 startup bootstrap: load every `:stream/…` stored-function doc from
    * the app db, parse its declarative spec, wire the graph, start sinks
    * (`/root/reference/src/dataworks/utils/function.clj:11-36`). */
  def bootstrapFromStore(store: DocumentStore): Seq[StreamingQuery] = {
    import store.spark.implicits._
    store.db().filter("id LIKE ':stream/%'")
      .select("id", "doc").as[(String, String)].collect()
      .foreach { case (id, doc) =>
        // a stored doc this release can't parse (written by a newer one, or
        // corrupted) OR a node addNode rejects (e.g. part of a cycle) —
        // dropping either silently would look like a pipeline that just
        // stopped; log loudly so the operator knows which doc to fix
        NodeSpec.parse(doc) match {
          case None => log.warn(s"bootstrap: stored doc $id does not parse " +
            s"as a stream node spec — NOT started: $doc")
          case Some(n) => topology.addNode(n).left.foreach(err =>
            log.warn(s"bootstrap: stored node ${n.name.full} rejected: $err"))
        }
      }
    applyGraph()
  }

  // ----------------------------------------------------------- control plane

  /** T18: subscribe to the internal function-update topic; each event
    * carries a function id; the node spec is re-fetched from the app db and
    * swapped in — mirroring `stream-chan`'s filter + `entity` + re-eval
    * (`/root/reference/src/dataworks/stream.clj:164-182`). `parse` turns
    * the stored doc payload into a StreamNode (declarative op-spec, not
    * eval). */
  def startControlPlane(store: DocumentStore,
                        parse: String => Option[StreamNode]): StreamingQuery =
    // idempotent, like every other start path (GraftApp.start's documented
    // contract): a second call returns the running subscriber instead of
    // throwing on the duplicate active query name. Under adminLock — the
    // check-then-start is not atomic on its own, and two concurrent boots
    // would both pass the liveness check and collide on the query name.
    adminLock.synchronized {
      running.get(controlTopic).filter(_.isActive).getOrElse {
        val src = topology.io.source(controlTopic)
        val writer = src.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val ids = batch.select("value").collect().map(_.getString(0))
            ids.foreach { id =>
              // a poisonous update must not fail the micro-batch — that
              // would terminate the control-plane query itself, permanently
              try store.entity(id) match {
                case Some(doc) => parse(doc) match {
                  // the deploying instance applied this spec before its
                  // broadcast: applying it again would restart the same
                  // queries, and a stop during a new query's first offset
                  // write leaves a checkpoint Spark refuses to resume
                  case Some(n) if topology.node(n.name.full).contains(n) => applyGraph()
                  case Some(n) => updateNode(n).left.foreach(err =>
                    log.warn(s"control-plane update rejected for '$id': $err"))
                  case None =>
                    // collector/transactor broadcasts ride the same topic
                    // and legitimately aren't stream specs — only a
                    // :stream/ doc failing to parse is worth a warning
                    if (id.startsWith(":stream/")) log.warn(
                      s"control-plane: doc for '$id' does not parse as a " +
                        s"stream node spec — ignored: $doc")
                }
                case None =>
                  // FunctionManager.delete tombstones the doc BEFORE
                  // broadcasting the id, so "no visible doc" for a stream id
                  // we know locally is USUALLY the delete event. But
                  // entity() also returns None for a doc put with a FUTURE
                  // validFrom (S2 scheduled visibility) — a scheduled
                  // create/update broadcast must not be misread as a delete
                  // and tear down a live same-named node (ADVICE r11).
                  // Distinguish via the newest version at store.now(), the
                  // cut entity() reads, tombstones included: tear down only
                  // when it is an explicit tombstone.
                  if (id.startsWith(":stream/")) {
                    val local = graft.query.Functions.idName(id)
                    topology.nodes.keys
                      .find(f => f.substring(f.lastIndexOf('/') + 1) == local)
                      .foreach { full =>
                        if (store.versionAt(id, store.now()).exists(_.deleted)) {
                          log.info(s"control-plane: '$id' tombstoned — deleting node $full")
                          deleteNode(full)
                        } else log.info(
                          s"control-plane: '$id' has no visible doc but no " +
                            s"current tombstone (scheduled future version or " +
                            s"unknown id) — keeping node $full")
                      }
                  }
              } catch {
                case scala.util.control.NonFatal(e) =>
                  log.warn(s"control-plane update failed for '$id'", e)
              }
            }
            ()
          }
          .queryName(queryName(controlTopic))
        // durable offsets where the IO has them (Kafka): a broadcast that
        // lands while this subscriber is down/restarting must replay on the
        // next start — a temp checkpoint over startingOffsets=latest would
        // drop it permanently (bootstrapFromStore only runs at process boot)
        val q = topology.io.controlCheckpoint(queryName(controlTopic))
          .fold(writer)(dir => writer.option("checkpointLocation", dir))
          .start()
        running.put(controlTopic, q)
        q
      }
    }
}
