package graft.store

import java.sql.Timestamp

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Randomized differential testing of the bitemporal store: generated
  * op sequences (puts at past/present/future valid time, tombstones,
  * match-puts) applied BOTH to a [[DocumentStore]] and to a naive
  * in-memory model of Crux's bitemporal semantics (a bag of
  * (validFrom, txTime, deleted, doc) versions; visible doc at (vt, tt) =
  * latest by (validFrom, txTime) among those with validFrom ≤ vt ∧
  * txTime ≤ tt, if not a tombstone). Then every read face is compared at
  * adversarial cuts: entity(), full asOf() snapshots (bitemporal),
  * history chains, and the CDC change classification.
  *
  * What this exercises that the fixed specs don't: interleavings of
  * past-valid-time writes with tombstones (a late-arriving correction
  * must not resurrect under a later cut), the window tie-break when one
  * valid instant carries several tx versions, and the date-partition
  * prune's timezone slack (a wrong prune silently drops whole days —
  * here every snapshot is checked row-for-row). Fixed seeds; ~60 ops
  * across two sequences keep the Spark-job budget test-sized. */
class StorePropertySpec extends SparkSpec {

  private sealed trait Op
  private case class PutOp(id: String, doc: String, offsetMs: Option[Long]) extends Op
  private case class DelOp(id: String, offsetMs: Option[Long]) extends Op
  private case class MatchPutOp(id: String, expectCurrent: Boolean, doc: String) extends Op

  private case class Version(id: String, validFrom: Long, txTime: Long,
                             deleted: Boolean, doc: String)

  /** The naive model: winning version per the Crux rule, direct scan. */
  private def visibleVersion(versions: Seq[Version], id: String,
                             vt: Long, tt: Long): Option[Version] =
    versions.filter(v => v.id == id && v.validFrom <= vt && v.txTime <= tt)
      .sortBy(v => (v.validFrom, v.txTime)).lastOption
      .filterNot(_.deleted)

  private def visible(versions: Seq[Version], id: String, vt: Long, tt: Long): Option[String] =
    visibleVersion(versions, id, vt, tt).map(_.doc)

  private def snapshot(versions: Seq[Version], vt: Long, tt: Long): Map[String, String] =
    versions.map(_.id).distinct
      .flatMap(id => visible(versions, id, vt, tt).map(id -> _)).toMap

  private val ids = Seq("a", "b", "c")
  private val offsets: Seq[Option[Long]] =
    Seq(None, Some(-7200000L), Some(-1L), Some(1L), Some(3600000L))

  private val genOp: Gen[Op] = Gen.frequency(
    5 -> (for {
      id <- Gen.oneOf(ids); v <- Gen.chooseNum(0, 999)
      off <- Gen.oneOf(offsets)
    } yield PutOp(id, s"""{"v":$v}""", off)),
    2 -> (for {
      id <- Gen.oneOf(ids); off <- Gen.oneOf(offsets)
    } yield DelOp(id, off)),
    2 -> (for {
      id <- Gen.oneOf(ids); expect <- Gen.oneOf(true, false)
      v <- Gen.chooseNum(1000, 1999)
    } yield MatchPutOp(id, expect, s"""{"v":$v}""")))

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    Iterator.from(0).map(i => g.apply(Gen.Parameters.default, Seed(seed + i)))
      .collect { case Some(v) => v }.take(n).toSeq

  test("differential: generated op sequences — entity, bitemporal snapshots, history, CDC") {
    for ((seed, nOps) <- Seq((77L, 30), (901L, 30))) {
      val store = DocumentStore(spark,
        java.nio.file.Files.createTempDirectory(s"store-prop-$seed").toString + "/db")
      try {
        var model = Vector.empty[Version]
        for (op <- samples(genOp, nOps, seed)) op match {
          case PutOp(id, doc, off) =>
            // mirror the store's own valid-time derivation: tx-clock now + offset
            val vf = off.map(o => new Timestamp(store.now().getTime + o))
            val tx = store.put(id, doc, vf)
            model :+= Version(id, vf.getOrElse(tx).getTime, tx.getTime, deleted = false, doc)
          case DelOp(id, off) =>
            val vf = off.map(o => new Timestamp(store.now().getTime + o))
            val tx = store.delete(id, vf)
            model :+= Version(id, vf.getOrElse(tx).getTime, tx.getTime, deleted = true, null)
          case MatchPutOp(id, expectCurrent, doc) =>
            // the model predicts whether the cas-style match commits
            val now = store.now().getTime
            val cur = visible(model, id, now, now)
            val expected = if (expectCurrent) cur else cur.map(_ + "-stale")
            val committed = store.matchPut(id, expected, doc)
            assert(committed == (expected == cur),
              s"matchPut commit decision diverged for $id (expected=$expected cur=$cur)")
            if (committed) {
              // the exact committed tx (matchPut returns only Boolean):
              // read it back — approximating with now() can drift a few ms
              // past the real tx and corrupt the model's cuts
              val tx = store.versions()
                .agg(org.apache.spark.sql.functions.max("txTime"))
                .collect()(0).getTimestamp(0).getTime
              model :+= Version(id, tx, tx, deleted = false, doc)
            }
        }

        // ---- read-face comparison at adversarial cuts
        val txs = model.map(_.txTime).sorted
        val vts = model.map(_.validFrom).sorted
        val now = store.now().getTime
        // entity() at now
        for (id <- ids)
          assert(store.entity(id) == visible(model, id, now, now),
            s"entity($id) diverged [seed $seed]")
        // entity-tx in lockstep: defined exactly when entity is, and the
        // coordinates are the model's WINNING version's (validFrom, txTime)
        for (id <- ids; vt <- Seq(now, now + 7200001L) ++ vts.take(2)) {
          // entityTx's tx basis is "latest" (crux entity-tx over (db node vt))
          val want = visibleVersion(model, id, vt, Long.MaxValue)
            .map(v => (v.validFrom, v.txTime))
          val got = store.entityTx(id, new Timestamp(vt))
            .map { case (vf, tx) => (vf.getTime, tx.getTime) }
          assert(got == want, s"entityTx($id, vt=$vt) diverged [seed $seed]: " +
            s"got $got want $want")
        }
        // full bitemporal snapshots at mid-sequence and boundary cuts
        val vtCuts = (Seq(now, now + 7200001L) ++ vts.take(3) ++ vts.takeRight(2)).distinct
        val ttCuts = (Seq(now) ++ txs.drop(nOps / 3).take(2)).distinct
        for (vt <- vtCuts; tt <- ttCuts) {
          val got = store.asOf(new Timestamp(vt), new Timestamp(tt))
            .select("id", "doc").collect().map(r => r.getString(0) -> r.getString(1)).toMap
          assert(got == snapshot(model, vt, tt),
            s"asOf(vt=$vt, tt=$tt) diverged [seed $seed]:\n got $got\n want ${snapshot(model, vt, tt)}")
        }
        // per-entity history chain (newest first, tombstones included)
        for (id <- ids) {
          val got = store.history(id).select("validFrom", "txTime", "deleted")
            .collect().map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime, r.getBoolean(2))).toSeq
          val want = model.filter(_.id == id)
            .sortBy(v => (-v.validFrom, -v.txTime))
            .map(v => (v.validFrom, v.txTime, v.deleted))
          assert(got == want, s"history($id) diverged [seed $seed]")
        }
        // CDC classification: delete rows are deletes; a version whose
        // PREDECESSOR (tx order) is absent or a tombstone is an insert
        val gotChanges = store.changes().select("id", "txTime", "validFrom", "op")
          .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
            r.getTimestamp(2).getTime, r.getString(3))).toSet
        val wantChanges = model.groupBy(_.id).flatMap { case (_, vs) =>
          val ordered = vs.sortBy(v => (v.txTime, v.validFrom))
          ordered.zipWithIndex.map { case (v, i) =>
            val op =
              if (v.deleted) "delete"
              else if (i == 0 || ordered(i - 1).deleted) "insert"
              else "update"
            (v.id, v.txTime, v.validFrom, op)
          }
        }.toSet
        assert(gotChanges == wantChanges, s"changes() classification diverged [seed $seed]")
      } finally store.close()
    }
  }

  /** Ops for the current-view differential: every write shape the store
    * has, each kind of base invalidation, and time passing scheduled rows. */
  private sealed trait ViewOp
  private case class VPut(id: String, v: Int, offsetMs: Option[Long]) extends ViewOp
  private case class VPutAll(docs: Seq[(String, Int)], offsetMs: Option[Long]) extends ViewOp
  private case class VDelete(id: String, offsetMs: Option[Long]) extends ViewOp
  private case class VMatchPut(id: String, expectCurrent: Boolean, v: Int) extends ViewOp
  private case class VCas(id: String, v: Int) extends ViewOp
  private case class VPutBatch(docs: Seq[(String, Int)]) extends ViewOp
  private case object VCompact extends ViewOp
  private case class VEvict(id: String) extends ViewOp
  private case class VAdvance(ms: Long) extends ViewOp

  private val viewIds = Seq("a", "b", "c", "d")
  /** retroactive (< 0), now, scheduled soon (due within a few ops), far future */
  private val viewOffsets: Seq[Option[Long]] =
    Seq(None, None, Some(-7200000L), Some(-1L), Some(40L), Some(150L), Some(3600000L))

  private val genViewOp: Gen[ViewOp] = {
    val id = Gen.oneOf(viewIds)
    val v = Gen.chooseNum(0, 999)
    Gen.frequency(
      6 -> (for (i <- id; x <- v; off <- Gen.oneOf(viewOffsets)) yield VPut(i, x, off)),
      2 -> (for {
        n <- Gen.chooseNum(2, 4)
        ds <- Gen.listOfN(n, Gen.zip(id, v)) // duplicates: the last one wins
        off <- Gen.oneOf(None, Some(90L))
      } yield VPutAll(ds, off)),
      2 -> (for (i <- id; off <- Gen.oneOf(None, None, Some(-1L), Some(60L))) yield VDelete(i, off)),
      2 -> (for (i <- id; e <- Gen.oneOf(true, false); x <- v) yield VMatchPut(i, e, x)),
      1 -> (for (i <- id; x <- v) yield VCas(i, x)),
      1 -> (for (is <- Gen.someOf(viewIds); x <- v) yield VPutBatch(is.toSeq.map(_ -> x))),
      1 -> Gen.const(VCompact),
      1 -> id.map(VEvict(_)),
      2 -> Gen.oneOf(50L, 200L).map(VAdvance(_)))
  }

  test("differential: the current view (db, asOf at or past now) after every op, against the scan and the model") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    import spark.implicits._
    def rows(df: DataFrame): Map[String, String] =
      df.select("id", "doc").as[(String, String)].collect().toMap
    // the query doors (q, qPublic): an aggregate, a predicate and a ref join
    val doorSchema = new StructType().add("v", LongType).add("ref", StringType)
    val doors = Seq(
      "{:find [?r (count ?e) (sum ?v)] :where [[?e :v ?v] [?e :ref ?r]]}",
      "{:find [?e ?v] :where [[?e :v ?v] [(>= ?v 500)]]}",
      "{:find [?e ?w] :where [[?e :ref ?r] [?r :v ?w]]}")
    def doorModel(door: Int, snap: Map[String, String]): Set[Seq[String]] = {
      val docs = snap.map { case (id, d) =>
        id -> ("\"v\":(\\d+)".r.findFirstMatchIn(d).get.group(1).toLong,
          "\"ref\":\"([^\"]+)\"".r.findFirstMatchIn(d).get.group(1)) }
      door match {
        case 0 => docs.values.groupBy(_._2).map { case (r, vs) =>
          Seq(r, vs.size.toString, vs.map(_._1).sum.toString) }.toSet
        case 1 => docs.collect { case (id, (v, _)) if v >= 500 => Seq(id, v.toString) }.toSet
        case _ => docs.flatMap { case (id, (_, r)) => docs.get(r).map(t => Seq(id, t._1.toString)) }.toSet
      }
    }
    def answer(e: Either[String, DataFrame]): Set[Seq[String]] =
      e.fold(fail(_), _.collect().map(_.toSeq.map(String.valueOf)).toSet)
    def publicOnly(snap: Map[String, String]) = snap.filterNot(_._1.startsWith(":"))
    // a door read over the typed base shows a LogicalRDD of typed columns
    def typedRead(df: DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst { case r: LogicalRDD if r.output.exists(_.name == "v") => r }.isDefined
    var cappedReads = 0
    for ((seed, nOps) <- Seq((31L, 20), (4242L, 20))) {
      val store = DocumentStore(spark,
        java.nio.file.Files.createTempDirectory(s"store-view-$seed").toString + "/db")
      try {
        var model = Vector.empty[Version]
        var viewReads = 0
        var reads = 0
        var typedReads = 0
        var doorReads = 0
        def lastTx(): Long = store.latestSubmittedTx.get.getTime
        def current(id: String) = visible(model, id, store.now().getTime, Long.MaxValue)
        // the model's snapshot, grouped first: the bulk write makes ~1k ids
        def want(vt: Long): Map[String, String] = model.groupBy(_.id).flatMap { case (id, vs) =>
          vs.filter(_.validFrom <= vt).maxByOption(v => (v.validFrom, v.txTime))
            .filterNot(_.deleted).map(id -> _.doc)
        }
        def doc(v: Int) = s"""{"v":$v,"ref":"${viewIds(v % viewIds.size)}"}"""
        val ops = samples(genViewOp, nOps, seed).toVector
        // one bulk write past the delta's bound mid-sequence, and one of
        // future-dated rows at the end: too many to carry, so the next base
        // is refused and the last reads take the scan
        def bulk(tag: String, off: Option[Long]) =
          VPutAll((1 to DocumentStore.MaxDelta + 5).map(i => s"$tag$i" -> i), off)
        // a ':' id, which qPublic leaves out
        val seq = Seq(VPut(":sys", 7, None)) ++ ops.take(nOps / 2) ++ Seq(bulk("bulk", None)) ++
          ops.drop(nOps / 2) ++ Seq(bulk("later", Some(3600000L)), VPut("a", 1, None))
        for ((op, step) <- seq.zipWithIndex) {
          def vf(off: Option[Long]) = off.map(o => new Timestamp(store.now().getTime + o))
          op match {
            case VPut(id, v, off) =>
              val f = vf(off); val tx = store.put(id, doc(v), f)
              model :+= Version(id, f.getOrElse(tx).getTime, tx.getTime, deleted = false, doc(v))
            case VPutAll(ds, off) =>
              val f = vf(off); val tx = store.putAll(ds.map { case (i, v) => i -> doc(v) }, f)
              ds.groupBy(_._1).foreach { case (i, vs) =>
                model :+= Version(i, f.getOrElse(tx).getTime, tx.getTime, deleted = false, doc(vs.last._2)) }
            case VDelete(id, off) =>
              val f = vf(off); val tx = store.delete(id, f)
              model :+= Version(id, f.getOrElse(tx).getTime, tx.getTime, deleted = true, null)
            case VMatchPut(id, expectCurrent, v) =>
              val cur = current(id)
              val expected = if (expectCurrent) cur else cur.map(_ + "-stale")
              val committed = store.matchPut(id, expected, doc(v))
              // a scheduled row falling due during the call may move "current"
              if (current(id) == cur)
                assert(committed == (expected == cur), s"matchPut decided wrong for $id [seed $seed]")
              if (committed) model :+= Version(id, lastTx(), lastTx(), deleted = false, doc(v))
            case VCas(id, v) =>
              current(id).foreach { cur =>
                val committed = store.cas(id, cur, doc(v))
                if (current(id) == Some(cur))
                  assert(committed, s"cas refused the current doc of $id [seed $seed]")
                if (committed) model :+= Version(id, lastTx(), lastTx(), deleted = false, doc(v))
              }
            case VPutBatch(ds) =>
              if (ds.nonEmpty) {
                val tx = store.putBatch(ds.map { case (i, v) => (i, doc(v)) }.toDF("id", "doc"))
                ds.foreach { case (i, v) =>
                  model :+= Version(i, tx.getTime, tx.getTime, deleted = false, doc(v)) }
              }
            case VCompact => store.compact()
            case VEvict(id) =>
              store.evict(id); model = model.filterNot(_.id == id)
            case VAdvance(ms) => Thread.sleep(ms)
          }
          // db(): equal to the model at a valid time inside the call
          val before = store.now().getTime
          val dbRows = rows(store.db())
          val after = store.now().getTime
          assert(dbRows == want(before) || dbRows == want(after),
            s"db() diverged after step $step ($op) [seed $seed]:\n got $dbRows\n want ${want(after)}")
          // asOf at now and past every scheduled row: model AND scan path
          for (vt <- Seq(after, after + 7200000L)) {
            val t = new Timestamp(vt)
            val df = store.asOf(t)
            reads += 1
            if (df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r }.isEmpty)
              viewReads += 1
            val got = rows(df)
            assert(got == want(vt),
              s"asOf($vt) diverged from the model after step $step ($op) [seed $seed]:\n" +
                s" got $got\n want ${want(vt)}")
            assert(got == rows(store.scanAsOf(t, DocumentStore.MaxTxTime)),
              s"asOf($vt) diverged from the scan after step $step ($op) [seed $seed]")
          }
          // one door per step, through q at `after` (against the model and
          // the same EDN over the scan) and qPublic (against the model at a
          // valid time inside the call)
          def door(d: Int, schema: StructType): Unit = {
            val t = new Timestamp(after)
            val viaQ = store.q(doors(d), schema, t)
            doorReads += 1
            if (viaQ.exists(typedRead)) typedReads += 1
            if (viaQ.exists(df => !typedRead(df) &&
                df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r }.isEmpty))
              cappedReads += 1
            val got = answer(viaQ)
            assert(got == doorModel(d, want(after)),
              s"q door $d diverged from the model after step $step ($op) [seed $seed]:\n" +
                s" got $got\n want ${doorModel(d, want(after))}")
            assert(got == answer(graft.query.datalog.EdnDatalog.run(
              store.relationOf(store.scanAsOf(t, DocumentStore.MaxTxTime), schema), doors(d))),
              s"q door $d diverged from the scan after step $step ($op) [seed $seed]")
          }
          door(step % doors.size, doorSchema)
          val (pb, pub, pa) = {
            val b = store.now().getTime
            val r = answer(store.qPublic(doors(step % doors.size), doorSchema))
            (b, r, store.now().getTime)
          }
          assert(pub == doorModel(step % doors.size, publicOnly(want(pb))) ||
            pub == doorModel(step % doors.size, publicOnly(want(pa))),
            s"qPublic door ${step % doors.size} diverged after step $step ($op) [seed $seed]")
          // more reader schemas than a base keeps typed: the ones past the
          // cap read through the untyped view and answer the same
          if (step == 3 || step == seq.size - 3)
            (0 to DocumentStore.MaxTypedRelations).foreach(k =>
              door(0, doorSchema.add(s"x$k", StringType)))
        }
        // the view, not the scan, answered most of those reads
        assert(viewReads * 2 > reads, s"only $viewReads of $reads current reads used the view")
        assert(typedReads * 2 > doorReads, s"only $typedReads of $doorReads door reads were typed")
      } finally store.close()
    }
    assert(cappedReads > 0, "no door read went past the typed-relation cap")
  }

  /** Speculative-op generator for the withTx differential: puts/deletes
    * over the committed ids PLUS fresh ids (a speculative create must
    * surface), some at a future valid time (S2 scheduled visibility must
    * hide them in the speculative view too). */
  private val genTxOp: Gen[TxOp] = {
    val specIds = ids ++ Seq("x", "y")
    Gen.frequency(
      5 -> (for {
        id <- Gen.oneOf(specIds); v <- Gen.chooseNum(5000, 5999)
        future <- Gen.oneOf(false, false, true)
      } yield TxOp.Put(id, s"""{"v":$v}""",
        if (future) Some(new Timestamp(System.currentTimeMillis() + 86400000L)) else None)),
      2 -> Gen.oneOf(specIds).map(id => TxOp.Delete(id)))
  }

  test("differential: withTx speculative snapshots against the naive model") {
    val store = DocumentStore(spark,
      java.nio.file.Files.createTempDirectory("store-prop-wtx").toString + "/db")
    try {
      // committed history: puts and tombstones, some at offset valid times
      var model = Vector.empty[Version]
      for (op <- samples(genOp, 18, 555L)) op match {
        case PutOp(id, doc, off) =>
          val vf = off.map(o => new Timestamp(store.now().getTime + o))
          val tx = store.put(id, doc, vf)
          model :+= Version(id, vf.getOrElse(tx).getTime, tx.getTime, deleted = false, doc)
        case DelOp(id, off) =>
          val vf = off.map(o => new Timestamp(store.now().getTime + o))
          val tx = store.delete(id, vf)
          model :+= Version(id, vf.getOrElse(tx).getTime, tx.getTime, deleted = true, null)
        case _: MatchPutOp => () // committed surface covered by the other leg
      }
      val committedCount = store.versions().count()
      val base = model.map(_.txTime).max
      for (seed <- Seq(1L, 2L, 3L, 4L, 5L)) {
        val ops = samples(genTxOp, 6, 9000L + seed)
        // the model: speculative op i is one more version at
        // (validFrom = explicit | vt, txTime = base+1+i) — crux's in-order
        // apply, default-validFrom rows pinned AT the basis — and the
        // whole union is read at vt = THE ASKED valid time (never clamped
        // forward: an as-of-T basis must not leak (T, now] commits) under
        // the SAME bitemporal rule the committed differential pins (no tx
        // cut: withTx sees all commits)
        val now = store.now().getTime
        val vt = now
        val spec = ops.zipWithIndex.map {
          case (TxOp.Put(id, doc, vf), i) =>
            Version(id, vf.map(_.getTime).getOrElse(vt), base + 1 + i,
              deleted = false, doc)
          case (TxOp.Delete(id, vf), i) =>
            Version(id, vf.map(_.getTime).getOrElse(vt), base + 1 + i,
              deleted = true, null)
        }
        val want = snapshot(model ++ spec, vt, Long.MaxValue)
        val got = store.withTx(ops, new Timestamp(now))
          .getOrElse(fail("put/delete-only speculative tx can never abort"))
          .select("id", "doc").collect().map(r => r.getString(0) -> r.getString(1)).toMap
        assert(got == want,
          s"withTx diverged [spec seed $seed, ops $ops]:\n got $got\n want $want")
      }
      // five speculative batches later: nothing committed, clock untouched
      assert(store.versions().count() == committedCount,
        "withTx must not append versions")

      // ---- Match semantics: expected-pass matches never abort (and the
      // snapshot still agrees with the model); one wrong match anywhere
      // aborts the whole batch
      for (seed <- Seq(6L, 7L, 8L)) {
        val ops0 = samples(genTxOp, 5, 9100L + seed)
        val now = store.now().getTime
        val vt = now
        def specVersion(op: TxOp, i: Int): Option[Version] = op match {
          case TxOp.Put(id, doc, vf) =>
            Some(Version(id, vf.map(_.getTime).getOrElse(vt), base + 1 + i,
              deleted = false, doc))
          case TxOp.Delete(id, vf) =>
            Some(Version(id, vf.map(_.getTime).getOrElse(vt), base + 1 + i,
              deleted = true, null))
          case _: TxOp.Match => None
        }
        // interleave a PASSING match after every op: expected = the model's
        // visible doc at that point (committed ∪ speculative-so-far at vt)
        var acc = Vector.empty[Version]
        val withMatches = ops0.zipWithIndex.flatMap { case (op, i) =>
          acc ++= specVersion(op, i)
          val id = op match {
            case TxOp.Put(x, _, _) => x; case TxOp.Delete(x, _) => x
            case TxOp.Match(x, _) => x
          }
          Seq(op, TxOp.Match(id, visible(model ++ acc, id, vt, Long.MaxValue)))
        }
        val got = store.withTx(withMatches, new Timestamp(now))
        assert(got.isDefined, s"expected-pass matches aborted [seed $seed]")
        val gotMap = got.get.select("id", "doc").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        val want = snapshot(model ++ ops0.zipWithIndex.flatMap((specVersion _).tupled),
          vt, Long.MaxValue)
        assert(gotMap == want, s"match-interleaved snapshot diverged [seed $seed]")
        // one wrong match anywhere → the whole batch aborts
        val withWrong = withMatches :+ TxOp.Match("a", Some("\"never-this\""))
        assert(store.withTx(withWrong, new Timestamp(now)).isEmpty,
          s"a failing match must abort [seed $seed]")
      }
    } finally store.close()
  }

  test("differential: recursive rules + :in over SPECULATIVE state (VERDICT r12 #3)") {
    // r12's 63-case differential pinned speculative VISIBILITY; this pins
    // the full query surface composed over it — a recursive boss-closure
    // rule with a :in-bound start node evaluated via qWithArgs, against a
    // driver-side BFS over the naive speculative snapshot. Speculative
    // batches REWIRE edges, add nodes, and delete nodes; a closure that
    // reads stale committed edges (or loses a speculative node) diverges.
    val store = DocumentStore(spark,
      java.nio.file.Files.createTempDirectory("store-prop-rules").toString + "/db")
    try {
      def doc(boss: Option[String]): String =
        boss.fold("""{"kind":"node"}""")(b => s"""{"kind":"node","boss":"$b"}""")
      // committed graph with churn: n2→n1, n3→n2, n4→n3 after a rewire
      // (n4 first pointed at n1), n5→n4, n6 deleted after creation
      var model = Vector.empty[Version]
      def commit(id: String, d: Option[String]): Unit = {
        val tx = d match {
          case Some(x) => store.put(id, x)
          case None => store.delete(id)
        }
        model :+= Version(id, tx.getTime, tx.getTime, d.isEmpty, d.orNull)
      }
      commit("n1", Some(doc(None)))
      commit("n2", Some(doc(Some("n1"))))
      commit("n3", Some(doc(Some("n2"))))
      commit("n4", Some(doc(Some("n1")))) // first wiring
      commit("n4", Some(doc(Some("n3")))) // rewire wins
      commit("n5", Some(doc(Some("n4"))))
      commit("n6", Some(doc(Some("n5"))))
      commit("n6", None) // deleted: must not appear in any closure
      val base = model.map(_.txTime).max
      val schema = new org.apache.spark.sql.types.StructType()
        .add("kind", "string").add("boss", "string")

      val batches: Seq[(Seq[TxOp], String)] = Seq(
        // rewire n3 under n1 directly (shortcut) + a new leaf under n3
        (Seq(TxOp.Put("n3", doc(Some("n1"))),
          TxOp.Put("n7", doc(Some("n3")))), "n7"),
        // delete a mid-chain node: closures through it must stop there
        (Seq(TxOp.Delete("n3")), "n5"),
        // resurrect n6 under n2 and re-wire n5 under n6 — in-order apply
        (Seq(TxOp.Put("n6", doc(Some("n2"))),
          TxOp.Put("n5", doc(Some("n6")))), "n5"),
        // last-put-wins within the batch: n4 ends under n2
        (Seq(TxOp.Put("n4", doc(Some("n1"))),
          TxOp.Put("n4", doc(Some("n2")))), "n4"))

      for (((ops, start), bi) <- batches.zipWithIndex) {
        val now = store.now().getTime
        val spec = ops.zipWithIndex.map {
          case (TxOp.Put(id, d, vf), i) =>
            Version(id, vf.map(_.getTime).getOrElse(now), base + 1 + i, deleted = false, d)
          case (TxOp.Delete(id, vf), i) =>
            Version(id, vf.map(_.getTime).getOrElse(now), base + 1 + i, deleted = true, null)
          case (op, _) => fail(s"unexpected op $op")
        }
        val snap = snapshot(model ++ spec, now, Long.MaxValue)
        // driver-side closure over the speculative edges. `boss` is an
        // attribute VALUE: [?a :boss ?b] binds ?b whether or not ?b's own
        // doc is visible (crux ref semantics) — a deleted node can still
        // appear as a closure member, it just contributes no further edge.
        val edge = snap.flatMap { case (id, d) =>
          "\"boss\":\"([^\"]+)\"".r.findFirstMatchIn(d).map(m => id -> m.group(1))
        }
        var want = Set.empty[String]
        var cur = edge.get(start).toSet
        while (cur.nonEmpty) {
          want ++= cur
          cur = cur.flatMap(edge.get).diff(want)
        }
        val got = store.qWithArgs(ops,
          """{:find [?b] :in [?start]
              :where [(up ?start ?b)]
              :rules [[(up ?a ?b) [?a :boss ?b]]
                      [(up ?a ?b) [?a :boss ?x] (up ?x ?b)]]}""",
          schema, Seq(start), new Timestamp(now))
          .fold(e => fail(s"qWithArgs failed [batch $bi]: $e"), identity)
          .collect().map(_.getString(0)).toSet
        assert(got == want, s"speculative closure diverged [batch $bi, start $start]:" +
          s"\n got $got\n want $want\n snap $snap")
      }
      // composition respects Match-abort: the same query over an aborting
      // batch is a diagnosed Left, not a result over half-applied state
      assert(store.qWithArgs(
        Seq(TxOp.Match("n1", None), TxOp.Put("n7", doc(Some("n1")))),
        "{:find [?b] :in [?start] :where [(up ?start ?b)] " +
          ":rules [[(up ?a ?b) [?a :boss ?b]]]}",
        schema, Seq("n7")).isLeft)
    } finally store.close()
  }
}
