package graft.query

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.StructType

/** Recursive Datalog rules (Q9, SURVEY.md §2.2) — e.g. the `depends` rule in
  * `/root/reference/src/dataworks/db/app_db.clj:122-126`:
  * `(depends d1 d2) :- edge | edge ∘ depends`.
  *
  * Spark (≤4.x) has no recursive logical plans, so recursion is a
  * driver-side semi-naive fixpoint: each iteration only extends the frontier
  * (`delta`) discovered in the previous one, never re-joins the full
  * accumulator against the edge set — the classic Datalog evaluation
  * strategy, which at 100 TB is the difference between O(depth) incremental
  * joins and O(depth) full-relation joins.
  *
  * Scale posture: per-iteration results are materialized (eager
  * checkpoint — without it the plan doubles every iteration and Catalyst
  * analysis time explodes) in ONE job that also yields the row count, so
  * termination needs no second action. The accumulator is a flat union of
  * checkpointed delta legs — never re-materialized. By default
  * materialization uses `localCheckpoint` (executor-local storage —
  * fastest, and fine on a single machine); cluster runs where an executor
  * loss mid-fixpoint must not kill the query set
  * `graft.fixpoint.checkpointDir` to an HDFS/S3 path and materialization
  * switches to reliable checkpoints.
  */
object Fixpoint {

  /** Session conf key: when set to a reliable (HDFS/S3/shared-fs) path,
    * fixpoint iterations checkpoint there instead of executor-local
    * storage, surviving executor loss on a real cluster.
    *
    * Scope note: `SparkContext.setCheckpointDir` is CONTEXT-global. If the
    * host application already set its own checkpoint dir, graft does NOT
    * flip it (redirecting the app's unrelated RDD checkpoints under
    * graft's path — and its retention policy — would be a silent side
    * effect); reliable materialization then lands in the app's dir, which
    * is just as durable. This key only takes effect when no checkpoint
    * dir is set yet. */
  val CheckpointDirKey = "graft.fixpoint.checkpointDir"

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A materialized iteration: rebased frame (fresh attribute ids — reusing
    * checkpointed ExprIds across iterations trips Catalyst's Union
    * constraint rewrite and self-join ambiguity), its row count, and the
    * backing InternalRow RDD (for the accumulator's flat leg union). */
  private[graft] case class Mat(df: DataFrame, rows: Long, rdd: RDD[InternalRow])

  /** Eagerly materialize + count in a single job (see [[DatasetBridge]] —
    * `Dataset.checkpoint(eager)` discards the count its materialization job
    * computes, forcing a second `isEmpty` job per iteration). Shared with
    * the other driver-side iterative operators (graft.ext.Graph). */
  private[graft] def materialize(df: DataFrame): Mat = {
    val spark = df.sparkSession
    val reliableDir = Option(spark.conf.get(CheckpointDirKey, null)).filter(_.nonEmpty)
    reliableDir.foreach { dir =>
      val sc = spark.sparkContext
      // setCheckpointDir stores `<dir>/<uuid>` as a QUALIFIED URI, so the
      // conf value must be qualified and compared against the parent —
      // a raw string compare never matches and re-creates a fresh uuid
      // subdirectory on every materialize. Set once per dir.
      // Checkpoint files of superseded iterations are reclaimed by Spark's
      // ContextCleaner when the app sets
      // `spark.cleaner.referenceTracking.cleanCheckpoints=true`
      // (a SparkConf option, documented in README §fixpoint).
      val dirPath = new org.apache.hadoop.fs.Path(dir)
      val qualified =
        dirPath.getFileSystem(sc.hadoopConfiguration).makeQualified(dirPath)
      sc.getCheckpointDir match {
        case None => sc.setCheckpointDir(dir)
        case Some(cur)
            if new org.apache.hadoop.fs.Path(cur).getParent == qualified => ()
        case Some(cur) =>
          // the context already checkpoints somewhere else — flipping the
          // GLOBAL dir would redirect the host app's own checkpoints under
          // graft's path (see CheckpointDirKey doc); reuse the app's dir
          log.info(s"$CheckpointDirKey=$dir ignored: the SparkContext " +
            s"already checkpoints to $cur (context-global setting); " +
            "reliable fixpoint checkpoints will use that directory")
      }
    }
    val (out, n, rdd) =
      DatasetBridge.materializeWithCount(df, reliable = reliableDir.isDefined)
    Mat(out, n, rdd)
  }

  /** Rebuild the accumulator from its materialized delta legs WITHOUT
    * rewriting any data: every leg is checkpoint-backed, so the flat
    * `sc.union` is pure metadata (no job, no shuffle, no re-checkpoint of
    * the full relation) and the result is a single LogicalRDD leaf with
    * fresh attribute ids. This turns the per-iteration cost from O(|acc|)
    * (full accumulator re-checkpoint, quadratic total data movement over a
    * deep fixpoint) to O(|delta|). Keeping the legs as a flat list (rather
    * than nesting unions) bounds the lineage depth regardless of recursion
    * depth, and InternalRow legs skip external-Row conversion entirely.
    * Partition counts are coalesced (narrow, lazy) once they exceed 4× the
    * shuffle width so task counts don't grow unboundedly with depth. */
  private def fromLegs(spark: SparkSession, legs: Seq[RDD[InternalRow]],
                       schema: StructType): DataFrame = {
    val u = spark.sparkContext.union(legs)
    val target = spark.sessionState.conf.numShufflePartitions
    val bounded = if (u.getNumPartitions > 4 * target) u.coalesce(target) else u
    DatasetBridge.internalCreate(spark, bounded, schema)
  }

  /** Align a round's derived frame to the accumulator's column TYPES.
    * Every delta leg is later read back under the first materialization's
    * schema ([[fromLegs]] reinterprets the raw InternalRow bytes) — a leg
    * whose column types drifted (a rule body binding a double where the
    * base had a long) would be silently read as garbage, not cast. The
    * accumulator schema is nullability-relaxed at creation, so only
    * dataTypes need the cast here. */
  private def alignTo(df: DataFrame, schema: StructType): DataFrame =
    if (df.schema.fields.map(_.dataType).sameElements(schema.fields.map(_.dataType))) df
    else df.select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)

  /** The accumulator's canonical schema: the first leg's, with every field
    * nullable — later legs may legitimately carry nulls the base did not
    * (an outer-join-shaped rule body), and a false nullable=false would
    * license the optimizer to elide null handling over them. Nullability
    * does not affect InternalRow layout, so the first leg reads back
    * fine under the relaxed schema. */
  private def relaxed(schema: StructType): StructType =
    StructType(schema.fields.map(_.copy(nullable = true)))

  /** Null-safe "not already in acc": a plain left_anti on the key columns
    * uses EqualTo, under which a null-containing tuple NEVER matches its
    * own copy in the accumulator — it would be re-derived as "fresh" every
    * iteration and the loop could only end at maxIter. `<=>` dedups null
    * tuples like `distinct()` does (still a hash-joinable equi-predicate). */
  private def antiAlreadySeen(derived: DataFrame, acc: DataFrame,
                              keys: Seq[String]): DataFrame = {
    val accR = acc.select(keys.map(k => col(k).as(s"__acc_$k")): _*)
    val cond = keys.map(k => col(k) <=> col(s"__acc_$k")).reduce(_ && _)
    derived.join(accR, cond, "left_anti")
  }

  /** Transitive closure of `edges(src, dst)` → all reachable `(src, dst)`:
    * a one-member [[fixpointMulti]] whose step extends the frontier by one
    * edge. */
  def transitiveClosure(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // round 1's frontier IS the base — the edge set, distinct and
    // materialized — so every round joins against it and none re-reads
    // the source (materializing it here first would cost one more job)
    var edgeSet: Option[DataFrame] = None
    fixpointMulti(Map("tc" -> edges.select("src", "dst")), (deltas, _) =>
      deltas.map { case (n, d) =>
        val g = edgeSet.getOrElse { edgeSet = Some(d); d }
        n -> d.as("d").join(g.as("g"), col("d.dst") === col("g.src"))
          .select(col("d.src").as("src"), col("g.dst").as("dst"))
      }, Map("tc" -> Seq("src", "dst")), maxIter)("tc")
  }

  /** Semi-naive fixpoint over the members of a recursive Datalog rule
    * component — one self-recursive rule is a component of one member;
    * MUTUALLY recursive rules (Q9 extension; crux permits them via
    * `src/dataworks/db/user_db.clj:33-43`'s arbitrary rule vectors) are
    * several. Each member relation keeps its own (accumulator, frontier);
    * one iteration derives every member's new tuples from the CURRENT
    * frontiers + accumulators, then advances all frontiers together. The
    * step sees both so NONLINEAR bodies can join a frontier against an
    * accumulator — delta⋈delta alone would lose derivations pairing a new
    * tuple with an old one. Terminates when every frontier is empty in the
    * same round — per-member termination would be wrong, since an empty
    * round for P can be followed by new P-tuples derived through Q. The
    * first round's frontiers are the bases, distinct and materialized; an
    * empty base is converged before any round runs.
    *
    * `bases` may omit members with no non-recursive body: such a member's
    * relation (and schema) materializes the first time a rule derives into
    * it; `step` receives only materialized members in its maps and must
    * skip conjunctions that reference an absent one (they are empty by
    * definition). Members still absent at convergence genuinely ARE the
    * empty relation — the caller supplies its own empty stand-in.
    *
    * Scale shape: `keys` are each member's dedup columns (rule-head
    * variables — Datalog set semantics); per-member checkpointed delta
    * legs, flat-union accumulators (O(|delta|) per round, never O(|acc|)),
    * `<=>`-anti-join freshness, one materialize job per member per round,
    * each submitted from the caller's thread so it runs in the caller's
    * Spark job group (a `:timeout` cancels it, and nothing else). */
  def fixpointMulti(
      bases: Map[String, DataFrame],
      step: (Map[String, DataFrame], Map[String, DataFrame]) => Map[String, DataFrame],
      keys: Map[String, Seq[String]],
      maxIter: Int = 50): Map[String, DataFrame] = {
    require(bases.nonEmpty, "fixpointMulti needs at least one base relation")
    bases.keys.foreach(n => require(keys.contains(n),
      s"fixpointMulti: base relation '$n' has no keys entry"))
    keys.foreach { case (n, ks) => require(ks.nonEmpty,
      s"fixpointMulti: member '$n' needs at least one dedup key column") }
    val spark = bases.head._2.sparkSession
    case class St(legs: Vector[RDD[InternalRow]], schema: StructType, acc: DataFrame)
    var states = Map.empty[String, St]
    // a member's first leg fixes its schema; later legs are cast to it
    def grow(n: String, m: Mat): Unit = {
      val prev = states.get(n)
      val schema = prev.fold(relaxed(m.df.schema))(_.schema)
      val legs = prev.fold(Vector.empty[RDD[InternalRow]])(_.legs) :+ m.rdd
      states += n -> St(legs, schema, fromLegs(spark, legs, schema))
    }
    var deltas = Map.empty[String, DataFrame]
    bases.foreach { case (n, df) =>
      val m = materialize(df.select(keys(n).map(col): _*).distinct())
      grow(n, m)
      if (m.rows > 0) deltas += n -> states(n).acc
    }
    var i = 0
    while (deltas.nonEmpty && i < maxIter) {
      // every derived frame reads round-start state only, so growing one
      // member's accumulator below cannot leak into another's round
      val derived = step(deltas, states.map { case (n, s) => n -> s.acc })
      deltas = derived.flatMap { case (n, df) =>
        require(keys.contains(n), s"fixpointMulti: step derived into unknown member " +
          s"'$n' (keys are ${keys.keys.toSeq.sorted.mkString(", ")})")
        val pruned = df.select(keys(n).map(col): _*).distinct()
        val fresh = states.get(n).fold(materialize(pruned))(s =>
          materialize(antiAlreadySeen(alignTo(pruned, s.schema), s.acc, keys(n))))
        if (fresh.rows == 0L) None
        else { grow(n, fresh); Some(n -> fresh.df) }
      }
      i += 1
    }
    if (deltas.nonEmpty) throw new IllegalStateException(
      s"fixpoint did not converge within maxIter=$maxIter iterations — " +
        "the result would be silently incomplete; raise maxIter")
    states.map { case (n, s) => n -> s.acc }
  }
}
