package graft.query.datalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.query.Fixpoint
import graft.registry.FunctionRegistry
import Ast._

/** Compiles Datalog queries to DataFrame plans — the Catalyst replacement
  * for Crux's EAV-index query engine (SURVEY.md §4: clause ordering, index
  * selection and join planning all become Catalyst's problem; we emit a
  * declarative plan and let the optimizer reorder).
  *
  * Execution model: documents are ONE wide relation with an `id` column
  * (Crux's single document universe). A triple pattern `[?e :a ?v]`
  * projects `(id → e, a → v)` rows where `a` is present; conjunction is a
  * natural join on shared variables (unification, Q5); `not` is an
  * anti-join; `or` a union; `:find` projection applies Datalog set
  * semantics (`.distinct()`, Q18) or grouped aggregates (Q15).
  *
  * Scale notes: pattern filters (`a IS NOT NULL`, constants) sit directly
  * above the scan, so Catalyst pushes them into the source; variable-free
  * joins degrade to cross joins only if the query genuinely asks for a
  * cartesian product. Recursive rules run through [[Fixpoint]] (driver-side
  * semi-naive loop, the standard Spark answer to recursion).
  */
/** Crux `:timeout` elapsed — surfaced as a Left at the EDN boundary. */
final class QueryTimeoutException(msg: String) extends RuntimeException(msg)

object DatalogCompiler {
  /** Driver-side deadline (nanoTime) for the query running on this
    * thread (crux `:timeout`). The iteration loops — rule fixpoints,
    * pull chain discovery, per-binding-row compilation — poll it, so an
    * unbounded fixpoint cannot outlive the budget; the boundary
    * materialization in [[materializeWithin]] covers everything else. */
  private val deadline = new ThreadLocal[java.lang.Long]

  private[datalog] def checkDeadline(what: String): Unit = {
    val d = deadline.get()
    if (d != null && System.nanoTime() > d.longValue())
      throw new QueryTimeoutException(s"query timed out during $what (:timeout)")
  }

  /** Run `body` under a `:timeout` budget of `ms` milliseconds and
    * EAGERLY materialize its result — crux's `q` with a timeout either
    * returns the full result set within the budget or throws, so the
    * relational face must not hand back a lazy plan whose cost escapes
    * the budget at first action. The cancellable job group + watchdog
    * cover the WHOLE scope, compile included: the Spark jobs compilation
    * itself launches (the stats aggregate, fixpoint iterations, pull
    * chain discovery) are cancelled mid-job at the deadline, not merely
    * noticed at the next between-jobs [[checkDeadline]] poll — a single
    * long job can't outlive the budget. On timeout the caller gets a
    * [[QueryTimeoutException]] and no zombie work survives. */
  private[datalog] def runWithin(spark: org.apache.spark.sql.SparkSession,
                                 ms: Long)(body: => DataFrame): DataFrame = {
    require(ms > 0, ":timeout must be positive milliseconds")
    val prev = deadline.get()
    deadline.set(System.nanoTime() + ms * 1000000L)
    val sc = spark.sparkContext
    val group = s"graft-timeout-${java.util.UUID.randomUUID()}"
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val timer = new java.util.Timer("graft-query-timeout", true)
    // a caller (a streaming thread, a REST handler) may run inside its
    // own job group — restore it afterwards instead of clearing, or its
    // later jobs silently lose their group/cancellation scope
    val priorGroup = sc.getLocalProperty("spark.jobGroup.id")
    val priorDesc = sc.getLocalProperty("spark.job.description")
    val priorInterrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    sc.setJobGroup(group, s"datalog :timeout $ms ms", interruptOnCancel = true)
    timer.schedule(new java.util.TimerTask {
      // AndFutureJobs: the plain cancel is one-shot — fired between two
      // driver-side jobs it cancels nothing and the NEXT job of the group
      // would run to completion anyway
      def run(): Unit = { fired.set(true); sc.cancelJobGroupAndFutureJobs(group) }
    }, ms)
    def stillWithin(): Unit =
      if (fired.get() || System.nanoTime() > deadline.get().longValue())
        throw new QueryTimeoutException(s"query timed out after $ms ms (:timeout)")
    try {
      val df = body
      stillWithin() // compile may outlive a tiny budget without any job up
      // registered so a long-lived service (or a bench loop) releases
      // the materialized result deterministically between requests
      val p = graft.core.CacheRegistry.persisted(df)
      try { p.count(); stillWithin(); p }
      catch { case e: Exception =>
        graft.core.CacheRegistry.release(p); throw e
      }
    } catch {
      case e: QueryTimeoutException => throw e // a poll fired first
      case e: Exception =>
        if (fired.get())
          throw new QueryTimeoutException(s"query timed out after $ms ms (:timeout)")
        else throw e
    } finally {
      timer.cancel()
      sc.setLocalProperty("spark.jobGroup.id", priorGroup)
      sc.setLocalProperty("spark.job.description", priorDesc)
      sc.setLocalProperty("spark.job.interruptOnCancel", priorInterrupt)
      if (prev == null) deadline.remove() else deadline.set(prev)
    }
  }

  /** Relation statistics carried per attribute: non-null count plus a
    * count-min sketch of the value distribution ([[cmsDepth]]×[[cmsWidth]]
    * counters, fixed 32 KB) — the per-VALUE histogram that lets the clause
    * planner see skew (one hot value covering 90% of an attribute defeats
    * a uniform-selectivity guess exactly where join order matters most). */
  private[datalog] final case class AttrStat(count: Long, cms: Array[Long])
  private[datalog] val cmsDepth = 4
  private[datalog] val cmsWidth = 1024

  /** Per-doc-relation attribute statistics (total rows + per-attribute
    * non-null count and value sketch) driving the cross-entity join
    * order — keyed by the CANONICALIZED analyzed plan, so every query over
    * the same store snapshot (gates, a differential suite, a long-lived
    * service) shares ONE stats pass however many compiler instances they
    * build. Bounded LRU (32 relations) so a service cycling snapshots
    * can't grow it. */
  private val statsCache =
    new java.util.LinkedHashMap[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        (Long, scala.collection.mutable.Map[String, AttrStat])](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[
            org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
            (Long, scala.collection.mutable.Map[String, AttrStat])]): Boolean =
        size() > 32
    }

  /** Total row count + per-attribute (non-null count, value sketch) for
    * `attrs`, one aggregate pass for whatever this relation hasn't been
    * asked before (count(col) and the partial-aggregating CMS are
    * column-pruned — at warehouse scale it reads only the queried columns
    * once, then every later query compiles job-free). */
  private[datalog] def attrStats(docs: DataFrame, attrs: Seq[String])
      : (Long, Map[String, AttrStat]) = {
    import graft.functions.SketchExpressions
    val have = docs.columns.toSet
    val want = attrs.distinct.filter(a => have.contains(a) && a != "id")
    val key = docs.queryExecution.analyzed.canonicalized
    val cachedHit = statsCache.synchronized {
      Option(statsCache.get(key)).map { case (t, m) => (t, m.toMap) }
    }
    val (total0, known) = cachedHit.getOrElse((-1L, Map.empty[String, AttrStat]))
    val missing = want.filterNot(known.contains)
    if (missing.isEmpty && total0 >= 0) return (total0, known)
    // the aggregate job runs OUTSIDE the cache lock: a slow stats pass
    // over one relation must not serialize every other query's compile
    // in a multi-tenant service. Concurrent misses on the SAME relation
    // may duplicate the job in the race window — the merge below is
    // idempotent (first writer wins per attribute), strictly better
    // than a global compile stall
    val aggCols = count(lit(1)).as("__total") +:
      missing.flatMap(a => Seq(
        count(col(a)).as(s"__c_$a"),
        // null guard: cmsCells of a null VALUE is an array of null
        // CELLS (concat propagates inside the array), which the
        // aggregate would mis-count as cell 0 — gate the whole array
        // so null rows contribute nothing, matching count(col)
        SketchExpressions.cms_sketch_cells(
          when(col(a).isNotNull,
            SketchExpressions.cmsCells(col(a), cmsDepth, cmsWidth)),
          cmsDepth, cmsWidth).as(s"__s_$a")))
    val row = docs.agg(aggCols.head, aggCols.tail: _*).head()
    val computed = missing.zipWithIndex.map { case (a, i) =>
      a -> AttrStat(row.getLong(1 + 2 * i),
        row.getSeq[Long](2 + 2 * i).toArray)
    }
    statsCache.synchronized {
      val (tPrev, stats) = Option(statsCache.get(key))
        .getOrElse((-1L, scala.collection.mutable.Map.empty[String, AttrStat]))
      computed.foreach { case (a, st) =>
        if (!stats.contains(a)) stats(a) = st
      }
      val total = if (tPrev >= 0) tPrev else row.getLong(0)
      statsCache.put(key, (total, stats))
      (total, stats.toMap)
    }
  }

  /** Driver-side point estimate from an [[AttrStat]] sketch: min over the
    * depth rows, mirroring [[graft.functions.SketchExpressions.cmsEstimate]]
    * bit-for-bit (same md5 cell spelling) so the estimate consults the
    * SAME histogram the executors built. Standard CMS one-sided error:
    * never under-estimates, over by ≤ 2·n/width with high probability —
    * fine for ranking, never used for results. */
  private[datalog] def cmsPoint(stat: AttrStat, rendered: String): Long = {
    var best = Long.MaxValue
    var j = 0
    while (j < cmsDepth) {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$j:$rendered".getBytes("UTF-8"))
        .map(b => f"${b & 0xFF}%02x").mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      val c = stat.cms(j * cmsWidth + (h % cmsWidth).toInt)
      if (c < best) best = c
      j += 1
    }
    best
  }

  /** A constant's rendering under Spark's cast-to-string — the form the
    * sketch hashed. Types whose rendering is not total-certain (timestamps,
    * decimals, doubles with exotic formatting) return None and the planner
    * falls back to the uniform guess rather than consult a mis-keyed cell. */
  private[datalog] def renderConst(c: Any): Option[String] = c match {
    case s: String => Some(s)
    case i: Int => Some(i.toString)
    case l: Long => Some(l.toString)
    case s: Short => Some(s.toString)
    case b: Byte => Some(b.toString)
    case b: Boolean => Some(b.toString)
    case d: Double if !d.isNaN && !d.isInfinite => Some(d.toString)
    case f: Float if !f.isNaN && !f.isInfinite => Some(f.toDouble.toString)
    case _ => None
  }

  /** Drop the statistics cached for one relation — for an owner retiring
    * a long-lived stats source, whose plan the cache key would otherwise
    * keep reachable. */
  private[graft] def forgetStats(docs: DataFrame): Unit = statsCache.synchronized {
    statsCache.remove(docs.queryExecution.analyzed.canonicalized); ()
  }

  /** Test/diagnostic hook: drop all cached relation statistics. */
  private[datalog] def clearStatsCache(): Unit =
    statsCache.synchronized(statsCache.clear())
}

class DatalogCompiler(registry: FunctionRegistry = FunctionRegistry.default,
                      /** :in binding sets larger than this broadcast-join
                        * one compiled body instead of substituting per row
                        * (tests force either path by pinning it to 0 or
                        * Int.MaxValue). */
                      inJoinThreshold: Int = 16,
                      /** Collect per-attribute non-null counts (one cached
                        * aggregate pass per doc relation) to drive the
                        * cross-entity join order; off → the static
                        * constants-first heuristic alone. */
                      useStats: Boolean = true,
                      /** Test-facing escape hatch: false compiles pattern
                        * groups in WRITTEN order (crux conjunction is
                        * commutative, so every ordering must agree — the
                        * planner-invariance property suite runs this arm
                        * against both heuristic arms). Production keeps
                        * true: written order can build a cartesian a
                        * selective group would have pruned. */
                      reorder: Boolean = true,
                      /** Relation whose statistics rank the joins in
                        * place of the queried one (same columns): a
                        * stable stand-in keeps the stats cache hitting
                        * across snapshots that differ only in recent
                        * rows. Results never depend on it. */
                      statsSource: Option[DataFrame] = None) {

  /** A compiled clause set = bindings relation; columns are variable names. */
  private type Rel = DataFrame

  def run(docs: DataFrame, q: Query, inputs: Seq[Any] = Nil): DataFrame =
    q.timeout match {
      case None => runInner(docs, q, inputs)
      case Some(ms) =>
        DatalogCompiler.runWithin(docs.sparkSession, ms)(
          runInner(docs, q, inputs))
    }

  private def runInner(docs: DataFrame, q: Query, inputs: Seq[Any]): DataFrame = {
    require(docs.columns.contains("id"), "document relation needs an `id` column")
    require(q.in.isEmpty || q.args.isEmpty,
      ":in and the legacy :args cannot be combined in one query")
    require(q.in.nonEmpty || inputs.isEmpty,
      s"query declares no :in bindings but got ${inputs.length} argument(s)")
    val ruleMap = mergeRules(q.rules)
    val inRows = expandIn(q.in, inputs)
    // crux :args / expanded :in is a RELATION of binding rows. Small sets
    // evaluate one body per row (each row's constants substitute into the
    // clauses — predicate pushdown per branch, the OR-expansion plan
    // shape), set-unioned in project() BEFORE dedup/aggregation so a tuple
    // reachable under two parameter rows counts once, and aggregates see
    // one combined binding set. A LARGE :in relation (a 10k-element
    // IN-collection) must NOT become 10k unioned bodies: when every bound
    // var is pattern-bound, compile the body ONCE with the vars free and
    // broadcast-join the binding relation instead.
    val inVars = q.in.flatMap(_.vars.map(_.name)).distinct
    // Join-path eligibility: a CHEAP static var-binding analysis first — an
    // in-var the body can never surface as a column (it only appears in
    // predicates) rules the join path out without compiling anything, which
    // for recursive-rule bodies would run driver-side fixpoint
    // materialization jobs only to be discarded (ADVICE r11). Vars that
    // statically CAN bind are then confirmed by compiling the body once
    // with the in-vars free — the exact criterion (a syntactic pattern
    // scan alone would miss vars bound inside (or …) branches and silently
    // fan a 10k-element binding into 10k unioned bodies) — and the
    // compiled body is REUSED as the join side, so probe work is never
    // thrown away on success.
    val staticallyBindable = inVars.forall(staticBoundVars(q.where, ruleMap).contains)
    val freeBody: Option[Rel] =
      if (q.in.nonEmpty && staticallyBindable &&
          (inRows.lengthCompare(inJoinThreshold) > 0 || inRows.isEmpty))
        try {
          val r = compileClauses(docs, q.where, ruleMap)
          if (inVars.forall(r.columns.contains)) Some(r) else None
        } catch { case _: Exception => None }
      else None
    // An EMPTY :in binding whose body can't take the join path (the var
    // only feeds predicates) still has a defined answer — the empty set.
    // Substitute null for the in-vars to get a well-typed plan, then cut it
    // to zero rows; NullType columns (an in-var projected straight into
    // :find) surface as string, matching bindingDf's all-null convention.
    if (q.in.nonEmpty && inRows.isEmpty && freeBody.isEmpty) {
      val nulls = inVars.map(_ -> (null: Any)).toMap
      var body = compileClauses(docs, substArgs(q.where, nulls), ruleMap)
      val needed0 = (q.find.collect {
        case FindVar(v) => v.name
        case FindAgg(_, v, _, _) => v.name
        case p: FindPull => p.v.name
      } ++ q.orderBy.map(_._1) ++ q.withVars).distinct
      needed0.filter(n => nulls.contains(n) && !body.columns.contains(n))
        .foreach(n => body = body.withColumn(n, lit(null)))
      val out = project(docs, Seq(body), q).limit(0)
      return out.select(out.schema.fields.map(f =>
        if (f.dataType == org.apache.spark.sql.types.NullType)
          col(f.name).cast("string").as(f.name)
        else col(f.name)): _*)
    }
    val rows =
      if (q.in.nonEmpty) { if (freeBody.nonEmpty) Seq(Map.empty[String, Any]) else inRows }
      else if (q.args.isEmpty) Seq(Map.empty[String, Any]) else q.args
    require(rows.nonEmpty,
      ":in bound an empty collection/relation on a var the patterns never bind — no result schema")
    val bodies = rows.map { row =>
      DatalogCompiler.checkDeadline("per-binding-row compilation")
      var rel = freeBody.getOrElse(
        compileClauses(docs, substArgs(q.where, row), ruleMap))
      // crux unification for a substituted var the body nonetheless BINDS
      // (a Bind-clause output, e.g. [(* ?s 2.0) ?y] with ?y :in-bound):
      // substitution cannot reach an output position, so the parameter
      // must be enforced as an equality filter or it is silently ignored
      row.foreach { case (n, value) =>
        if (rel.columns.contains(n)) rel = rel.filter(col(n) === lit(value))
      }
      // an arg var named in :find/:order-by/:with is a column of the args
      // relation, not necessarily of the body — attach it as a constant
      val needed = (q.find.collect {
        case FindVar(v) => v.name
        case FindAgg(_, v, _, _) => v.name
        case p: FindPull => p.v.name
      } ++ q.orderBy.map(_._1) ++ q.withVars).distinct
      needed.filter(n => row.contains(n) && !rel.columns.contains(n))
        .foreach(n => rel = rel.withColumn(n, lit(row(n))))
      if (freeBody.nonEmpty) {
        // the binding side is driver-built and usually tiny — hint the
        // broadcast so a 20-row relation never re-keys the store. Past
        // ~100k rows stop hinting: a forced broadcast of an arbitrarily
        // large user relation bypasses autoBroadcastJoinThreshold and can
        // OOM an executor; let Spark pick broadcast-vs-shuffle from stats.
        val side = bindingDf(docs, inVars, inRows)
        rel.join(
          if (inRows.lengthCompare(100000) <= 0) broadcast(side) else side,
          inVars, "inner")
      }
      else rel
    }
    project(docs, bodies, q)
  }

  // -------------------------------------------------------------- :in

  /** Expand `:in` bindings × positional runtime arguments into binding
    * rows — the cross product across entries (each entry contributes its
    * own row set; crux's relation semantics), deduped (set semantics). */
  private def expandIn(in: Seq[InBinding], inputs: Seq[Any]): Seq[Map[String, Any]] = {
    require(in.length == inputs.length,
      s":in declares ${in.length} binding(s) but got ${inputs.length} argument(s)")
    def rowsOf(b: InBinding, arg: Any): Seq[Map[String, Any]] = (b, arg) match {
      case (InScalar(v), a) => Seq(Map(v.name -> a))
      case (InColl(v), a: Iterable[_]) => a.toSeq.map(x => Map(v.name -> x))
      case (InColl(v), other) => throw new IllegalArgumentException(
        s"collection binding [?${v.name} ...] needs an Iterable argument, got $other")
      case (InTuple(vs), a: Iterable[_]) =>
        val t = a.toSeq
        require(t.length == vs.length,
          s"tuple binding [${vs.map("?" + _.name).mkString(" ")}] got a ${t.length}-element tuple")
        Seq(vs.map(_.name).zip(t).toMap)
      case (InTuple(vs), other) => throw new IllegalArgumentException(
        s"tuple binding [${vs.map("?" + _.name).mkString(" ")}] needs an Iterable argument, got $other")
      case (InRel(vs), a: Iterable[_]) => a.toSeq.map {
        case t: Iterable[_] =>
          val tt = t.toSeq
          require(tt.length == vs.length,
            s"relation binding [[${vs.map("?" + _.name).mkString(" ")}]] got a ${tt.length}-element tuple")
          vs.map(_.name).zip(tt).toMap
        case other => throw new IllegalArgumentException(
          s"relation binding rows must be Iterables, got $other")
      }
      case (InRel(vs), other) => throw new IllegalArgumentException(
        s"relation binding [[${vs.map("?" + _.name).mkString(" ")}]] needs an Iterable argument, got $other")
    }
    val perEntry = in.zip(inputs).map { case (b, a) => rowsOf(b, a) }
    // the combined binding relation is the CROSS PRODUCT across entries
    // (crux relation semantics) and materializes on the DRIVER: three
    // 1k-element collections would silently build 10⁹ row-maps and OOM
    // the driver with no diagnosis. Bound it with an error that names
    // the fix (pre-join the collections into ONE relation binding).
    val combined = perEntry.foldLeft(1L)((n, rs) => n * math.max(1, rs.length))
    require(combined <= 1000000L,
      s":in bindings expand to $combined combined rows (driver-side cross " +
        "product across entries) — pre-join them into a single relation " +
        "binding [[?a ?b …]] instead")
    perEntry
      .foldLeft(Seq(Map.empty[String, Any])) { (acc, rs) =>
        for (m <- acc; r <- rs) yield m ++ r
      }.distinct
  }

  /** The binding rows as a one-partition DataFrame (broadcast-join side).
    * Per-var type unifies over ALL values (integrals widen to long,
    * fractionals to double, a long/double mix becomes double) — deciding
    * from the first value alone would build a schema later rows violate
    * and crash inside a task AFTER run() returned. A genuinely mixed var
    * (string + number) is rejected here, which surfaces as a Left. A var
    * whose values are all null types as string (the join then matches
    * nothing, like crux's nil binding). */
  private def bindingDf(docs: DataFrame, vars: Seq[String],
                        rows: Seq[Map[String, Any]]): DataFrame = {
    import org.apache.spark.sql.types._
    def widen(x: Any): Any = x match {
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case f: Float => f.toDouble
      case other => other
    }
    def dt(x: Any): DataType = widen(x) match {
      case _: String => StringType
      case _: Long => LongType
      case _: Double => DoubleType
      case _: Boolean => BooleanType
      case _: java.sql.Timestamp => TimestampType
      case _: java.sql.Date => DateType
      case other => throw new IllegalArgumentException(
        s":in binding values must be strings/numbers/booleans/timestamps, got ${other.getClass.getName}")
    }
    val colType: Map[String, DataType] = vars.map { v =>
      val types = rows.iterator.map(_.getOrElse(v, null))
        .filter(_ != null).map(dt).toSeq.distinct
      val t = types match {
        case Nil => StringType
        case Seq(one) => one
        case several if several.forall(t => t == LongType || t == DoubleType) =>
          DoubleType
        case several => throw new IllegalArgumentException(
          s":in binding ?$v mixes incompatible value types: ${several.mkString(", ")}")
      }
      v -> t
    }.toMap
    val schema = StructType(vars.map(v => StructField(v, colType(v), nullable = true)))
    val data = rows.map(r => org.apache.spark.sql.Row(
      vars.map { v =>
        (widen(r.getOrElse(v, null)), colType(v)) match {
          case (l: Long, DoubleType) => l.toDouble // the unified numeric type
          case (x, _) => x
        }
      }: _*))
    val spark = docs.sparkSession
    // one partition for the common tiny relation; a large binding set
    // (past the broadcast hint cap it SHUFFLE-joins) must not funnel the
    // whole build side through a single task
    val slices = math.max(1, math.min(32, rows.length / 50000))
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, slices), schema)
  }

  // ------------------------------------------------------------ args (Q7)

  /** Merge same-name Rule entries (the natural one-entry-per-body encoding
    * of crux's `:rules` vector): each extra entry's bodies are rewritten
    * from its own param names to the canonical (first entry's) params —
    * dropping them silently (`_.head`) would truncate the rule's union.
    * Body-local vars that would be captured by the rename are α-renamed
    * first. Arity mismatch across entries is an error. */
  private def mergeRules(rules: Seq[Rule]): Map[String, Rule] =
    rules.groupBy(_.name).view.mapValues { rs =>
      val canon = rs.head.params
      rs.foreach(r => require(r.params.length == canon.length,
        s"rule ${r.name}: definitions disagree on arity " +
          s"(${canon.length} vs ${r.params.length})"))
      Rule(rs.head.name, canon, rs.flatMap { r =>
        val paramRename = r.params.map(_.name).zip(canon.map(_.name)).toMap
        if (paramRename.forall { case (k, v) => k == v }) r.bodies
        else {
          val targets = canon.map(_.name).toSet
          val locals = r.bodies.flatten.flatMap(clauseVars).toSet -- r.params.map(_.name)
          val taken = locals ++ targets
          val avoidCapture = locals.intersect(targets).map { n =>
            var fresh = n + "__l"
            while (taken.contains(fresh)) fresh += "_"
            n -> fresh
          }.toMap
          val m = avoidCapture ++ paramRename
          r.bodies.map(_.map(renameVarsClause(_, m)))
        }
      })
    }.toMap

  /** Vars the clause set can surface as COLUMNS of the compiled relation —
    * the cheap static face of the join-path probe (ADVICE r11): pattern
    * entity/value vars, bind outputs, rule-application arguments, and the
    * visible vars of `(or …)` (or-join exposes its declared vars; plain or
    * whatever every branch binds). `(not …)` and predicates bind nothing.
    * Conservative in one direction only: a var listed here may still fail
    * the compile probe, but a var NOT listed can never surface — so a
    * predicate-only in-var skips the probe entirely instead of compiling
    * (and, for recursive rules, materializing) a body that gets thrown
    * away. */
  private def staticBoundVars(cs: Seq[Clause], rules: Map[String, Rule]): Set[String] =
    cs.flatMap {
      case Pattern(e, _, v) => Seq(e, v).collect { case V(n) => n }
      case Bind(_, _, out) => Seq(out.name)
      case RuleApp(_, ts) => ts.collect { case V(n) => n }
      case Or(bs, uv) =>
        if (uv.nonEmpty) uv.map(_.name)
        else bs.map(b => staticBoundVars(b, rules)).reduceOption(_ intersect _)
          .getOrElse(Set.empty).toSeq
      case _: Not => Nil
      case _: Pred => Nil
    }.toSet

  private def clauseVars(c: Clause): Set[String] = c match {
    case Pattern(e, _, v) => Set(e, v).collect { case V(n) => n }
    case Pred(_, ts) => ts.collect { case V(n) => n }.toSet
    case Bind(_, ts, out) => ts.collect { case V(n) => n }.toSet + out.name
    case Not(cs, uv) => cs.flatMap(clauseVars).toSet ++ uv.map(_.name)
    case Or(bs, uv) => bs.flatten.flatMap(clauseVars).toSet ++ uv.map(_.name)
    case RuleApp(_, ts) => ts.collect { case V(n) => n }.toSet
  }

  private def renameVarsTerm(t: Term, m: Map[String, String]): Term = t match {
    case V(n) => V(m.getOrElse(n, n))
    case other => other
  }

  private def renameVarsClause(c: Clause, m: Map[String, String]): Clause = c match {
    case Pattern(e, a, v) => Pattern(renameVarsTerm(e, m), a, renameVarsTerm(v, m))
    case Pred(op, ts) => Pred(op, ts.map(renameVarsTerm(_, m)))
    case Bind(f, ts, out) =>
      Bind(f, ts.map(renameVarsTerm(_, m)), V(m.getOrElse(out.name, out.name)))
    case Not(cs, uv) => Not(cs.map(renameVarsClause(_, m)),
      uv.map(v => V(m.getOrElse(v.name, v.name))))
    case Or(bs, uv) => Or(bs.map(_.map(renameVarsClause(_, m))),
      uv.map(v => V(m.getOrElse(v.name, v.name))))
    case RuleApp(n, ts) => RuleApp(n, ts.map(renameVarsTerm(_, m)))
  }

  private def substArgs(cs: Seq[Clause], args: Map[String, Any]): Seq[Clause] =
    if (args.isEmpty) cs else cs.map(substClause(_, args))

  private def substTerm(t: Term, args: Map[String, Any]): Term = t match {
    case V(n) if args.contains(n) => C(args(n))
    case other => other
  }

  private def substClause(c: Clause, args: Map[String, Any]): Clause = c match {
    case Pattern(e, a, v) => Pattern(substTerm(e, args), a, substTerm(v, args))
    case Pred(op, ts) => Pred(op, ts.map(substTerm(_, args)))
    case Bind(f, ts, out) => Bind(f, ts.map(substTerm(_, args)), out)
    // a declared unify var that substitution turned into a constant is
    // consistent on both sides by construction — drop it from the list
    // (keeping it would make the branch-binding requires reject a legal
    // query). If EVERY declared var is substituted the join form would
    // need scalar-exists semantics — reject with a usable message instead
    // of the misleading "must be bound inside" error.
    case Not(cs, uv) =>
      val kept = uv.filterNot(v => args.contains(v.name))
      if (uv.nonEmpty && kept.isEmpty) throw new IllegalArgumentException(
        "(not-join …) whose every declared variable is :in/:args-bound is not supported — inline the constant into the clauses instead")
      Not(cs.map(substClause(_, args)), kept)
    case Or(bs, uv) =>
      val kept = uv.filterNot(v => args.contains(v.name))
      if (uv.nonEmpty && kept.isEmpty) throw new IllegalArgumentException(
        "(or-join …) whose every declared variable is :in/:args-bound is not supported — inline the constant into the clauses instead")
      Or(bs.map(_.map(substClause(_, args))), kept)
    case RuleApp(n, ts) => RuleApp(n, ts.map(substTerm(_, args)))
  }

  // ------------------------------------------------------- clause compiler

  private def compileClauses(docs: DataFrame, cs: Seq[Clause],
                             rules: Map[String, Rule],
                             applying: Set[String] = Set.empty): Rel = {
    // Conjunction is order-independent, so all patterns sharing an entity
    // term coalesce into ONE multi-column scan of the doc relation (instead
    // of one scan per pattern self-joined on id — N patterns on an entity
    // would otherwise read the store N times; at warehouse scale this is
    // the compiler's most important planning rule). Other clauses keep
    // their relative order (preds/binds need their variables in scope).
    var rel: Option[Rel] = None
    def merge(r: Rel): Unit = rel = Some(rel.fold(r)(naturalJoin(_, r)))
    val patternGroups = cs.collect { case p: Pattern => p }.groupBy(_.e)
    orderGroups(docs, patternGroups.toSeq.sortBy(_._1.toString)).foreach {
      case (e, ps) => merge(compilePatternGroup(docs, e, ps))
    }
    cs.foreach {
      case _: Pattern => () // handled above
      case RuleApp(name, as) =>
        val rule = rules.getOrElse(name,
          throw new NoSuchElementException(s"unknown rule $name"))
        merge(applyRule(docs, rule, as, rules, applying))
      case Pred(op, as) =>
        val r = rel.getOrElse(throw new IllegalStateException(
          s"predicate ($op …) before any pattern binds its variables"))
        rel = Some(r.filter(predColumn(op, as, r.schema)))
      case Bind(f, as, out) =>
        val r = rel.getOrElse(throw new IllegalStateException(
          s"bind [($f …) ?${out.name}] before any pattern"))
        // binding an already-bound variable unifies (filters), not rebinds
        rel = Some(
          if (r.columns.contains(out.name))
            r.filter(col(out.name) === fnColumn(f, as, r.schema))
          else r.withColumn(out.name, fnColumn(f, as, r.schema)))
      case Not(inner, unifyVars) =>
        val r = rel.getOrElse(throw new IllegalStateException("(not …) first"))
        val n = compileClauses(docs, inner, rules, applying)
        // not-join restricts unification to the declared vars (Q14)
        val shared =
          if (unifyVars.nonEmpty) unifyVars.map(_.name)
          else r.columns.intersect(n.columns).toSeq
        require(shared.nonEmpty, "(not …) must share variables with the outer query")
        require(shared.forall(n.columns.contains),
          s"(not-join …) vars ${shared.mkString(",")} must be bound inside the negation")
        rel = Some(r.join(n.select(shared.map(col): _*), shared, "left_anti"))
      case Or(branches, unifyVars) =>
        val compiled = branches.map(b => compileClauses(docs, b, rules, applying))
        // or-join projects each branch to the declared vars (Q13); plain
        // `or` requires every branch to bind the same shared set
        val shared =
          if (unifyVars.nonEmpty) unifyVars.map(_.name)
          else compiled.map(_.columns.toSet).reduce(_ intersect _).toSeq.sorted
        require(shared.nonEmpty, "(or …) branches must share variables")
        compiled.foreach(c => require(shared.forall(c.columns.contains),
          s"every (or …) branch must bind ${shared.mkString(",")}"))
        val unioned = compiled.map(_.select(shared.map(col): _*).distinct())
          .reduce(_.unionByName(_)).distinct()
        merge(unioned)
    }
    rel.getOrElse(throw new IllegalStateException("empty :where"))
  }

  /** Cross-entity join order (VERDICT r11 #1). Catalyst does NOT reorder
    * inner joins without CBO + table stats (neither is on here), so the
    * order pattern groups merge IS the runtime join tree — at 100× a
    * fact-fact-first clause order builds the explosion before the
    * constant-bound pattern prunes it. Greedy plan: start from the most
    * selective group (constant-bound entity ≈ 1 row; then constant-value
    * equality filters; then ascending non-null attribute count from a
    * cached one-pass stats aggregate), and repeatedly take the most
    * selective group CONNECTED to the variables already bound — a
    * disconnected pick is a cartesian build-up that a later unifying group
    * would have pruned, so disconnected groups wait until nothing connects
    * (a genuine cartesian the user asked for). Deterministic: ties break
    * on the entity term's rendering, and results are order-invariant
    * (conjunction is commutative — pinned by DatalogDifferentialSpec). */
  private[datalog] def orderGroups(docs: DataFrame,
      groups: Seq[(Term, Seq[Pattern])]): Seq[(Term, Seq[Pattern])] = {
    if (!reorder || groups.lengthCompare(2) < 0) return groups
    val stats: Option[(Long, Map[String, DatalogCompiler.AttrStat])] =
      if (useStats)
        try Some(DatalogCompiler.attrStats(statsSource.getOrElse(docs),
          groups.flatMap(_._2.map(_.attr))))
        catch { case _: Exception => None }
      else None
    def estimate(g: (Term, Seq[Pattern])): Double = {
      val (e, ps) = g
      val base: Double = e match {
        // id-keyed lookup: AT MOST one doc — a guaranteed bound, so it
        // ranks below every heuristic estimate (0 × filters stays 0)
        case C(_) => 0.0
        case _ => stats match {
          case Some((total, attrStats)) =>
            // per-pattern row estimate, VALUE-AWARE for constant filters
            // (VERDICT r12 #1): the attribute's CMS sketch gives the
            // constant's actual frequency, so a hot value (one value =
            // 90% of rows) ranks as the big build it is, where the old
            // blind 0.1-per-filter guess ranked it most-selective. A
            // constant the sketch can't key (exotic rendering) falls
            // back to the uniform 1/10 of the attribute count.
            ps.map { p =>
              val attrCount = attrStats.get(p.attr)
                .map(_.count).getOrElse(total).toDouble
              p.v match {
                case C(c) =>
                  (for {
                    st <- attrStats.get(p.attr)
                    r <- DatalogCompiler.renderConst(c)
                  } yield DatalogCompiler.cmsPoint(st, r).toDouble)
                    .getOrElse(attrCount * 0.1)
                case _ => attrCount
              }
            }.min
          // no stats: more conjunct attr-present filters → smaller, and
          // each constant filter keeps an assumed ~1/10
          case None =>
            val consts = ps.count(_.v.isInstanceOf[C])
            (1e9 / ps.length) * math.pow(0.1, consts.toDouble)
        }
      }
      // repeated-var unification: no cross-column correlation stats —
      // keep the uniform ~1/10 per unifying filter
      val unifies = ps.collect { case Pattern(_, _, V(n)) => n }
        .groupBy(identity).valuesIterator.map(_.length - 1).sum
      base * math.pow(0.1, unifies.toDouble)
    }
    def vars(g: (Term, Seq[Pattern])): Set[String] =
      (g._1 +: g._2.map(_.v)).collect { case V(n) => n }.toSet
    val est = groups.map(g => g -> estimate(g)).toMap
    val pending = scala.collection.mutable.ArrayBuffer(groups: _*)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Term, Seq[Pattern])]
    var bound = Set.empty[String]
    while (pending.nonEmpty) {
      val candidates =
        if (out.isEmpty) pending.toSeq
        else {
          val connected = pending.filter(g => vars(g).intersect(bound).nonEmpty)
          if (connected.nonEmpty) connected.toSeq else pending.toSeq
        }
      val next = candidates.minBy(g => (est(g), g._1.toString))
      pending -= next
      out += next
      bound ++= vars(next)
    }
    out.toSeq
  }

  /** All patterns sharing one entity term → a single scan: conjunct the
    * attr-present / constant filters, handle repeated value vars (equality)
    * and value-var = entity-var unification, then project each variable
    * once. Equivalent to the per-pattern self-join, minus N-1 scans. */
  private def compilePatternGroup(docs: DataFrame, entity: Term,
                                  ps: Seq[Pattern]): Rel = {
    if (ps.length == 1) return compilePattern(docs, ps.head)
    ps.foreach(p => require(docs.columns.contains(p.attr),
      s"unknown attribute ${p.attr}"))
    var df = docs
    ps.foreach(p => df = df.filter(col(p.attr).isNotNull))
    entity match {
      case C(c) => df = df.filter(col("id") === lit(c))
      case _ => ()
    }
    ps.foreach { p => p.v match {
      case C(c) => df = df.filter(col(p.attr) === lit(c))
      case _ => ()
    }}
    val entityVar = entity match { case V(n) => Some(n); case _ => None }
    // variable → attrs bound to it; repeated vars unify by equality
    val varAttrs: Seq[(String, Seq[String])] = ps
      .collect { case Pattern(_, a, V(v)) => (v, a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq.sortBy(_._1)
    varAttrs.foreach { case (v, attrs) =>
      attrs.drop(1).foreach(a2 => df = df.filter(col(attrs.head) === col(a2)))
      if (entityVar.contains(v)) df = df.filter(col("id") === col(attrs.head))
    }
    val outCols =
      entityVar.map(e => col("id").as(e)).toSeq ++
        varAttrs.filterNot { case (v, _) => entityVar.contains(v) }
          .map { case (v, attrs) => col(attrs.head).as(v) }
    if (outCols.isEmpty) df.select(lit(1).as("__exists")).limit(1)
    else df.select(outCols: _*)
  }

  /** `[e :attr v]` over the wide doc relation. */
  private def compilePattern(docs: DataFrame, p: Pattern): Rel = {
    require(docs.columns.contains(p.attr), s"unknown attribute ${p.attr}")
    val present = docs.filter(col(p.attr).isNotNull) // attr exists (Q2)
    (p.e, p.v) match {
      case (V(e), V(v)) if e == v => // [?x :a ?x] self-unification
        present.filter(col("id") === col(p.attr)).select(col("id").as(e))
      case (V(e), V(v)) =>
        present.select(col("id").as(e), col(p.attr).as(v))
      case (V(e), C(c)) => // constant value (Q3)
        present.filter(col(p.attr) === lit(c)).select(col("id").as(e))
      case (C(c), V(v)) => // entity lookup (Q1)
        present.filter(col("id") === lit(c)).select(col(p.attr).as(v))
      case (C(c), C(cv)) => // existence check → 0/1-row marker relation
        present.filter(col("id") === lit(c) && col(p.attr) === lit(cv))
          .select(lit(1).as("__exists")).limit(1)
    }
  }

  /** Unification join: natural join on shared variable columns; disjoint
    * variable sets → cartesian product (Datalog semantics). */
  private def naturalJoin(a: Rel, b: Rel): Rel = {
    val shared = a.columns.intersect(b.columns).toSeq
    if (shared.isEmpty) a.crossJoin(b) else a.join(b, shared)
  }

  /** Rule names referenced anywhere in a clause — TRAVERSING or/not: a
    * recursive call nested in a disjunction branch is still a recursive
    * call, and missing it would misclassify the rule as acyclic (the
    * inliner would then re-enter it and die on the internal guard). */
  private def clauseRuleRefs(c: Clause, rules: Map[String, Rule]): Set[String] = c match {
    case RuleApp(n, _) if rules.contains(n) => Set(n)
    case Not(cs, _) => cs.flatMap(clauseRuleRefs(_, rules)).toSet
    case Or(bs, _) => bs.flatten.flatMap(clauseRuleRefs(_, rules)).toSet
    case _ => Set.empty
  }

  /** Rule names referenced anywhere in `r`'s bodies (defined rules only). */
  private def ruleRefs(r: Rule, rules: Map[String, Rule]): Set[String] =
    r.bodies.flatten.flatMap(clauseRuleRefs(_, rules)).toSet

  /** Normalize a recursive rule's bodies so every reference to a rule in
    * `names` sits at the TOP level of its conjunction — the fixpoint's
    * per-occurrence delta/acc binding can then see it. An `(or …)` whose
    * branches reference the component distributes into one body per branch
    * (standard Datalog: a disjunctive recursive body IS several bodies);
    * or-join branch-private vars are α-renamed fresh so distribution can't
    * capture an outer name. Recursion THROUGH `(not …)` is unstratified
    * negation — rejected with a clear error instead of the internal
    * re-entry guard. */
  private def normalizeRecBodies(owner: String, bodies: Seq[Seq[Clause]],
      names: Set[String], rules: Map[String, Rule]): Seq[Seq[Clause]] = {
    var fresh = 0
    def refsComponent(cs: Seq[Clause]): Boolean =
      cs.flatMap(clauseRuleRefs(_, rules)).toSet.intersect(names).nonEmpty
    def expand(body: Seq[Clause]): Seq[Seq[Clause]] = {
      body.foreach {
        case Not(cs, _) if refsComponent(cs) =>
          throw new UnsupportedOperationException(
            s"rule $owner: recursion through (not …) is unstratified and not supported")
        case _ => ()
      }
      body.zipWithIndex.collectFirst {
        case (o: Or, i) if refsComponent(o.branches.flatten) => (o, i)
      } match {
        case None => Seq(body)
        case Some((Or(branches, uv), i)) =>
          branches.flatMap { br =>
            val renamed =
              if (uv.isEmpty) br // plain or: branches bind the SAME vars (crux)
              else {
                // or-join: only declared vars are visible outside — keep
                // branch privates private across the distribution
                val privates = br.flatMap(clauseVars).toSet -- uv.map(_.name)
                val m = privates.map { v =>
                  fresh += 1; v -> s"${v}__orb$fresh"
                }.toMap
                br.map(renameVarsClause(_, m))
              }
            expand(body.patch(i, renamed, 1))
          }
      }
    }
    bodies.flatMap(expand)
  }

  /** Rules reachable from `from` via one or more RuleApp edges. */
  private def reachableFrom(from: Set[String], rules: Map[String, Rule]): Set[String] = {
    var acc = from
    var grew = true
    while (grew) {
      val next = acc ++ acc.flatMap(n => ruleRefs(rules(n), rules))
      grew = next.size > acc.size
      acc = next
    }
    acc
  }

  /** The strongly-connected component containing `name` (every rule m with
    * name →* m and m →* name), or EMPTY if `name` is on no cycle. Rule sets
    * are tiny (a query's :rules vector), so the O(n²) closure is free. */
  private def sccOf(name: String, rules: Map[String, Rule]): Set[String] = {
    val fwd = reachableFrom(ruleRefs(rules(name), rules), rules) // ≥1 step out
    if (!fwd.contains(name)) Set.empty
    else (fwd + name).filter(n => n == name ||
      reachableFrom(ruleRefs(rules(n), rules), rules).contains(name))
  }

  /** Rule application: rename the rule's head params to the caller's
    * variables (or filter on constants). Acyclic rules inline (multi-body =
    * union, Q8); self-referencing rules run a semi-naive fixpoint (Q9) —
    * including NONLINEAR bodies (several self-references): each
    * self-reference in turn gets the frontier while the others get the full
    * accumulator, so a derivation pairing a new tuple with an old one is
    * never lost (the classic semi-naive rewrite; delta⋈delta alone would be
    * incomplete). MUTUALLY recursive rule sets (an SCC of ≥ 2 rules —
    * crux-legal via arbitrary :rules vectors) evaluate as ONE combined
    * multi-relation fixpoint over the whole component ([[evalScc]]).
    *
    * `applying` tracks in-progress rule expansions purely as an internal
    * re-entry guard: component detection routes every legal cycle into a
    * fixpoint, so re-entering an in-progress rule indicates a compiler bug,
    * not a user error. */
  private def applyRule(docs: DataFrame, rule: Rule, args: Seq[Term],
                        rules: Map[String, Rule],
                        applying: Set[String] = Set.empty): Rel = {
    require(args.length == rule.params.length,
      s"rule ${rule.name} arity ${rule.params.length} got ${args.length}")
    if (applying.contains(rule.name))
      throw new IllegalStateException(
        s"internal: re-entered rule ${rule.name} outside its recursive component")
    val inProgress = applying + rule.name
    val scc = sccOf(rule.name, rules)
    val paramNames = rule.params.map(_.name)
    val resolved: Rel =
      if (scc.isEmpty)
        rule.bodies.map(b => compileClauses(docs, b, rules, inProgress)
            .select(paramNames.map(col): _*))
          .reduce(_.unionByName(_)).distinct()
      else if (scc.sizeIs > 1) evalScc(docs, scc, rules, applying)(rule.name)
      else {
        // normalize FIRST: or-nested self-references distribute into their
        // own bodies; the partition below then sees every recursive call at
        // the top level (deep check — a nested ref in a base body would
        // silently re-enter the inliner)
        val bodies = normalizeRecBodies(rule.name, rule.bodies, scc + rule.name, rules)
        val (baseBodies, recBodies) = bodies.partition(
          !_.flatMap(clauseRuleRefs(_, rules)).contains(rule.name))
        require(baseBodies.nonEmpty, s"recursive rule ${rule.name} needs a base body")
        val base = baseBodies.map(b => compileClauses(docs, b, rules, inProgress)
            .select(paramNames.map(col): _*))
          .reduce(_.unionByName(_)).distinct()
        Fixpoint.fixpoint2(base, (delta, acc) => {
          DatalogCompiler.checkDeadline(s"recursive rule ${rule.name} fixpoint")
          // one compiled conjunction per (body, chosen self-reference):
          // the chosen occurrence binds to delta, every other one to acc
          recBodies.flatMap { body =>
            val selfPositions = body.zipWithIndex.collect {
              case (RuleApp(n, _), i) if n == rule.name => i
            }
            selfPositions.map { chosen =>
              var rel: Option[Rel] = None
              def merge(r: Rel): Unit = rel = Some(rel.fold(r)(naturalJoin(_, r)))
              body.zipWithIndex.foreach {
                case (RuleApp(n, as), i) if n == rule.name =>
                  merge(renameTo(if (i == chosen) delta else acc, paramNames, as))
                case (p: Pattern, _) => merge(compilePattern(docs, p))
                case (RuleApp(n, as), _) =>
                  merge(applyRule(docs, rules(n), as, rules, inProgress))
                case (Pred(op, as), _) =>
                  rel = Some(rel.get.filter(predColumn(op, as, rel.get.schema)))
                case (Bind(f, as, out), _) =>
                  rel = Some(rel.get.withColumn(out.name,
                    fnColumn(f, as, rel.get.schema)))
                case (other, _) => throw new UnsupportedOperationException(
                  s"clause $other inside recursive body")
              }
              rel.get.select(paramNames.map(col): _*)
            }
          }.reduce(_.unionByName(_))
        }, paramNames)
      }
    renameTo(resolved, paramNames, args)
  }

  /** One fixpoint run per (docs, component, rule set): several call sites
    * in one query — or repeated applications with permuted args — share the
    * single evaluation. Keyed by the docs DataFrame REFERENCE, so a reused
    * compiler instance over different data never serves stale relations.
    * Entries pin checkpointed iteration data, so the cache's lifetime
    * should match a query's: `EdnDatalog.run` builds a fresh compiler per
    * query by default — a long-lived service holding ONE compiler across
    * many queries should call [[clearFixpointCache]] between them. */
  private val sccCache = scala.collection.mutable.HashMap
    .empty[(DataFrame, Set[String], Map[String, Rule]), Map[String, Rel]]

  /** Release cached fixpoint results (for services reusing one compiler
    * across queries; the cached DataFrames' persisted/checkpointed backing
    * is released separately via `CacheRegistry.unpersistAll()`). */
  def clearFixpointCache(): Unit = sccCache.clear()

  /** Evaluate a mutually recursive rule component (|scc| ≥ 2) as ONE
    * combined multi-relation semi-naive fixpoint
    * ([[graft.query.Fixpoint.fixpointMulti]]). Per member: bodies with no
    * component references seed its relation; each round derives every
    * member's new tuples, binding ONE component reference per conjunction
    * to that member's frontier and every other one to the accumulator —
    * the semi-naive rewrite generalized across the component, so a
    * derivation pairing a new P-tuple with an old Q-tuple is never lost.
    * A member with no seed body starts absent and materializes the first
    * round something derives into it (conjunctions referencing an absent
    * member are empty by definition and skipped). */
  private def evalScc(docs: DataFrame, scc: Set[String], rules: Map[String, Rule],
                      applying: Set[String]): Map[String, Rel] =
    sccCache.getOrElseUpdate((docs, scc, rules), {
      val inProgress = applying ++ scc
      val members = scc.toSeq.sorted
      def params(n: String): Seq[String] = rules(n).params.map(_.name)

      val partitioned: Map[String, (Seq[Seq[Clause]], Seq[Seq[Clause]])] =
        members.map { m =>
          m -> normalizeRecBodies(m, rules(m).bodies, scc, rules).partition(
            _.flatMap(clauseRuleRefs(_, rules)).toSet.intersect(scc).isEmpty)
        }.toMap

      val bases: Map[String, DataFrame] = partitioned.collect {
        case (m, (baseBodies, _)) if baseBodies.nonEmpty =>
          m -> baseBodies.map(b => compileClauses(docs, b, rules, inProgress)
              .select(params(m).map(col): _*))
            .reduce(_.unionByName(_))
      }
      require(bases.nonEmpty, s"mutually recursive rules ${members.mkString(", ")} " +
        "need at least one body with no component reference (a base case)")

      /** Compile one conjunction with per-OCCURRENCE bindings for component
        * references (the same member may appear twice in one body with
        * different delta/acc roles, so binding by name would be wrong). */
      def compileBody(owner: String, body: Seq[Clause],
                      bindRef: Int => Rel): Rel = {
        var rel: Option[Rel] = None
        def merge(r: Rel): Unit = rel = Some(rel.fold(r)(naturalJoin(_, r)))
        body.zipWithIndex.foreach {
          case (RuleApp(n, as), i) if scc.contains(n) =>
            merge(renameTo(bindRef(i), params(n), as))
          case (p: Pattern, _) => merge(compilePattern(docs, p))
          case (RuleApp(n, as), _) =>
            merge(applyRule(docs, rules(n), as, rules, inProgress))
          case (Pred(op, as), _) =>
            rel = Some(rel.get.filter(predColumn(op, as, rel.get.schema)))
          case (Bind(f, as, out), _) =>
            rel = Some(rel.get.withColumn(out.name, fnColumn(f, as, rel.get.schema)))
          case (other, _) => throw new UnsupportedOperationException(
            s"clause $other inside mutually recursive body")
        }
        rel.get.select(params(owner).map(col): _*)
      }

      val step = (deltas: Map[String, DataFrame], accs: Map[String, DataFrame]) => {
        DatalogCompiler.checkDeadline("mutually recursive rule fixpoint")
        members.flatMap { m =>
          val conjs = partitioned(m)._2.flatMap { body =>
            val refs = body.zipWithIndex.collect {
              case (RuleApp(n, _), i) if scc.contains(n) => (i, n)
            }
            refs.flatMap { case (chosen, chosenName) =>
              // viable iff the chosen occurrence has a frontier and every
              // other occurrence has a materialized accumulator
              val viable = deltas.contains(chosenName) &&
                refs.forall { case (i, n) => i == chosen || accs.contains(n) }
              if (!viable) None
              else Some(compileBody(m, body, i =>
                if (i == chosen) deltas(chosenName)
                else accs(refs.find(_._1 == i).get._2)))
            }
          }
          if (conjs.isEmpty) None
          else Some(m -> conjs.reduce(_.unionByName(_)))
        }.toMap
      }

      val results = graft.query.Fixpoint.fixpointMulti(
        bases, step, members.map(m => m -> params(m)).toMap)
      members.map { m =>
        m -> results.getOrElse(m, {
          // a member nothing ever derived into genuinely IS empty: a 0-row
          // relation with its param columns (null-typed — every use joins
          // or unions an empty set, so no value ever flows out of it)
          docs.sparkSession.emptyDataFrame
            .select(params(m).map(n => lit(null).as(n)): _*)
        })
      }.toMap
    })

  /** Rename a relation's param columns to caller terms: vars rename (ONE
    * select — sequential withColumnRenamed corrupts permuted calls like
    * `(follows ?b ?a)` by renaming through a transient collision),
    * constants filter-and-drop, and a REPEATED var like `(follows ?x ?x)`
    * unifies (equality filter + single output column) instead of silently
    * producing duplicate columns. */
  private def renameTo(rel: Rel, params: Seq[String], args: Seq[Term]): Rel = {
    var out = rel
    params.zip(args).foreach {
      case (p, C(c)) => out = out.filter(col(p) === lit(c))
      case _ => ()
    }
    val varBindings = params.zip(args).collect { case (p, V(n)) => (p, n) }
    varBindings.groupBy(_._2).values.foreach { ps =>
      ps.map(_._1).sliding(2).foreach {
        case Seq(p1, p2) => out = out.filter(col(p1) === col(p2))
        case _ => ()
      }
    }
    val distinctVars = varBindings.map(_._2).distinct
    out.select(distinctVars.map(v =>
      col(varBindings.find(_._2 == v).get._1).as(v)): _*)
  }

  // -------------------------------------------------- predicates & functions

  private def termCol(t: Term): Column = t match {
    case V(n) => col(n)
    case C(c) => lit(c)
  }

  /** Predicate ops (Q6/Q12): comparison + common string predicates; any
    * other name resolves as a boolean-returning registered/builtin fn. */
  private def predColumn(op: String, args: Seq[Term],
      schema: org.apache.spark.sql.types.StructType): Column = {
    val cs = args.map(termCol)
    op match {
      case "<" => cs(0) < cs(1)
      case "<=" => cs(0) <= cs(1)
      case ">" => cs(0) > cs(1)
      case ">=" => cs(0) >= cs(1)
      case "=" | "==" => cs(0) === cs(1)
      case "!=" | "not=" => cs(0) =!= cs(1)
      case "starts-with?" | "clojure.string/starts-with?" => cs(0).startsWith(cs(1))
      case "ends-with?" | "clojure.string/ends-with?" => cs(0).endsWith(cs(1))
      case "includes?" | "clojure.string/includes?" => cs(0).contains(cs(1))
      case "like" => cs(0).like(args(1) match { case C(s: String) => s; case _ => "%" })
      case other => fnColumn(other, args, schema)
    }
  }

  /** Whether a term is statically integral: a var whose bound column is an
    * integral type, or an integral constant. Drives the quot compile split. */
  private def isIntegral(t: Term,
      schema: org.apache.spark.sql.types.StructType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case V(n) => schema.find(_.name == n).map(_.dataType).exists {
        case ByteType | ShortType | IntegerType | LongType => true
        // decimals keep exactness through Spark's `div` (truncating
        // integral divide) — routing them through the double path would
        // round values past 2^53 (Clojure quot on BigDecimal is exact)
        case _: DecimalType => true
        case _ => false
      }
      case C(c) => c.isInstanceOf[Byte] || c.isInstanceOf[Short] ||
        c.isInstanceOf[Int] || c.isInstanceOf[Long] ||
        c.isInstanceOf[BigDecimal] || c.isInstanceOf[java.math.BigDecimal]
    }
  }

  /** Function resolution for binds (Q17): registry column fns first (the
    * named-transformer surface, F1), then Spark builtins. */
  private def fnColumn(fn: String, args: Seq[Term],
      schema: org.apache.spark.sql.types.StructType): Column = {
    val cs = args.map(termCol)
    // mod/rem/quot are strictly binary in Clojure; a malformed 1-arg form
    // must fail with a compile error naming the clause, not an
    // IndexOutOfBoundsException from cs(1) (ADVICE r10)
    def binary(name: String): Unit =
      if (cs.size != 2) throw new IllegalArgumentException(
        s"($name …) expects exactly 2 arguments, got ${cs.size}")
    fn match {
      // arithmetic operators appear throughout crux bind clauses
      // ([(+ ?x 1) ?y] …) but are NOT resolvable through call_function —
      // Spark's parser rejects operator tokens as function names
      // (caught by DatalogDifferentialSpec's generated bind queries)
      case "+" => cs.reduce(_ + _)
      case "-" => if (cs.size == 1) -cs.head else cs.reduce(_ - _)
      case "*" => cs.reduce(_ * _)
      case "/" => cs.reduce(_ / _)
      // Crux `mod` is Clojure's floor-mod (result takes the DIVISOR's sign:
      // (mod -3 7) = 4), while Spark's % is truncating remainder (dividend's
      // sign: -3 % 7 = -3) — compile as ((a % b) + b) % b, which matches
      // floor-mod for every sign combination (ADVICE r9). `rem` maps to %
      // (Clojure rem IS truncating remainder).
      case "mod" => binary("mod"); ((cs(0) % cs(1)) + cs(1)) % cs(1)
      case "rem" => binary("rem"); cs(0) % cs(1)
      // Clojure `quot` is truncating division. Integral operands map to
      // Spark's `div` (IntegralDivide — exact for the full long range);
      // fractional operands would make `div` FAIL ANALYSIS (ADVICE r10), and
      // Clojure keeps them fractional: (quot 17.5 5) = 3.0. q − (q % 1.0)
      // truncates toward zero for every finite double — including magnitudes
      // past 2⁶³ where a floor/ceil-to-long would overflow (there % 1.0 is
      // exactly 0, so q passes through unchanged).
      case "quot" =>
        binary("quot")
        if (args.forall(isIntegral(_, schema))) call_function("div", cs: _*)
        else {
          val q = cs(0).cast("double") / cs(1).cast("double")
          q - (q % lit(1.0))
        }
      case _ => registry.columnFn(fn).map(_(cs)).getOrElse(call_function(fn, cs: _*))
    }
  }

  // -------------------------------------------------------- :find projection

  private def aggColumn(fn: String, v: String, n: Option[Int] = None): Column = fn match {
    case "count" => count(col(v))
    case "count-distinct" => countDistinct(col(v))
    case "sum" => sum(col(v))
    case "avg" => avg(col(v))
    case "min" => min(col(v))
    case "max" => max(col(v))
    case "median" => median(col(v))
    case "variance" => var_samp(col(v))
    case "stddev" => stddev_samp(col(v))
    case "distinct" => collect_set(col(v))
    // crux 1.16 two-arg aggregates. Deterministic pseudo-randomness (seeded
    // md5 order, not java.util.Random) so a query is reproducible across
    // runs and engines. Both are BOUNDED partial aggregates (≤ k entries
    // per group per map task — graft.functions.PickExpressions): the former
    // collect_set/collect_list formulation buffered the whole group on the
    // reduce side, which a single hot key at 100 TB turns into an
    // executor-killing buffer (VERDICT r10 #2).
    case "rand" => // N picks WITH replacement: pick i = the group value
      // minimizing md5(cast(v as string) || ':' || i || ':42') — each i an
      // independent seeded hash order, so picks can repeat. Replays in any
      // SQL engine as min_by(v, md5(v || ':' || i || ':42')).
      graft.functions.PickExpressions.rand_picks(col(v), n.getOrElse(1))
    case "sample" => // N DISTINCT picks: first k values in salted-md5
      // order (md5(cast(v as string) || ':42') asc) — engine-portable hex,
      // so the "seeded shuffle" replays in plain SQL.
      graft.functions.PickExpressions.sample_picks(col(v), n.getOrElse(1))
    case other => throw new UnsupportedOperationException(s"aggregate $other")
  }

  /** Materialize one pull spec as a two-column side table
    * `(__pid_<tag>, __pstruct_<tag>)` keyed by doc id. `*` expands to
    * every doc attribute (crux's `*` includes the eid, so `id` stays in);
    * a `{:ref [sub…]}` join entry recursively builds the child side and
    * replaces the ref id with the child struct via one more id
    * equi-join — depth-d pull is d hash joins over the doc relation,
    * never a per-row lookup. Spec entries dedup by output field name
    * (first occurrence wins, matching crux map semantics); unmatched
    * refs yield a null child struct (left join). Attribute options:
    * `:as` renames the output field, `:default` coalesces an absent
    * (null) value to a constant, `:limit` slices an array attribute.
    * Bounded recursion `{:attr N}` unrolls to N static self-joins; the
    * unbounded `{:attr ...}` form first discovers the data's longest
    * resolvable ref chain ([[discoveredRefDepth]]) and unrolls to that. */
  /** Longest RESOLVABLE ref chain of `attr` over the doc relation — the
    * plan-time depth for an unbounded `{:attr ...}` pull. A ref is
    * resolvable only when it matches some doc id (dangling refs end a
    * chain the same way null does, mirroring the left-join-null the
    * unrolled plan produces). Discovery walks the frontier of ids
    * reachable in k steps: a scalar ref attribute is a FUNCTIONAL graph
    * (out-degree ≤ 1), so each probe is one semi-join over the two-column
    * edge projection — column-pruned at the scan, dimension-cheap even on
    * a fact-sized doc relation. Chains past
    * [[PullRecur.MaxDiscoveredDepth]] (incl. any ref cycle, which never
    * drains the frontier) are rejected: each level is one static
    * self-join in the unrolled plan, and that deep a traversal belongs in
    * a recursive RULE's fixpoint, not a pull. */
  private def discoveredRefDepth(docs: DataFrame, attr: String): Int = {
    // RAW RDD probes, not DataFrame actions: under AQE every frontier
    // probe fans into one job per exchange stage (the r12 gate spent ~13
    // jobs discovering a depth-2 chain). An RDD join has no adaptive
    // re-planning — each level is exactly ONE count job, and the count
    // fully materializes the persisted frontier so the next level starts
    // from cache instead of re-executing the join chain. Keys compare as
    // strings: `attr` holds ids, so same-typed equality is preserved.
    import org.apache.spark.storage.StorageLevel
    val pairs = docs
      .select(col("id").cast("string"), col(attr).cast("string"))
      .where(col(attr).isNotNull)
      .rdd.map(r => (r.getString(0), r.getString(1)))
    val ids = docs.select(col("id").cast("string")).rdd
      .map(r => (r.getString(0), ()))
    // resolvable edges (src → dst where dst is a real doc id), keyed by src
    val edges = pairs.map(_.swap).join(ids)
      .map { case (dst, (src, _)) => (src, dst) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val persisted = scala.collection.mutable.Buffer[
      org.apache.spark.rdd.RDD[_]](edges)
    try {
      // BATCHED probe (VERDICT r16 #4): the old loop ran one count job per
      // level — depth d cost d+1 driver-synchronized jobs of pure
      // scheduling overhead on a functional (out-degree ≤ 1) graph whose
      // per-level work is tiny. Build K successive frontiers lazily
      // (each persisted, so the shared prefix computes once inside the
      // job) and count ALL K in ONE tagged countByKey job; an empty level
      // ends the chain at its index. Levels past the first empty one join
      // FROM an empty frontier — building them is free, so over-probing
      // costs nothing. Semantics identical: returned depth is the index
      // of the first empty frontier (f_k = ids reachable in k+1 steps),
      // and a chain still unresolved at MaxDiscoveredDepth throws.
      val probeBatch = 4
      var depth = 0 // index of the first frontier in the current batch
      // f_{k+1}: the ids one step on from f_k
      def step(f: org.apache.spark.rdd.RDD[String]): org.apache.spark.rdd.RDD[String] = {
        val nxt = f.map((_, ())).join(edges)
          .map { case (_, (_, dst)) => dst }.distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        persisted += nxt
        nxt
      }
      // f_0: ids reachable in exactly 1 step
      var cur = edges.map(_._2).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      persisted += cur
      while (depth >= 0) { // loop exits by return/throw below
        DatalogCompiler.checkDeadline("recursive pull chain discovery")
        // f_depth .. f_{depth+probeBatch-1}
        val batch = scala.collection.mutable.Buffer(cur)
        while (batch.size < probeBatch) batch += step(batch.last)
        val counts = edges.sparkContext.union(
          batch.toSeq.zipWithIndex.map { case (f, i) => f.map(_ => (i, 1L)) })
          .countByKey() // ONE job probes probeBatch levels
        val firstEmpty = (0 until probeBatch)
          .find(i => counts.getOrElse(i, 0L) == 0L)
        firstEmpty match {
          case Some(i) if depth + i <= PullRecur.MaxDiscoveredDepth =>
            return depth + i
          case None if depth + probeBatch - 1 < PullRecur.MaxDiscoveredDepth =>
            depth += probeBatch
            cur = step(batch.last) // the next batch starts one level on
          case _ => throw new IllegalArgumentException(
            s"unbounded recursive pull {:$attr ...}: ref chain exceeds " +
              s"${PullRecur.MaxDiscoveredDepth} levels (or the refs cycle) — " +
              "use a recursive rule, or a bounded depth {:attr N}")
        }
      }
      depth // unreachable
    } finally persisted.foreach(_.unpersist(blocking = false))
  }

  /** `roots`: when given (a single-column frame of doc ids), the side is
    * built ONLY for those ids — and each ref/recur child level receives
    * the PARENT level's resolved ref values as its own roots, so a
    * depth-d pull costs d frontier-sized joins instead of d full-corpus
    * self-joins (the r14 sf10 ritual measured the full-corpus cascade at
    * 11.2× wall on 10× data; level cost must track the FRONTIER). The
    * left-join semantics are unchanged: the child side is filtered to
    * exactly the ref values the parent level carries, so every match
    * survives and absent refs still null out. */
  private def pullSide(docs: DataFrame, spec: Seq[PullEntry], tag: String,
                       roots: Option[DataFrame] = None): DataFrame = {
    def srcName(e: PullEntry): String = e match {
      case PullAttr(a, _, _, _) => a
      case PullJoin(a, _, _) => a
      case PullRecur(a, _) => a
      case PullWildcard =>
        throw new IllegalStateException("wildcard must be expanded first")
    }
    def fieldName(e: PullEntry): String = e match {
      case PullAttr(a, as, _, _) => as.getOrElse(a)
      case PullJoin(a, _, as) => as.getOrElse(a)
      case PullRecur(a, _) => a
      case PullWildcard =>
        throw new IllegalStateException("wildcard must be expanded first")
    }
    // EQL precedence: explicit entries beat `*` REGARDLESS of order —
    // `[* {:manager […]}]` must return the joined struct, not the raw ref
    // id the wildcard would emit. (An :as-renamed entry claims its ALIAS
    // key, so the wildcard still emits the plain attribute alongside it,
    // matching crux's map semantics.)
    val explicitKeys = spec.collect {
      case e if e != PullWildcard => fieldName(e)
    }.toSet
    val expanded = spec.flatMap {
      case PullWildcard =>
        docs.columns.toSeq.filterNot(explicitKeys).map(c => PullAttr(c))
      case e => Seq(e)
    }
    val deduped = expanded.foldLeft(Vector.empty[PullEntry]) { (acc, e) =>
      if (acc.exists(fieldName(_) == fieldName(e))) acc else acc :+ e
    }
    deduped.foreach(e => require(docs.columns.contains(srcName(e)),
      s"unknown attribute ${srcName(e)} in (pull …) spec"))
    // Unbounded `...` already pays plan-time jobs (chain discovery), and
    // its unrolled cascade re-reads the doc relation at EVERY level — at
    // depth d that is d+1 full scans of a fact-sized table feeding d+1
    // exchanges (VERDICT r12 #2: 26 jobs on the gate). Materialize the
    // spec's column projection ONCE (single job, spill-safe localCheckpoint
    // keeping the physical partitioning) and let discovery and every
    // unrolled level consume the materialized leaf instead. Bounded
    // {:attr N} stays fully lazy — no compile-time jobs appear on a path
    // that never had them.
    val docsEff =
      if (deduped.exists { case PullRecur(_, d) => d == PullRecur.Unbounded
                           case _ => false }) {
        def specCols(es: Seq[PullEntry]): Set[String] = es.flatMap {
          case PullAttr(a, _, _, _) => Set(a)
          case PullJoin(a, sub, _) => specCols(sub) + a
          case PullRecur(a, _) => Set(a)
          case PullWildcard => docs.columns.toSet // nested `*`: keep all
        }.toSet
        val cols = ("id" +: specCols(deduped).toSeq.sorted).distinct
        // hash-partition by id BEFORE materializing: every unrolled level
        // (and the root enrichment join) joins this frame on id, so the
        // one shuffle paid here replaces a child-side exchange per level —
        // materializePartitioned keeps the partitioning on the leaf
        org.apache.spark.sql.graft.DatasetBridge
          .materializePartitioned(
            docs.select(cols.map(col): _*).repartition(col("id")))._1
      } else docs
    // resolve the unbounded `...` sentinel to the DATA's longest resolvable
    // ref chain: plan-time discovery keeps the unrolled schema static for
    // this query while matching crux `...` semantics over acyclic refs
    val entries = deduped.map {
      case PullRecur(a, d) if d == PullRecur.Unbounded =>
        PullRecur(a, math.max(1, discoveredRefDepth(docsEff, a)))
      case e => e
    }
    // bounded recursion {:attr N} unrolls here: the child re-applies THIS
    // spec with the recursive entry at depth-1, dropped at the leaf — so
    // {:manager 3} is three static self-joins, each level's struct one
    // field narrower at the bottom
    def unrolledChild(r: PullRecur): Seq[PullEntry] = entries.flatMap {
      case PullRecur(a, _) if a == r.attr =>
        if (r.depth <= 1) Seq.empty else Seq(PullRecur(a, r.depth - 1))
      case x => Seq(x)
    }
    // frontier pushdown: restrict this level to the requested roots BEFORE
    // any struct/ref work. docsEff is hash-partitioned by id on the
    // unbounded path, so the semi-join shuffles only the (small) root set.
    val docsLevel = roots.fold(docsEff) { r =>
      val rr = r.toDF("__pull_root_id")
      docsEff.join(rr, col("id") === col("__pull_root_id"), "left_semi")
    }
    val base = docsLevel.select(col("id").as(s"__pid_$tag") +:
      entries.zipWithIndex.map { case (e, i) =>
        // for a join/recur entry: the ref id, swapped for the child struct below
        val baseCol = e match {
          case PullAttr(a, _, _, Some(n)) =>
            require(docsEff.schema(a).dataType
                .isInstanceOf[org.apache.spark.sql.types.ArrayType],
              s":limit applies to cardinality-many (array) attributes; " +
                s"$a is ${docsEff.schema(a).dataType.simpleString}")
            slice(col(a), 1, n)
          case _ => col(srcName(e))
        }
        val withDefault = e match {
          case PullAttr(_, _, Some(v), _) => coalesce(baseCol, lit(v))
          case _ => baseCol
        }
        withDefault.as(s"__pf_${tag}_$i")
      }: _*)
    // the child frontier derives from the PRE-join base projection (not
    // the mutating `side`), so computing it never replays earlier child
    // joins — one narrow distinct over this level's ref column
    def childRoots(i: Int): Option[DataFrame] =
      if (roots.isEmpty) None // unrooted build keeps full-corpus children
      else Some(base
        .select(col(s"__pf_${tag}_$i").as("__pull_root_id"))
        .where(col("__pull_root_id").isNotNull).distinct())
    var side = base
    entries.zipWithIndex.foreach {
      case (PullJoin(_, sub, _), i) =>
        val childTag = s"${tag}_$i"
        val child = pullSide(docsEff, sub, childTag, childRoots(i))
        side = side.join(child,
            col(s"__pf_${tag}_$i") === col(s"__pid_$childTag"), "left")
          .withColumn(s"__pf_${tag}_$i", col(s"__pstruct_$childTag"))
          .drop(s"__pid_$childTag", s"__pstruct_$childTag")
      case (r: PullRecur, i) if unrolledChild(r).nonEmpty =>
        // an all-recursive spec bottoms out with an EMPTY child spec at the
        // leaf (guard above): the leaf keeps the raw ref id, crux-style
        val childTag = s"${tag}_$i"
        val child = pullSide(docsEff, unrolledChild(r), childTag, childRoots(i))
        side = side.join(child,
            col(s"__pf_${tag}_$i") === col(s"__pid_$childTag"), "left")
          .withColumn(s"__pf_${tag}_$i", col(s"__pstruct_$childTag"))
          .drop(s"__pid_$childTag", s"__pstruct_$childTag")
      case _ => ()
    }
    side.select(col(s"__pid_$tag"), struct(entries.zipWithIndex.map {
      case (e, i) => col(s"__pf_${tag}_$i").as(fieldName(e))
    }: _*).as(s"__pstruct_$tag"))
  }

  private def project(docs: DataFrame, bodies: Seq[Rel], q: Query): DataFrame = {
    val aggs = q.find.collect { case a: FindAgg => a }
    val vars = q.find.collect { case FindVar(v) => v.name }
    val pulls = q.find.collect { case p: FindPull => p }
    // one body per :args row; selecting the needed columns per branch
    // normalizes the schemas, and the union lands BEFORE the dedup each
    // branch below performs — crux's args-relation set semantics
    def sel(cols: Seq[String]): Rel =
      bodies.map(_.select(cols.map(col): _*)).reduce(_.unionByName(_))
    val projected =
      if (pulls.nonEmpty) {
        // crux (pull ?e [spec…]): attach the spec'd attributes of the
        // bound entity as ONE struct column per pull (a map in crux; the
        // struct is its typed relational face). Dedup the binding tuple
        // FIRST (set semantics), enrich via an equi-join against the doc
        // relation (one doc per id, so cardinality is unchanged; broadcast-
        // or hash-joinable at any scale), then dedup the RESULT tuples —
        // crux's q returns a set of find tuples, and a pull of a non-key
        // attribute can collapse distinct entities to one tuple.
        require(aggs.isEmpty,
          "(pull …) cannot be combined with :find aggregates")
        // output column per pull: pull_<var>, disambiguated by position
        // when the same var is pulled more than once
        val pullNames = pulls.zipWithIndex.map { case (p, i) =>
          val base = s"pull_${p.v.name}"
          if (pulls.count(_.v.name == p.v.name) > 1) s"${base}_$i" else base
        }
        // :with vars join the dedup tuple here too — a pull of a non-key
        // attribute must NOT collapse distinct entities when the query
        // declared them as the duplication unit
        val needed = (vars ++ pulls.map(_.v.name) ++ q.withVars).distinct
        // persisted: each pull derives its ROOT id set from this relation
        // (frontier pushdown into pullSide) and then joins against it —
        // without the persist the whole query body would replay per pull
        var out = graft.core.CacheRegistry.persisted(sel(needed).distinct())
        // frontier pushdown ONLY for specs with an unbounded recursion:
        // there pullSide materializes the projected doc relation, so the
        // per-level root/frontier recomputation replays a cached leaf. A
        // bounded/static spec stays fully lazy — rooting it would replay
        // the RAW universe once per ref entry (measured 4× wall on
        // datalog_pull_nested at sf0.1) for a join its depth never makes
        // corpus-scaling in the first place.
        def hasUnbounded(es: Seq[PullEntry]): Boolean = es.exists {
          case PullRecur(_, d) => d == PullRecur.Unbounded
          case PullJoin(_, sub, _) => hasUnbounded(sub)
          case _ => false
        }
        pulls.zipWithIndex.foreach { case (p, i) =>
          val tag = s"p$i"
          val side = pullSide(docs, p.spec, tag,
            if (hasUnbounded(p.spec)) Some(out.select(col(p.v.name))) else None)
          out = out.join(side, col(p.v.name) === col(s"__pid_$tag"), "left")
            .withColumn(pullNames(i), col(s"__pstruct_$tag"))
            .drop(s"__pid_$tag", s"__pstruct_$tag")
        }
        // final tuple in :find order — set-deduped, unless :with made the
        // projection a bag (the with vars drop WITHOUT re-deduping)
        var pi = -1
        val ordered = q.find.map {
          case FindVar(v) => v.name
          case _: FindPull => pi += 1; pullNames(pi)
          case other => throw new IllegalStateException(s"unexpected $other")
        }
        val sel2 = out.select(ordered.map(col): _*)
        if (q.withVars.isEmpty) sel2.distinct() else sel2
      }
      else if (aggs.isEmpty) {
        if (q.withVars.isEmpty) sel(vars).distinct() // Q18 set semantics
        else
          // :with on a plain find: dedup INCLUDES the with vars, then they
          // drop WITHOUT re-deduping — duplicates surface in the result
          // (crux's documented bag escape from set semantics)
          sel((vars ++ q.withVars).distinct).distinct().select(vars.map(col): _*)
      }
      else {
        // non-aggregated find vars act as the GROUP BY key; crux aggregates
        // over the DISTINCT binding tuples of the find variables — plus any
        // `:with` vars, which join the dedup tuple WITHOUT being returned,
        // so `(sum ?price)` with `:with [?order]` keeps one price per order
        // instead of collapsing equal prices (crux's documented duplicate-
        // preserving aggregation)
        val involved = (vars ++ aggs.map(_.v.name) ++ q.withVars).distinct
        val deduped = sel(involved).distinct()
        // groupBy().agg() emits group columns first regardless of :find
        // order — restore crux tuple order (`[:find [(sum ?x) ?g]]` puts
        // the aggregate first), which the positional :keys rename relies
        // on. Aggregates compute under collision-proof internal aliases
        // first: selecting by the PUBLIC name would silently swap columns
        // when a find var shares an aggregate's default name (?count_x vs
        // (count ?x)) and break on a duplicated aggregate (ambiguous ref).
        var pfx = "__agg_"
        while (vars.exists(_.startsWith(pfx))) pfx = "_" + pfx
        val aggCols = aggs.zipWithIndex.map { case (a, i) =>
          aggColumn(a.fn, a.v.name, a.n).as(s"$pfx$i") }
        val agged =
          if (vars.isEmpty) deduped.agg(aggCols.head, aggCols.tail: _*)
          else deduped.groupBy(vars.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
        var ai = -1
        val ordered = q.find.map {
          case FindVar(v) => col(v.name)
          case _: FindAgg => ai += 1; col(s"$pfx$ai")
          case other => throw new IllegalStateException(s"unexpected $other")
        }
        var aj = -1
        val names = q.find.map {
          case FindVar(v) => v.name
          case _: FindAgg => aj += 1; val a = aggs(aj)
            a.alias.getOrElse(s"${a.fn.replace("-", "_")}_${a.v.name}")
          case other => throw new IllegalStateException(s"unexpected $other")
        }
        agged.select(ordered: _*).toDF(names: _*)
      }
    val ordered =
      if (q.orderBy.isEmpty) projected
      else projected.orderBy(q.orderBy.map { case (v, asc) =>
        if (asc) col(v).asc else col(v).desc }: _*)
    val limited = q.limit.fold(ordered)(n =>
      q.offset.fold(ordered.limit(n))(o => ordered.offset(o).limit(n)))
    val sliced =
      q.limit.fold(q.offset.fold(limited)(o => limited.offset(o)))(_ => limited)
    // :keys/:syms/:strs — positional rename of the find tuple (crux's
    // result-map keys). Applied LAST so it also renames aggregate columns;
    // arity was validated at parse, and project() emits exactly one column
    // per :find element in :find order, so a positional toDF is safe.
    q.keys.fold(sliced)(ks => sliced.toDF(ks: _*))
  }
}
