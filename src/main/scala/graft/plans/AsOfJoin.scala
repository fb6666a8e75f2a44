package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, BindReferences, Expression, JoinedRow, NamedExpression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.DatasetBridge

/** A genuine Catalyst as-of join operator — the (c) tier of the build
  * contract's preference order: custom `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan`, registered via `SparkSessionExtensions`
  * (graft.GraftExtensions) or per-session `experimental.extraStrategies`.
  *
  * Semantics (inner as-of, matching DuckDB's
  * `ASOF JOIN ... ON l.key = r.key AND l.ts >= r.ts`): for every left row,
  * the single latest right row with the same key and `rightTime <=
  * leftTime`; left rows with no prior right row are dropped.
  *
  * Physical shape: both sides hash-clustered on the key and sorted by
  * (key, time) — EnsureRequirements inserts exactly one exchange per side —
  * then a single forward-only merge pass per partition: O(left + right)
  * with O(1) state (the last matching carry row), no join explosion on hot
  * keys, no window buffering. This is the plan a 100 TB event-attribution
  * join wants: a union+window formulation sorts left AND right rows through
  * one window; this operator never materializes right rows into the
  * output sort at all. It is the library's one batch as-of join.
  */
/** Match direction: Backward = latest right row with rightTime <= leftTime
  * (the default, DuckDB/kdb semantics); Forward = earliest right row with
  * rightTime >= leftTime (pandas merge_asof direction='forward'). */
sealed trait AsOfDirection
case object Backward extends AsOfDirection
case object Forward extends AsOfDirection

case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
                    leftKey: Attribute, rightKey: Attribute,
                    leftTime: Attribute, rightTime: Attribute,
                    carry: Seq[Attribute],
                    direction: AsOfDirection = Backward,
                    tolerance: Option[Long] = None,
                    outer: Boolean = false) extends BinaryNode {
  // carry columns surface under their right-side attributes (like Join);
  // the `asof_<name>` rename is a Project the API adds on top — aliases
  // can't live inside a custom node (the analyzer's CleanupAliases strips
  // non-top-level aliases from every non-Project operator).
  // Left-outer keeps unmatched left rows, so carries become nullable.
  override def output: Seq[Attribute] =
    left.output ++ (if (outer) carry.map(_.withNullability(true)) else carry)
  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
                                                 newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] as [[AsOfJoinExec]]; a no-op on every other node. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoin =>
      AsOfJoinExec(planLater(j.left), planLater(j.right), j.leftKey, j.rightKey,
        j.leftTime, j.rightTime, j.carry, j.direction, j.tolerance, j.outer) :: Nil
    case _ => Nil
  }

  /** Runtime registration for sessions built without
    * `spark.sql.extensions=graft.GraftExtensions` (public API — no
    * extension wiring required). Idempotent. */
  def ensureRegistered(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKey: Attribute, rightKey: Attribute,
                        leftTime: Attribute, rightTime: Attribute,
                        carry: Seq[Attribute],
                        direction: AsOfDirection = Backward,
                        tolerance: Option[Long] = None,
                        outer: Boolean = false) extends BinaryExecNode {

  // mismatched key/time types would silently mis-partition (each side
  // hashes its own type: murmur3(Int 5) != murmur3(Long 5)) or throw
  // ClassCastException mid-merge — normal joins get analyzer-inserted
  // casts, a post-analysis node must check for itself
  require(leftKey.dataType == rightKey.dataType,
    s"as-of join key types must match exactly: left ${leftKey.dataType} vs " +
      s"right ${rightKey.dataType} — cast one side first")
  require(leftTime.dataType == rightTime.dataType,
    s"as-of join time types must match exactly: left ${leftTime.dataType} vs " +
      s"right ${rightTime.dataType} — cast one side first")

  // tolerance is a delta in the time column's NATIVE units (µs for
  // timestamps, raw value for integral types) — only meaningful where the
  // evaluated time is numeric
  tolerance.foreach { t =>
    require(t >= 0, s"tolerance must be non-negative, got $t")
    val numericTime = leftTime.dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
    require(numericTime,
      s"tolerance requires an integral or timestamp time column, got ${leftTime.dataType}")
  }

  override def output: Seq[Attribute] =
    left.output ++ (if (outer) carry.map(_.withNullability(true)) else carry)

  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  // one hash exchange per side, co-partitioned on the key
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // (key, time) sort inside each partition — EnsureRequirements adds the
  // sorts. The right side additionally orders by the (orderable) carry
  // columns, so ties on (key, time) resolve deterministically: backward
  // keeps the LAST row (max carry tuple), forward the FIRST (min).
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
      (if (carry.forall(a =>
          org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(a.dataType)))
        carry.map(a => SortOrder(a, Ascending)) else Nil))

  // left rows pass through unchanged (columns appended), so the left
  // child's hash partitioning survives — a downstream groupBy/join on the
  // key reuses it instead of re-shuffling
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
                                                 newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val lOut = left.output
    val rOut = right.output
    val (lk, lt) = (leftKey, leftTime)
    val (rk, rt) = (rightKey, rightTime)
    val carryExprs = carry
    val outAttrs = output
    // locals, NOT field reads: a field access inside the closure captures
    // the whole AsOfJoinExec (plan subtrees included) into every task
    val dir = direction
    val tolDefined = tolerance.isDefined
    val tolMax = tolerance.getOrElse(Long.MaxValue)
    val keepUnmatched = outer
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyB = BindReferences.bindReference(lk: Expression, lOut)
      val lTimeB = BindReferences.bindReference(lt: Expression, lOut)
      val rKeyB = BindReferences.bindReference(rk: Expression, rOut)
      val rTimeB = BindReferences.bindReference(rt: Expression, rOut)
      val carryProj = UnsafeProjection.create(carryExprs.map(a => a: Expression), rOut)
      val resultProj = UnsafeProjection.create(outAttrs.map(a => a: Expression),
        lOut ++ carryExprs.map(_.withNullability(true)))
      val joined = new JoinedRow
      val nullCarry: InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(carryExprs.length)

      new Iterator[InternalRow] {
        // next unconsumed non-null-key right row + its evaluated (key, time)
        private var rRow: InternalRow = null
        private var rKeyV: Any = null
        private var rTimeV: Any = null
        // backward-direction match state: key + time + copied carry row
        private var matchKey: Any = null
        private var matchTime: Long = 0L
        private var matchCarry: InternalRow = null
        private var pending: InternalRow = null

        private def asLong(v: Any): Long = v.asInstanceOf[Number].longValue()

        advanceRight()

        private def advanceRight(): Unit = {
          rRow = null
          while (rRow == null && rIter.hasNext) {
            val r = rIter.next()
            val k = rKeyB.eval(r)
            val t = rTimeB.eval(r)
            if (k != null && t != null) { rRow = r; rKeyV = k; rTimeV = t }
          }
        }

        private def findNext(): Unit = {
          while (pending == null && lIter.hasNext) {
            val l = lIter.next()
            val lkV = lKeyB.eval(l)
            val ltV = lTimeB.eval(l)
            // SQL as-of semantics: a null key/time never matches — but a
            // LEFT OUTER as-of still keeps the row with null carries (DuckDB
            // ASOF LEFT JOIN does; dropping it here would silently lose rows)
            if (lkV == null || ltV == null) {
              if (keepUnmatched) {
                numOutputRows += 1
                pending = resultProj(joined(l, nullCarry))
              }
            } else dir match {
              case Backward =>
                // consume right rows with key < lkV (stale keys) or
                // key == lkV && time <= ltV (each a better match than the last)
                var advancing = rRow != null
                while (advancing) {
                  val c = keyOrd.compare(rKeyV, lkV)
                  if (c < 0) { advanceRight(); advancing = rRow != null }
                  else if (c == 0 && timeOrd.compare(rTimeV, ltV) <= 0) {
                    matchKey = InternalRow.copyValue(rKeyV)
                    if (tolDefined) matchTime = asLong(rTimeV)
                    matchCarry = carryProj(rRow).copy()
                    advanceRight(); advancing = rRow != null
                  } else advancing = false
                }
                // the retained match is the LATEST (closest) one, so the
                // tolerance check on it is exact
                val hit = matchCarry != null && keyOrd.compare(matchKey, lkV) == 0 &&
                  (!tolDefined || asLong(ltV) - matchTime <= tolMax)
                if (hit) {
                  numOutputRows += 1
                  pending = resultProj(joined(l, matchCarry))
                } else if (keepUnmatched) {
                  numOutputRows += 1
                  pending = resultProj(joined(l, nullCarry))
                }
              case Forward =>
                // consume right rows that can never match this or any later
                // left row: key < lkV, or key == lkV && time < ltV (left
                // times only grow within a key)
                var advancing = rRow != null
                while (advancing) {
                  val c = keyOrd.compare(rKeyV, lkV)
                  if (c < 0 || (c == 0 && timeOrd.compare(rTimeV, ltV) < 0)) {
                    advanceRight(); advancing = rRow != null
                  } else advancing = false
                }
                // the NEXT right row is the earliest at-or-after candidate;
                // do NOT consume it — it may match later left rows too
                val hit = rRow != null && keyOrd.compare(rKeyV, lkV) == 0 &&
                  (!tolDefined || asLong(rTimeV) - asLong(ltV) <= tolMax)
                if (hit) {
                  numOutputRows += 1
                  pending = resultProj(joined(l, carryProj(rRow)))
                } else if (keepUnmatched) {
                  numOutputRows += 1
                  pending = resultProj(joined(l, nullCarry))
                }
            }
          }
        }

        override def hasNext: Boolean = { if (pending == null) findNext(); pending != null }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty iterator")
          val r = pending; pending = null; r
        }
      }
    }
  }
}

object AsOfJoin {

  /** DataFrame API over the native operator: as-of join `left` to `right`
    * on `key`, carrying `carry` columns from the right side as
    * `asof_<name>`. `direction="backward"` (default) matches the latest
    * right row with `rightTs <= leftTs`; `"forward"` the earliest with
    * `rightTs >= leftTs` (pandas merge_asof directions). `tolerance`
    * bounds |leftTs − rightTs| in the time column's native units (µs for
    * timestamps) — stale/far matches drop out, the merge stays one pass.
    * Registers [[AsOfJoinStrategy]] on the session if no extension wiring
    * did. */
  def asofJoinNative(left: DataFrame, right: DataFrame, key: String,
                     leftTs: String, rightTs: String,
                     carry: Seq[String],
                     direction: String = "backward",
                     tolerance: Option[Long] = None,
                     joinType: String = "inner"): DataFrame = {
    val dir = direction match {
      case "backward" => Backward
      case "forward" => Forward
      case other => throw new IllegalArgumentException(
        s"direction must be 'backward' or 'forward', got '$other'")
    }
    val outer = joinType match {
      case "inner" => false
      case "left" | "left_outer" => true // unmatched left rows keep NULL carries
      case other => throw new IllegalArgumentException(
        s"joinType must be 'inner' or 'left', got '$other'")
    }
    val spark = left.sparkSession
    AsOfJoinStrategy.ensureRegistered(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan0 = right.queryExecution.analyzed
    // self-join safety: if the two sides share attribute ids (both derive
    // from the same scan), re-alias the right side so ids are distinct —
    // this node is built post-analysis, so the analyzer's relation
    // deduplication never sees it
    val rPlan =
      if (lPlan.outputSet.intersect(rPlan0.outputSet).isEmpty) rPlan0
      else Project(rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
    // session-conf-aware resolution (case sensitivity) + explicit
    // ambiguity error instead of silently binding the first duplicate
    val resolver = spark.sessionState.analyzer.resolver
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.filter(a => resolver(a.name, n)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"asofJoinNative: no column '$n' on the $side side " +
            s"(have: ${p.output.map(_.name).mkString(", ")})")
        case many => throw new IllegalArgumentException(
          s"asofJoinNative: column '$n' is ambiguous on the $side side " +
            s"(${many.size} matches)")
      }
    val carryAttrs = carry.map(c => attr(rPlan, c, "right"))
    val node = AsOfJoin(
      lPlan, rPlan,
      attr(lPlan, key, "left"), attr(rPlan, key, "right"),
      attr(lPlan, leftTs, "left"), attr(rPlan, rightTs, "right"),
      carryAttrs, dir, tolerance, outer)
    // rename carries to asof_<name> in a top-level Project (where aliases
    // are legal) and keep only left columns + carries; reference the NODE's
    // output attrs (nullability-widened under left-outer)
    val nodeCarryOut = node.output.drop(lPlan.output.length)
    val projected = Project(
      lPlan.output.map(a => a: NamedExpression) ++
        nodeCarryOut.zip(carry).map { case (a, c) => Alias(a, s"asof_$c")() },
      node)
    DatasetBridge.ofRows(spark, projected)
  }

  /** Gate query (`join_asof`, `join_asof_native`): for every purchase
    * event, the user's latest preceding (or simultaneous) click — oracle:
    * DuckDB's native ASOF JOIN. Clicks are deduplicated per (user, ts) by
    * max event_id so ties are deterministic. */
  def asofJoinQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, max}
    val ev = graft.core.Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts")
      .agg(max("event_id").as("click_id"))
    asofJoinNative(purchases, clicks, key = "user_id",
      leftTs = "ts", rightTs = "ts", carry = Seq("click_id"))
      .select(col("event_id"), col("user_id"), col("asof_click_id"))
  }
}
