package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Batch relational surface: the Crux-Datalog query capabilities the
  * reference exposes to every stored function through its 3-arity `query`
  * wrappers (`/root/reference/src/dataworks/db/user_db.clj:33-43`,
  * `/root/reference/src/dataworks/db/app_db.clj:33-43`), re-expressed as
  * declarative DataFrame plans so Catalyst does clause ordering, predicate
  * pushdown and join selection (replacing Crux's EAV index planner wholesale,
  * SURVEY.md §4).
  *
  * Operator keys (SURVEY.md §2.2): Q2/Q3 triple-pattern scans → pushed
  * filters; Q4 `:find` projection (+ implicit set semantics Q18 →
  * `.distinct()`); Q5 unification joins; Q6 predicate clauses; Q12 range
  * predicates; Q13 `or` → union+distinct; Q14 `not` → left_anti; Q15
  * aggregates; Q16 order/limit; Q8 rules → named plan-producing functions.
  *
  * Scale notes (100 TB posture): dimension tables (region/nation/customer at
  * TPC-H ratios) are `broadcast()` so fact-side joins shuffle only once on
  * the fact key; all money/quantity sums go through exact DECIMAL casts so
  * results are independent of partial-aggregation order (needed both for the
  * DuckDB oracle and for run-to-run determinism on a real cluster).
  */
object Relational {

  /** Exact, order-independent sum of a double column: per-row cast to a
    * fixed-scale decimal (deterministic given identical input doubles), then
    * integer-exact decimal summation, then one final cast back to double.
    * Mirrors `CAST(sum(CAST(x AS DECIMAL(p,s))) AS DOUBLE)` in the oracle.
    */
  def exactSum(c: Column, prec: Int = 28, scale: Int = 6): Column =
    sum(c.cast(s"decimal($prec,$scale)")).cast("double")

  // ---------------------------------------------------------------- scans

  /** Q2+Q4+Q18: attribute projection with Datalog set semantics. */
  def scanProject(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey")
      .distinct()

  /** Q3: triple pattern with constant value → pushed equality filter. */
  def filterEq(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "value")

  /** Q12: range predicates `[(<= 5 ?q)] [(< ?q 25)]`. */
  def filterRange(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 5 && col("l_quantity") < 25)
      .select("l_orderkey", "l_linenumber", "l_quantity")

  /** Q6: predicate clause — `clojure.string/starts-with?` as a filter
    * (`/root/reference/src/dataworks/utils/auth.clj:91-96`). */
  def filterStringPred(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_name").startsWith("Customer#00000001"))
      .select("c_custkey", "c_name")

  /** Q1: entity lookup by id (`crux/entity`,
    * `/root/reference/src/dataworks/db/app_db.clj:45-48`). */
  def entityLookup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") === 1L)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  // ---------------------------------------------------------------- joins

  /** Q5: unification join — shared logic var across entities. */
  def joinEqui(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_custkey", "c_name", "o_totalprice")

  /** Q5 (multiway): lineitem⋈orders⋈customer⋈nation⋈region rollup.
    * customer/nation/region are broadcast dims; the only shuffle is the
    * lineitem⋈orders fact join + final aggregation. */
  def joinMultiway(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        count(lit(1)).as("n_items"),
        exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))

  /** Q14: negation (`not` clause) → anti-join. */
  def joinAnti(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  /** Q5+Q18: existence → semi-join (join + distinct in Datalog terms). */
  def joinSemi(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")

  /** Q13: `or` of clause branches → union + distinct. */
  def unionOr(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).select("p_partkey", "p_brand", "p_size")
    p.filter(col("p_brand") === "Brand#12")
      .union(p.filter(col("p_size") > 40))
      .distinct()
  }

  /** Q18: implicit DISTINCT of `:find` projections. */
  def distinctProjection(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select("c_mktsegment").distinct()

  // ----------------------------------------------------------- aggregates

  /** Q15: TPC-H Q1-style grouped aggregates (sum/avg/count).
    * avg is expressed as exact-decimal sum / count so the value is
    * bit-identical regardless of partial-agg order. */
  def aggGroupBy(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        exactSum(col("l_quantity")).as("sum_qty"),
        exactSum(col("l_extendedprice")).as("sum_base_price"),
        exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))

  /** Rollup grouping sets (SURVEY §2.6: not in the reference — exposed
    * because Spark gives subtotals + grand total in ONE pass: Expand feeds
    * a single partial+final hash aggregate, no per-level rescan). `lvl` is
    * the grouping_id bitmask distinguishing a genuine NULL group value
    * from a subtotal row. */
  def aggRollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        exactSum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping_id().as("lvl"))

  /** CUBE sibling of [[aggRollup]]: all four grouping sets in one Expand
    * pass (adds the per-linestatus marginals rollup omits). */
  def aggCube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(
        exactSum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping_id().as("lvl"))

  /** Q15: count-distinct aggregate. */
  def aggCountDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"))

  /** Beyond-reference sketch operator: per-type approximate distinct users
    * via the KMV bottom-k synopsis ([[graft.functions.SketchExpressions]]).
    * Where [[aggCountDistinct]] shuffles every distinct (type, user) pair,
    * this ships ≤ k longs per group per map task — the fixed-size-synopsis
    * distinct count that stays shuffle-bounded at 100 TB. The md5-prefix
    * hash + IEEE estimator replay exactly in the DuckDB oracle; SketchSpec
    * pins the accuracy and partition-invariance contracts. */
  def sketchDistinctKmv(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(graft.functions.SketchExpressions.kmv_distinct(col("user_id"), 64)
        .as("distinct_est"))

  /** Beyond-reference sketch operator: per-type value quantiles from a
    * DETERMINISTIC hash sample — md5(event_id) keeps 1-in-8 rows, then
    * exact lower-rank quantiles over the sample (ties broken by id, so
    * the pick is total). The 100 TB quantile pattern: the sample filter
    * is a per-row predicate (no shuffle, no state), sized so each
    * group's sample stays window-sortable; the quantile itself is then
    * exact on the sample, and — unlike seeded-RNG sampling — the sample
    * set is independent of partitioning and replays in the oracle. */
  def sketchQuantileSample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sampled = Tables.events(s, d).filter(
      graft.functions.SketchExpressions.hash60(col("event_id")) < lit((1L << 60) / 8))
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    sampled
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(
        max(when(col("rn") === floor((col("cnt") - 1) * 0.5) + 1, col("value"))).as("p50"),
        max(when(col("rn") === floor((col("cnt") - 1) * 0.95) + 1, col("value"))).as("p95"),
        max(col("cnt")).as("n_sample"))
  }

  /** Q15: min/max (exact on doubles — no ordering sensitivity). */
  def aggMinMax(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        count(lit(1)).as("n_orders"))

  /** Q15: statistical aggregates (variance/stddev/median).
    * Crux's `variance`/`stddev`/`median` (crux 1.16 `:find` aggregates).
    * variance is computed from exact decimal sums of x and x², combined in
    * double with an expression tree mirrored verbatim in the oracle SQL, so
    * both engines execute identical IEEE operations. median is exact
    * (interpolating) in both Spark (`median`) and DuckDB. */
  def aggStats(s: SparkSession, d: String): DataFrame = {
    // Measure is l_quantity: its decimal sums keep raw unscaled values
    // < 2^53, where decimal→double conversion is correctly rounded and
    // therefore bit-identical across engines (extendedprice² sums are not).
    val x = col("l_quantity")
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        exactSum(x, 28, 6).as("sx"),
        exactSum(x * x, 38, 6).as("sx2"),
        median(x).as("median_price"))
      // n=1 group: sample variance is UNDEFINED (SQL var_samp returns
      // NULL) — the bare (n-1) divisor is an ANSI DIVIDE_BY_ZERO job
      // killer on any single-row group (PathologicalInputSpec pins this;
      // the oracle spells the same NULLIF)
      .withColumn("var_price",
        (col("sx2") - col("sx") * col("sx") / col("n")) /
          when(col("n") > 1, col("n") - 1))
      .withColumn("stddev_price", sqrt(col("var_price")))
      .select("l_returnflag", "n", "var_price", "stddev_price", "median_price")
  }

  /** Q16: order-by + limit (top-k) with deterministic tie-break. */
  def orderByLimit(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  /** Q16's OFFSET clause: page 2 of the same ordered listing (rows 11-25).
    * Spark plans offset+limit together (CollectLimit with skip) — still no
    * global sort materialization. */
  def orderByOffset(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .offset(10)
      .limit(15)

  // ---------------------------------------------------------------- rules

  /** Q8: a rule is a named, reusable plan-producing function (multiple
    * bodies would union). Here: the `high-value-order` rule... */
  def highValueOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_totalprice") > 300000.0)
      .select("o_custkey", "o_totalprice")

  /** ...reused by an outer query (rule application = plan inlining). */
  def ruleView(s: SparkSession, d: String): DataFrame =
    highValueOrders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        exactSum(col("o_totalprice")).as("total"))

  /** Q9: recursive rule (transitive closure) over the namespaced edge union
    * customer→nation ∪ nation→region ∪ supplier→nation. The recursion itself
    * is Fixpoint.transitiveClosure (driver-side semi-naive loop — Spark has
    * no recursive plans; SURVEY.md §4). */
  def recursiveReach(s: SparkSession, d: String): DataFrame = {
    val edges =
      Tables.customer(s, d)
        .select(concat(lit("c"), col("c_custkey")).as("src"),
                concat(lit("n"), col("c_nationkey")).as("dst"))
      .union(Tables.nation(s, d)
        .select(concat(lit("n"), col("n_nationkey")).as("src"),
                concat(lit("r"), col("n_regionkey")).as("dst")))
      .union(Tables.supplier(s, d)
        .select(concat(lit("s"), col("s_suppkey")).as("src"),
                concat(lit("n"), col("s_nationkey")).as("dst")))
    Fixpoint.transitiveClosure(edges)
  }

  // ----------------------------------------------------- bitemporal as-of

  /** Q10: as-of (valid-time) snapshot — latest visible version per entity.
    * events is read as a versions table (id=user_id, valid_from=ts);
    * `row_number()=1` over desc valid-time is the snapshot view
    * (SURVEY.md §1.1 bitemporal mapping). */
  def asofSnapshot(s: SparkSession, d: String): DataFrame = {
    // Filter + order on the RAW parquet-native ts (Tables.eventsRawTs):
    // under the nanos-long encoding a predicate on the converted timestamp
    // can't push past timestamp_micros(ts div 1000), while the native
    // comparison reaches parquet (row-group pruning via stats). tsAtMost
    // builds the cut literal in whichever type the fixture stores.
    val cut = java.time.Instant.parse("2024-01-15T00:00:00Z")
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val ev = Tables.eventsRawTs(s, d)
    ev.filter(Tables.tsAtMost(ev, cut))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("value").as("latest_value"))
  }

  /** Crux 1.16 `with-tx` over the events-as-versions mapping: the Q10
    * snapshot AS IF a speculative batch had committed — every user with
    * user_id % 50 = 0 gets a new value 999999.0, and user 7 is deleted —
    * while the committed rows (and, in [[graft.store.DocumentStore]],
    * the store itself) stay untouched. Speculative rows outrank every
    * committed version of their entity via the `__spec` ordering column
    * (the "txTime strictly after every committed tx" rule, made
    * ts-type-agnostic), then visibility falls out of the SAME rn=1
    * window as the plain snapshot — one path for both row kinds. */
  def asofSpeculative(s: SparkSession, d: String): DataFrame = {
    val cut = java.time.Instant.parse("2024-01-15T00:00:00Z")
    val ev = Tables.eventsRawTs(s, d)
    val tsType = ev.schema("ts").dataType // raw long nanos OR timestamp
    val committed = ev.filter(Tables.tsAtMost(ev, cut))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        lit(0).as("__spec"), lit(0).as("__del"))
    val specPut = committed.filter(col("user_id") % 50 === 0)
      .select(col("user_id")).distinct()
      .select(col("user_id"), lit(null).cast(tsType).as("ts"),
        lit(null).cast("long").as("event_id"),
        lit(999999.0).as("value"), lit(1).as("__spec"), lit(0).as("__del"))
    val specDel = committed.filter(col("user_id") === 7L)
      .select(col("user_id")).distinct()
      .select(col("user_id"), lit(null).cast(tsType).as("ts"),
        lit(null).cast("long").as("event_id"),
        lit(null).cast("double").as("value"), lit(1).as("__spec"), lit(1).as("__del"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("__spec").desc, col("ts").desc, col("event_id").desc)
    committed.unionByName(specPut).unionByName(specDel)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("__del") === 0)
      .select(col("user_id"), col("value").as("latest_value"))
  }

  /** Crux `attribute-stats` over the events-as-versions mapping: the Q10
    * snapshot's rows become JSON docs with VARYING key sets (`to_json`
    * drops null struct fields, mirroring a real store where different
    * docs carry different attributes), then attribute frequencies come
    * from the payloads themselves via `json_object_keys` — the exact
    * pipeline [[graft.store.DocumentStore.attributeStats]] runs, so the
    * gate exercises JSON key discovery end-to-end while the oracle
    * recomputes the expected counts analytically from the key-presence
    * formulas without parsing any JSON. One scan, one (attribute)
    * shuffle; scale is snapshot-linear with constant-width rows. */
  def storeAttrStats(s: SparkSession, d: String): DataFrame = {
    val cut = java.time.Instant.parse("2024-01-15T00:00:00Z")
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val ev = Tables.eventsRawTs(s, d)
    val snap = ev.filter(Tables.tsAtMost(ev, cut))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val doc = to_json(struct(
      col("value").as("value"),
      when(col("user_id") % 50 === 0, lit(true)).as("vip"),
      when(col("event_type") === "click", col("event_type")).as("note")))
    snap.select(doc.as("doc"))
      .select(explode(json_object_keys(col("doc"))).as("attribute"))
      .groupBy("attribute").agg(count(lit(1)).as("doc_count"))
  }

  /** Q11: bitemporal — both valid-time and transaction-time cuts
    * (event_id as the tx-time proxy per FIXTURES.md). */
  def bitemporalAsof(s: SparkSession, d: String): DataFrame = {
    val cut = java.time.Instant.parse("2024-01-15T00:00:00Z")
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val ev = Tables.eventsRawTs(s, d)
    ev.filter(Tables.tsAtMost(ev, cut) && col("event_id") <= 700L)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("value").as("latest_value"))
  }

  /** Entity history as a batch gate (Crux `entity-history`,
    * `DocumentStore.history(id)`): the full version chain of one entity,
    * newest first, with its version rank — events read as a versions table
    * (id=user_id, valid-time=ts, tx-order=event_id), as in [[asofSnapshot]].
    * The partition-by-entity window never sees other entities: the id
    * filter reaches parquet first. */
  def asofHistory(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.eventsRawTs(s, d)
      .filter(col("user_id") === 7L)
      .withColumn("version_rank", row_number().over(w))
      .select(col("version_rank"), col("event_id"), col("value"))
  }

  /** CDC change-kind classification (`DocumentStore.changes` /
    * `changesSince` over the events tx-log proxy: user_id=id, (ts,
    * event_id)=tx order, event_type='error' plays the tombstone). Each
    * version's kind depends only on the PREVIOUS version's tombstone flag —
    * `delete` for a tombstone, `insert` for a first version or a put right
    * after a tombstone (re-insert), `update` otherwise — so the plan is one
    * lag window over (id), one shuffle, no join. The `event_id > 700` tail
    * is the consumer's resume cut; it applies AFTER the window (an update's
    * kind depends on the version before the cut), exactly as
    * `changesSince` does. */
  def storeChanges(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val deleted = col("event_type") === "error"
    val prevDeleted = lag(deleted, 1).over(w)
    Tables.eventsRawTs(s, d)
      .withColumn("op",
        when(deleted, lit("delete"))
          .when(prevDeleted.isNull || prevDeleted, lit("insert"))
          .otherwise(lit("update")))
      .filter(col("event_id") > 700L)
      .select(col("user_id"), col("event_id"), col("op"))
  }

  // ------------------------------------------------------ scalar functions

  /** X1/X3: truncate-to-unit time coercion (`consume-time`'s keyword-unit
    * arm, `/root/reference/src/dataworks/utils/time.clj:76-79`). */
  def timeTruncate(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** X4: next-or-same day-of-week (`consume-time`'s DayOfWeek arm,
    * `/root/reference/src/dataworks/utils/time.clj:70-73` — the loop tests
    * TODAY before advancing): events counted by the first Monday on or
    * after their timestamp's date. */
  def timeNextDay(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(graft.query.Functions.nextDayOfWeek(col("ts"), "Mon")
        .cast("date").as("next_monday"))
      .agg(count(lit(1)).as("n"))

  /** Dense time-grid resample: per-user DAILY activity with gap days
    * zero-filled — the "no row ≠ no data" fix every time-series consumer
    * needs (charting, churn features, anomaly baselines all assume a
    * dense grid). Scale shape: the grid explodes PER KEY over that key's
    * own [min, max] span (`sequence` of day timestamps — span-bounded,
    * never a global calendar cross join), then one (key, day) left join
    * back onto the aggregated facts; both sides are post-aggregation
    * model-thin rows, never raw events. */
  def tsResampleQuery(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"), exactSum(col("value")).as("sum_v"))
    val grid = agg.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    grid.join(agg, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_v"), lit(0.0)).as("sum_v"))
  }

  /** 7-day rolling totals per user over the DENSE grid — the reason
    * [[tsResampleQuery]] gap-fills: a rowsBetween frame over sparse data
    * would span 7 *active* days, silently stretching the window over
    * quiet periods; over the dense grid, 7 rows IS 7 calendar days.
    * The rolling money sum re-enters decimal so frame addition order
    * can't move the result (window sums are tree-aggregated differently
    * per engine); counts are longs, already exact. */
  def tsRollingQuery(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
    tsResampleQuery(s, d)
      .select(col("user_id"), col("day"),
        sum("n_events").over(w).as("n_7d"),
        sum(col("sum_v").cast("decimal(28,6)")).over(w)
          .cast("double").as("sum_v_7d"))
  }

  /** Retention cohorts: users grouped by first-activity day, counted on
    * each later day they return — the (cohort, day-offset, n_active)
    * triangle every growth dashboard draws. All integer/date arithmetic
    * (distinct (user, day) activity → per-user min → datediff), exact in
    * any engine. Scale shape: the activity matrix is post-aggregation
    * (user, day) rows, the cohort table is one row per user; both
    * shuffles are key-thin, never raw events. */
  def tsRetentionQuery(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val cohort = daily.groupBy("user_id").agg(min("day").as("cohort"))
    daily.join(cohort, "user_id")
      .groupBy(col("cohort"),
        datediff(col("day"), col("cohort")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Strict first-occurrence funnel: how far each user progresses
    * through view → click → purchase judged on each stage's FIRST
    * occurrence only — the user reaches stage k iff
    * first(view) ≤ first(click) ≤ … holds up to stage k. (This is the
    * strict definition: a user whose first purchase predates their first
    * click stops at stage 2 even if they purchase again later; an
    * any-qualifying-event funnel needs per-stage conditional minima and
    * is a different metric.) First-occurrence timestamps are exact
    * minima and the comparisons are timestamp inequalities, so the whole
    * funnel replays engine-exactly. One thin shuffle on user_id. */
  def tsFunnelQuery(s: SparkSession, d: String): DataFrame = {
    val firsts = Tables.events(s, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
    firsts
      .select(col("user_id"),
        when(col("t_view").isNull, 0)
          .when(col("t_click").isNull || col("t_click") < col("t_view"), 1)
          .when(col("t_purchase").isNull || col("t_purchase") < col("t_click"), 2)
          .otherwise(3).as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("n_users"))
  }

  /** Event-type transition counts: (previous type → type) occurrences per
    * user-ordered stream — the Markov transition table behavior features
    * and next-event models start from. lag over the per-user (ts,
    * event_id) total order, then one small aggregate; stream starts
    * (no predecessor) count under prev_type = '∅'. All integer. */
  def tsTransitionsQuery(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type",
        coalesce(lag("event_type", 1).over(w), lit("∅")))
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n"))
  }

  /** Per-key consecutive deltas: value − lag(value) in (ts, event_id)
    * order — the step-change signal. The window partitions by user, so
    * the sort is per-key; raw-double subtraction of identical parquet
    * bits is engine-exact, no rounding needed. */
  def tsDeltaQuery(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("delta", col("value") - lag("value", 1).over(w))
      .drop("value", "ts")
  }

  /** Per-event anomaly z-scores against the key's own distribution:
    * (value − mean)/stddev per user — the cheap outlier signal batch
    * monitoring thresholds on. The moments ride the agg_stats exact
    * machinery (order-independent decimal sums → one double conversion),
    * so the IEEE op sequence after them is identical in both engines;
    * q6-rounded, NULL for keys with a single observation. One shuffle on
    * the key for the moments; the apply is a broadcast-sized join back
    * (per-key rows, not per-event). */
  def tsZscoreQuery(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("value"))
    val st = ev.groupBy("user_id").agg(
      count(lit(1)).as("n"),
      exactSum(col("value"), 28, 6).as("sx"),
      exactSum(col("value") * col("value"), 38, 6).as("sx2"))
    ev.join(st, "user_id")
      .select(col("event_id"), col("user_id"),
        // variance > 0 guard: a constant-valued key's cancellation residue
        // is ~0 or slightly negative, and (v-mean)/sqrt(that) would emit
        // NaN (0/0, sqrt(neg)) instead of the NULL single-row keys get
        when(col("n") > 1 &&
             (col("sx2") - col("sx") * col("sx") / col("n")) > 0,
          graft.query.Functions.stableRound(
            (col("value") - col("sx") / col("n")) /
              sqrt((col("sx2") - col("sx") * col("sx") / col("n")) / (col("n") - 1)),
            6)).as("z"))
  }

  /** X5: JSON decode (cheshire in the reference) → `get_json_object`. */
  def jsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))

  /** T3/T4/T5 batch-equivalent of the README stream pipeline
    * (`/root/reference/ReadMe.org:44-46`): map `:value`, map `inc`, and the
    * engine's forced null-drop (`(filter some?)`,
    * `/root/reference/src/dataworks/stream.clj:47`). */
  def streamMapFilterBatch(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_id"), (col("value") + 1.0).as("v"))

  /** Batch equivalent of the topology's WindowAgg nodes: the SAME
    * `window()` expression `Topology.applyOp` applies to streams
    * (`stream/Topology.scala:84`), here over the batch events table —
    * tumbling 1 h event-time buckets per event type, counts + exact
    * decimal sums. Oracle: `date_trunc('hour')` (epoch-aligned tumbling
    * windows coincide with hour truncation). */
  def streamWindowedAggBatch(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_v"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_v"))

  /** Windowed approximate-distinct — the sketch gate's streaming-shaped
    * face: daily unique users per event type from the KMV synopsis. In a
    * live stream the SAME aggregate runs under a watermark with per-window
    * state = k longs (SketchSpec pins streaming ≡ batch); here it's the
    * batch backfill the DuckDB oracle replays. */
  def streamWindowedDistinctBatch(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(graft.functions.SketchExpressions.kmv_distinct(col("user_id"), 64)
        .as("approx_users"))
      .select(col("w.start").as("w_start"), col("event_type"), col("approx_users"))

  /** Per-key quota admission — the batch face of the streaming
    * `Stateful.quotaAdmit` / `OpSpec.QuotaAdmit` ingest stage ("at most N
    * docs per source"). With arrival order fixed to doc_id order, the
    * streaming admitted set IS row_number-per-key ≤ cap, which is what
    * this backfill (and its DuckDB oracle) pins. The window partitions by
    * the quota key, so the sort is per-source, never global. */
  def streamQuotaAdmitBatch(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("doc_id")))
      .filter(col("rn") <= 10)
      .select(col("doc_id"), col("source"), col("rn"))

  /** Beyond-reference streaming sketch #2: per-window COUNT-MIN term
    * frequencies — the trending-terms shape ("which event types spiked
    * this hour"). The same windowed-synopsis contract as
    * [[streamWindowedDistinctBatch]]: per-window state is one depth×width
    * matrix (fixed bytes however many events the window sees), built with
    * map-side partials, probed with codegen'd lookups; SketchSpec pins
    * streaming ≡ batch through the state store, and the whole thing
    * replays cell-for-cell in DuckDB. */
  def streamWindowedTopkBatch(s: SparkSession, d: String): DataFrame = {
    import graft.functions.SketchExpressions.{cms_sketch, cmsEstimate}
    val probes = Seq("view", "click", "purchase")
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(cms_sketch(col("event_type"), 4, 256).as("sk"))
      .select(Seq(col("w.start").as("w_start")) ++ probes.map(t =>
        cmsEstimate(col("sk"), lit(t), 4, 256).as(s"n_$t")): _*)
  }

  /** Gap-based sessionization: chain a user's events into a session while
    * consecutive gaps stay ≤ `gapMicros`, then aggregate per session —
    * the classic lag → new-session flag → running-sum id assignment.
    * Streaming equivalent: `session_window(ts, gap)` (SessionizeSpec pins
    * the two agree on membership; the built-in's session END is last event
    * + gap, so only start/count/sum are comparable).
    *
    * Scale shape: ONE shuffle on user_id serves both windows AND the final
    * aggregate (hash-partitioned by user, sessions never straddle
    * partitions); the µs-integer gap comparison keeps the flag exact.
    * Timestamps stay µs-BIGINT end-to-end — no float seconds. */
  def sessionize(events: DataFrame, gapMicros: Long): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("__prev", lag(col("ts"), 1).over(byUser))
      .withColumn("__new", when(col("__prev").isNull ||
        unix_micros(col("ts")) - unix_micros(col("__prev")) > gapMicros, 1L)
        .otherwise(0L))
      .withColumn("session_seq", sum(col("__new")).over(
        byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
  }

  /** SparkEntry query (oracled): 12 h-gap sessions over the events table. */
  def streamSessionizeBatch(s: SparkSession, d: String): DataFrame =
    sessionize(Tables.events(s, d), gapMicros = 12L * 3600 * 1000000)
}
