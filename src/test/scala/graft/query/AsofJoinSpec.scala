package graft.query

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.plans.AsOfJoin

class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  /** Naive window formulation to check the operator against: theta-join
    * every right row at or before the left row, keep the latest per left
    * row (`lid` must be unique; right (key, ts) pairs too). O(matches) —
    * fine at test sizes, which is why the library does not plan it. */
  private def windowReference(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, carry: String, lid: String): DataFrame =
    left.as("l").join(right.as("r"),
        col(s"l.$key") === col(s"r.$key") && col(s"r.$rightTs") <= col(s"l.$leftTs"))
      .select(col(s"l.$lid").as(lid), col(s"r.$rightTs").as("__rts"),
        col(s"r.$carry").as(s"asof_$carry"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(lid)).orderBy(col("__rts").desc)))
      .filter(col("__rn") === 1)
      .select(col(lid), col(s"asof_$carry"))

  test("as-of join picks the latest right row at or before each left ts") {
    val quotes = Seq( // key, ts, price
      ("A", ts(0), 100.0), ("A", ts(10), 110.0), ("B", ts(5), 50.0)
    ).toDF("sym", "qts", "price")
    val trades = Seq(
      ("A", ts(5), 1L),   // → quote@0 (100.0)
      ("A", ts(10), 2L),  // tie: inclusive → quote@10 (110.0)
      ("A", ts(20), 3L),  // → quote@10
      ("B", ts(4), 4L),   // no prior quote → dropped (inner as-of)
      ("B", ts(6), 5L)    // → quote@5
    ).toDF("sym", "tts", "trade_id")
    val got = AsOfJoin.asofJoinNative(trades, quotes, "sym", "tts", "qts", Seq("price"))
      .select("trade_id", "asof_price").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 100.0, 2L -> 110.0, 3L -> 110.0, 5L -> 50.0))
  }

  test("plan shape: exactly one shuffle (no join explosion)") {
    val left = spark.range(100).selectExpr("id % 5 AS k", "id AS lts", "id AS v")
    val right = spark.range(20).selectExpr("id % 5 AS k", "id AS rts", "id * 10 AS payload")
    val df = AsOfJoin.asofJoinNative(left, right, "k", "lts", "rts", Seq("payload"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the merge operator is the only join: no equi/theta join whose output
    // grows with the matches per key
    val joins = "(SortMerge|ShuffledHash|BroadcastHash|BroadcastNestedLoop)Join|CartesianProduct"
    assert(joins.r.findFirstIn(plan).isEmpty,
      s"as-of must not produce a per-match join operator:\n$plan")
    // every input row crosses exactly one shuffle: one key exchange per
    // side (AQE prints initial+final plans, so count DISTINCT exchange keys)
    val exchangeKeys =
      "hashpartitioning\\((\\w+)#(\\d+)".r.findAllMatchIn(plan).map(_.group(2)).toSet
    assert(exchangeKeys.size == 2, s"one key exchange per side:\n$plan")
  }

  test("native AsOfJoinExec matches the window formulation on the same input") {
    val quotes = Seq(
      ("A", ts(0), 100.0), ("A", ts(10), 110.0), ("B", ts(5), 50.0)
    ).toDF("sym", "qts", "price")
    val trades = Seq(
      ("A", ts(5), 1L), ("A", ts(10), 2L), ("A", ts(20), 3L),
      ("B", ts(4), 4L), ("B", ts(6), 5L)
    ).toDF("sym", "tts", "trade_id")
    val got = AsOfJoin.asofJoinNative(trades, quotes, "sym", "tts", "qts", Seq("price"))
      .select("trade_id", "asof_price").as[(Long, Double)].collect().toMap
    val want = windowReference(trades, quotes, "sym", "tts", "qts", "price", "trade_id")
      .as[(Long, Double)].collect().toMap
    assert(want == Map(1L -> 100.0, 2L -> 110.0, 3L -> 110.0, 5L -> 50.0))
    assert(got == want)
  }

  test("native exec: randomized parity with window formulation, incl. nulls") {
    // deterministic pseudo-random fixture with hot keys, ties, and nulls
    val left = spark.range(2000).select(
      (pmod(hash(col("id"), lit(1)), lit(7))).cast("long").as("k"),
      (pmod(hash(col("id"), lit(2)), lit(50))).cast("long").as("lts"),
      col("id").as("lid"))
      .withColumn("k", when(col("lid") % 97 === 0, lit(null)).otherwise(col("k")))
    val right = spark.range(300).select(
      (pmod(hash(col("id"), lit(3)), lit(7))).cast("long").as("k"),
      (pmod(hash(col("id"), lit(4)), lit(50))).cast("long").as("rts"),
      col("id").as("rid"))
      // dedup (k, rts) so the latest-row tie is well-defined in BOTH impls
      .groupBy("k", "rts").agg(max("rid").as("rid"))
      .withColumn("rts", when(col("rid") % 89 === 0, lit(null)).otherwise(col("rts")))
      // null CARRY values on matched rows: the matched row must still win
      // (a per-column last(ignoreNulls) would resurrect a stale older row)
      .withColumn("rid", when(col("rid") % 7 === 0, lit(null)).otherwise(col("rid")))
    val viaWindow = windowReference(left, right, "k", "lts", "rts", "rid", "lid")
      .as[(Long, Option[Long])].collect().toMap
    val viaExec = graft.plans.AsOfJoin
      .asofJoinNative(left, right, "k", "lts", "rts", Seq("rid"))
      .select("lid", "asof_rid").as[(Long, Option[Long])].collect().toMap
    assert(viaExec.size == viaWindow.size)
    assert(viaExec == viaWindow)
    // the null-carry injection must actually exercise matched-null rows
    assert(viaExec.values.exists(_.isEmpty), "fixture should produce null carries")
  }

  test("native exec rejects mismatched key/time types instead of silently mis-joining") {
    val l = spark.range(5).selectExpr("id AS k", "id AS t", "id AS v")
    val rIntKey = spark.range(5).selectExpr("CAST(id AS INT) AS k", "id AS t", "id AS p")
    val e = intercept[Exception] {
      graft.plans.AsOfJoin.asofJoinNative(l, rIntKey, "k", "t", "t", Seq("p")).collect()
    }
    assert(e.getMessage.contains("key types must match"), e.getMessage)
  }

  test("native exec: forward direction picks the earliest right row at or after") {
    val quotes = Seq(
      ("A", 0L, 100.0), ("A", 10L, 110.0), ("B", 5L, 50.0)
    ).toDF("sym", "qts", "price")
    val trades = Seq(
      ("A", 5L, 1L),   // → quote@10 (next at-or-after)
      ("A", 10L, 2L),  // tie: inclusive → quote@10
      ("A", 20L, 3L),  // nothing after → dropped
      ("B", 4L, 4L),   // → quote@5
      ("B", 6L, 5L)    // nothing after → dropped
    ).toDF("sym", "tts", "trade_id")
    val got = graft.plans.AsOfJoin
      .asofJoinNative(trades, quotes, "sym", "tts", "qts", Seq("price"),
        direction = "forward")
      .select("trade_id", "asof_price").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 110.0, 2L -> 110.0, 4L -> 50.0))
    // a forward right row serves MULTIPLE earlier left rows (1 and 2 both
    // matched quote@10) — verified by the map above
  }

  test("native exec: tolerance bounds the match distance in both directions") {
    val quotes = Seq(("A", 0L, 100.0), ("A", 100L, 110.0)).toDF("sym", "qts", "price")
    val trades = Seq(
      ("A", 3L, 1L),   // backward: quote@0 within tol=5
      ("A", 50L, 2L),  // backward: quote@0 at distance 50 > 5 → dropped
      ("A", 97L, 3L)   // backward: quote@0 at distance 97 → dropped; forward: quote@100 within tol
    ).toDF("sym", "tts", "trade_id")
    val back = graft.plans.AsOfJoin
      .asofJoinNative(trades, quotes, "sym", "tts", "qts", Seq("price"),
        tolerance = Some(5L))
      .select("trade_id", "asof_price").as[(Long, Double)].collect().toMap
    assert(back == Map(1L -> 100.0),
      s"only within-tolerance backward matches survive: $back")
    val fwd = graft.plans.AsOfJoin
      .asofJoinNative(trades, quotes, "sym", "tts", "qts", Seq("price"),
        direction = "forward", tolerance = Some(5L))
      .select("trade_id", "asof_price").as[(Long, Double)].collect().toMap
    assert(fwd == Map(3L -> 110.0),
      s"only within-tolerance forward matches survive: $fwd")
    // tolerance on a non-numeric time column is rejected
    intercept[Exception] {
      graft.plans.AsOfJoin.asofJoinNative(
        trades.withColumn("tts", $"tts".cast("string")),
        quotes.withColumn("qts", $"qts".cast("string")),
        "sym", "tts", "qts", Seq("price"), tolerance = Some(5L)).collect()
    }
  }

  test("native exec: left-outer keeps unmatched left rows with null carries") {
    val quotes = Seq(("A", 10L, 110.0)).toDF("sym", "qts", "price")
    val trades = Seq(
      ("A", Some(5L), 1L),   // before any quote → kept with NULL (backward outer)
      ("A", Some(20L), 2L),  // matched → 110.0
      ("B", Some(7L), 3L),   // key with no quotes at all → kept with NULL
      (null, Some(15L), 4L), // NULL key never matches → kept with NULL (outer)
      ("A", None, 5L)        // NULL time never matches → kept with NULL (outer)
    ).toDF("sym", "tts", "trade_id")
    val got = graft.plans.AsOfJoin
      .asofJoinNative(trades, quotes, "sym", "tts", "qts", Seq("price"),
        joinType = "left")
      .select("trade_id", "asof_price").as[(Long, Option[Double])].collect().toMap
    assert(got == Map(1L -> None, 2L -> Some(110.0), 3L -> None,
      4L -> None, 5L -> None))
    // forward outer: trade@20 has nothing at-or-after → NULL; trade@5 matches
    val fwd = graft.plans.AsOfJoin
      .asofJoinNative(trades, quotes, "sym", "tts", "qts", Seq("price"),
        direction = "forward", joinType = "left")
      .select("trade_id", "asof_price").as[(Long, Option[Double])].collect().toMap
    assert(fwd == Map(1L -> Some(110.0), 2L -> None, 3L -> None,
      4L -> None, 5L -> None))
    // inner default unchanged: unmatched rows drop
    val inner = graft.plans.AsOfJoin
      .asofJoinNative(trades, quotes, "sym", "tts", "qts", Seq("price"))
      .select("trade_id").as[Long].collect().toSet
    assert(inner == Set(2L))
  }

  test("native exec: self-join-safe, and plans as AsOfJoinExec with per-side exchanges") {
    // both sides derive from the SAME base frame (shared attribute ids)
    val base = spark.range(500).select(
      pmod(col("id"), lit(5)).as("k"), col("id").as("t"), (col("id") * 2).as("v"))
    val df = graft.plans.AsOfJoin.asofJoinNative(
      base.filter(col("id") % 2 === 0), base.filter(col("id") % 2 === 1),
      "k", "t", "t", Seq("v"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix — the operator prints "AsOfJoin"
    assert(plan.contains("AsOfJoin"), s"expected the native operator:\n$plan")
    // one hash exchange per side (AQE prints initial+final plans, so count
    // DISTINCT exchange keys, not string occurrences)
    val exchangeKeys =
      "hashpartitioning\\((\\w+)#(\\d+)".r.findAllMatchIn(plan).map(_.group(2)).toSet
    assert(exchangeKeys.size == 2, s"one hash exchange per side:\n$plan")
  }
}
