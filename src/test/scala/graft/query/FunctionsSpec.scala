package graft.query

import java.time._

import org.apache.spark.sql.functions.expr
import org.scalacheck.Gen

import graft.SparkSpec

/** consume-time coercion matrix (`/root/reference/src/dataworks/utils/time.clj:11-86`)
  * — property: total function, never throws (the reference documents the
  * no-throw contract at time.clj:37-39) — plus the column-level toolkit
  * over DataFrames (X2 `millisUntil`, X7 `renameColumns`, F8 ns-keys). */
class FunctionsSpec extends SparkSpec {

  private val now = Instant.parse("2024-06-15T12:30:45.123Z")

  test("instant/date/localdate arms") {
    assert(Functions.consumeTime(now, now).contains(now))
    assert(Functions.consumeTime(java.util.Date.from(now), now).contains(now))
    assert(Functions.consumeTime(LocalDate.of(2024, 6, 20), now)
      .contains(Instant.parse("2024-06-20T00:00:00Z")))
  }

  test("duration and period arms") {
    assert(Functions.consumeTime(Duration.ofHours(2), now)
      .contains(now.plus(Duration.ofHours(2))))
    // Period: today + p at midnight
    assert(Functions.consumeTime(Period.ofDays(3), now)
      .contains(Instant.parse("2024-06-18T00:00:00Z")))
  }

  test("day-of-week arm: next-or-SAME weekday at midnight (time.clj:70-73)") {
    // 2024-06-15 is a Saturday; next Monday is 06-17
    assert(Functions.consumeTime(DayOfWeek.MONDAY, now)
      .contains(Instant.parse("2024-06-17T00:00:00Z")))
    // the reference's loop starts at TODAY and tests before advancing, so
    // Saturday-on-a-Saturday is TODAY at midnight (already past — an alert
    // so scheduled fires immediately), not the following week
    assert(Functions.consumeTime(DayOfWeek.SATURDAY, now)
      .contains(Instant.parse("2024-06-15T00:00:00Z")))
  }

  test("int-millis arm and keyword-unit arms (duration vs period fallback)") {
    assert(Functions.consumeTime(1500, now).contains(now.plusMillis(1500)))
    // :hour → now + 1h truncated to hour (t/new-duration arm)
    assert(Functions.consumeTime(":hour", now)
      .contains(Instant.parse("2024-06-15T13:00:00Z")))
    assert(Functions.consumeTime(":day", now)
      .contains(Instant.parse("2024-06-16T00:00:00Z")))
    // :weeks/:months/:years: t/new-duration THROWS on estimated units, so
    // the reference lands in its PERIOD arm — today + 1 period at
    // midnight, NOT truncated (no snapping to Monday / the 1st / Jan 1)
    assert(Functions.consumeTime(":weeks", now)
      .contains(Instant.parse("2024-06-22T00:00:00Z")))
    assert(Functions.consumeTime(":months", now)
      .contains(Instant.parse("2024-07-15T00:00:00Z")))
    assert(Functions.consumeTime(":years", now)
      .contains(Instant.parse("2025-06-15T00:00:00Z")))
  }

  test(":never sentinel sorts after any real time") {
    val n = Functions.consumeTime(":never", now).get
    assert(n.isAfter(Instant.parse("9999-01-01T00:00:00Z")))
  }

  test("string parsing: instant, local date, ISO duration") {
    assert(Functions.consumeTime("2024-01-02T03:04:05Z", now)
      .contains(Instant.parse("2024-01-02T03:04:05Z")))
    assert(Functions.consumeTime("2024-01-02", now)
      .contains(Instant.parse("2024-01-02T00:00:00Z")))
    assert(Functions.consumeTime("PT30M", now).contains(now.plusSeconds(1800)))
  }

  test("sequence arm: running reductions") {
    // now → next Monday midnight → +2h  (the reference's alert idiom)
    assert(Functions.consumeTime(Seq(DayOfWeek.MONDAY, Duration.ofHours(2)), now)
      .contains(Instant.parse("2024-06-17T02:00:00Z")))
  }

  test("property: consumeTime is total (never throws) on arbitrary strings") {
    val gen = Gen.asciiPrintableStr
    (1 to 500).foreach { n =>
      gen.apply(Gen.Parameters.default.withSize(n % 60),
        org.scalacheck.rng.Seed(n.toLong)).foreach { s =>
        Functions.consumeTime(s, now) // must not throw
        Functions.getMillis(s, now)
      }
    }
  }

  test("property: consumeTime is total on arbitrary anys") {
    val anyGen: Gen[Any] = Gen.oneOf(
      Gen.long, Gen.double, Gen.asciiPrintableStr, Gen.const(null),
      Gen.listOf(Gen.oneOf[Any](Gen.long, Gen.asciiPrintableStr)))
    (1 to 300).foreach(n => anyGen.apply(Gen.Parameters.default,
      org.scalacheck.rng.Seed(n.toLong)).foreach(v => Functions.consumeTime(v, now)))
  }

  test("case conversion round trips") {
    assert(Functions.toSnake("userIdValue") == "user_id_value")
    assert(Functions.toKebab("user_id_value") == "user-id-value")
    assert(Functions.toCamel("user-id-value") == "userIdValue")
  }

  test("keyword utils mirror set-ns conventions") {
    assert(Functions.namespacedId("transformer", "foo") == ":transformer/foo")
    assert(Functions.idNamespace(":transformer/foo") == "transformer")
    assert(Functions.idName(":transformer/foo") == "foo")
    assert(Functions.stringifyKeyword(":a/b") == "a/b")
  }

  test("X2 millisUntil: signed millis from the query's current time") {
    // current_timestamp() is one value per query, so the offsets are exact
    import spark.implicits._
    val got = spark.range(1).select(
      Functions.millisUntil(expr("current_timestamp() + INTERVAL 90 SECONDS")),
      Functions.millisUntil(expr("current_timestamp() - INTERVAL 2 HOURS")))
      .as[(Long, Long)].head()
    assert(got == (90000L, -7200000L))
  }

  test("X7 renameColumns: every column through a case converter, data kept") {
    import spark.implicits._
    val df = Seq((1, "a")).toDF("userId", "display-name")
    val out = Functions.renameColumns(df, Functions.toSnake)
    assert(out.columns.toSeq == Seq("user_id", "display_name"))
    assert(out.as[(Int, String)].head() == (1, "a"))
  }

  test("F8 selectNsKeys / excludeNsKeys / nsKeys: select, drop, prefix by namespace") {
    import spark.implicits._
    val df = Seq((1, "ada", 7)).toDF("user_id", "user_name", "order_id")
    assert(Functions.selectNsKeys(df, "user").columns.toSeq == Seq("user_id", "user_name"))
    assert(Functions.excludeNsKeys(df, "user").columns.toSeq == Seq("order_id"))
    // a prefix match needs the separator: "use" is not the "user" namespace
    assert(Functions.selectNsKeys(df, "use").columns.isEmpty)
    val moved = Functions.nsKeys(df, "tx", Seq("order_id"))
    assert(moved.columns.toSeq == Seq("user_id", "user_name", "tx_order_id"))
    assert(moved.select("tx_order_id").as[Int].head() == 7)
  }

  test("F8 setNs: re-namespaces every column; a merging rename is rejected") {
    import spark.implicits._
    val df = Seq((1, "ada")).toDF("user_id", "name")
    val out = Functions.setNs(df, "person")
    assert(out.columns.toSeq == Seq("person_id", "person_name"))
    assert(out.as[(Int, String)].head() == (1, "ada"))
    val clash = Seq((1, 2)).toDF("user_id", "order_id")
    val e = intercept[IllegalArgumentException](Functions.setNs(clash, "x"))
    assert(e.getMessage.contains("would merge distinct columns"), e.getMessage)
    assert(e.getMessage.contains("user_id+order_id -> x_id"), e.getMessage)
  }
}
