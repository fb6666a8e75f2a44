package graft.query

import java.time._
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scalar-function toolkit the reference hands to every stored function
  * (SURVEY.md §2.5).
  *
  * `consumeTime` replicates the full coercion matrix of `consume-time`
  * (`/root/reference/src/dataworks/utils/time.clj:11-86`): a polymorphic,
  * no-throw coercion of "time-like things" to an Instant — the documented
  * contract is totality (`time.clj:37-39` warns it returns nil rather than
  * throwing). `Never` models the `:never` sentinel.
  *
  * Column-level equivalents use built-ins (codegen'd) where they exist:
  * `date_trunc`, `next_day`, interval arithmetic; the driver-side Scala
  * version covers the reference's dynamic arms (keywords, sequences).
  */
object Functions {

  /** Engine-stable half-up rounding of a non-negative double:
    * `floor(x·10ˢ + 0.5)/10ˢ` — the identical IEEE op sequence in Spark
    * and DuckDB. Plain `round(x, s)` is NOT oracle-safe: Spark rounds via
    * exact BigDecimal, DuckDB via this floating-point formula, and one ulp
    * below a .5 boundary they disagree (bitten at sf0.1). */
  def stableRound(c: Column, scale: Int): Column = {
    val p = math.pow(10.0, scale)
    floor(c * p + lit(0.5)) / p
  }

  /** `:never` sentinel — sorts after every real instant
    * (`time.clj`'s :never arm; used by alert scheduling). */
  val Never: Instant = Instant.ofEpochMilli(Long.MaxValue >> 12)

  /** Duration-representable keyword units (`t/new-duration` accepts exactly
    * the exact-length ChronoUnits): now + 1 unit, truncated to the unit —
    * `time.clj:76-79`'s first arm. */
  private val durationUnits: Map[String, ChronoUnit] = Map(
    "nano" -> ChronoUnit.NANOS, "nanos" -> ChronoUnit.NANOS,
    "micro" -> ChronoUnit.MICROS, "micros" -> ChronoUnit.MICROS,
    "milli" -> ChronoUnit.MILLIS, "millis" -> ChronoUnit.MILLIS,
    "second" -> ChronoUnit.SECONDS, "seconds" -> ChronoUnit.SECONDS,
    "minute" -> ChronoUnit.MINUTES, "minutes" -> ChronoUnit.MINUTES,
    "hour" -> ChronoUnit.HOURS, "hours" -> ChronoUnit.HOURS,
    "half-day" -> ChronoUnit.HALF_DAYS, "half-days" -> ChronoUnit.HALF_DAYS,
    "day" -> ChronoUnit.DAYS, "days" -> ChronoUnit.DAYS)

  /** Period-only keyword units: `t/new-duration` THROWS on estimated units
    * (weeks/months/years), so the reference falls through to its period arm
    * — today + 1 period at MIDNIGHT, deliberately NOT truncated to a
    * week/month/year boundary (`time.clj:80-85`). `:weeks` is therefore
    * today+7d at 00:00, not the next Monday. */
  private val periodUnits: Map[String, Period] = Map(
    "week" -> Period.ofWeeks(1), "weeks" -> Period.ofWeeks(1),
    "month" -> Period.ofMonths(1), "months" -> Period.ofMonths(1),
    "year" -> Period.ofYears(1), "years" -> Period.ofYears(1))

  /** Full coercion matrix. Total: never throws; unparseable → None.
    * Arms mirror `time.clj:11-86` case order. */
  def consumeTime(value: Any, now: Instant = Instant.now()): Option[Instant] =
    try {
      value match {
        case null => None
        case i: Instant => Some(i)
        case d: java.util.Date => Some(d.toInstant) // java.sql.Timestamp included
        case ld: LocalDate => Some(ld.atStartOfDay(ZoneOffset.UTC).toInstant)
        case d: Duration => Some(now.plus(d))
        case p: Period => // today + period, at midnight (time.clj Period arm)
          Some(LocalDate.ofInstant(now, ZoneOffset.UTC).plus(p)
            .atStartOfDay(ZoneOffset.UTC).toInstant)
        case dow: DayOfWeek =>
          // next-or-SAME weekday at midnight: the reference's loop starts
          // at TODAY and tests before advancing (time.clj:70-73), so an
          // alert for :saturday set on a Saturday resolves to today 00:00
          // (already past → fires immediately), not next week
          var d = LocalDate.ofInstant(now, ZoneOffset.UTC)
          while (d.getDayOfWeek != dow) d = d.plusDays(1)
          Some(d.atStartOfDay(ZoneOffset.UTC).toInstant)
        case ms: Int => Some(now.plusMillis(ms.toLong)) // int millis-from-now
        case ms: Long => Some(now.plusMillis(ms))
        case ":never" | "never" => Some(Never)
        case kw: String if durationUnits.contains(kw.stripPrefix(":")) =>
          val u = durationUnits(kw.stripPrefix(":"))
          Some(now.plus(1, u).truncatedTo(u))
        case kw: String if periodUnits.contains(kw.stripPrefix(":")) =>
          Some(LocalDate.ofInstant(now, ZoneOffset.UTC)
            .plus(periodUnits(kw.stripPrefix(":")))
            .atStartOfDay(ZoneOffset.UTC).toInstant)
        case s: String => parseTimeString(s, now)
        case xs: Seq[_] => // sequence → running reductions (time.clj:80-86):
          // each element coerced relative to the previous result; final value.
          xs.foldLeft(Option(now)) {
            case (Some(acc), v) => consumeTime(v, acc)
            case (None, _) => None
          }
        case _ => None
      }
    } catch { case _: Throwable => None }

  private def parseTimeString(s: String, now: Instant): Option[Instant] = {
    val t = s.trim
    def tryParse(f: => Instant): Option[Instant] =
      try Some(f) catch { case _: Throwable => None }
    tryParse(Instant.parse(t))
      .orElse(tryParse(LocalDateTime.parse(t).toInstant(ZoneOffset.UTC)))
      .orElse(tryParse(LocalDate.parse(t).atStartOfDay(ZoneOffset.UTC).toInstant))
      .orElse(tryParse(now.plus(Duration.parse(t))))
      .orElse(tryParse { // day-of-week name → next such day
        val dow = DayOfWeek.valueOf(t.stripPrefix(":").toUpperCase)
        consumeTime(dow, now).get
      })
  }

  /** `get-millis` (`time.clj:90-94`): millis from `now` until the coerced
    * instant; None when uncoercible. */
  def getMillis(value: Any, now: Instant = Instant.now()): Option[Long] =
    consumeTime(value, now).map(i => i.toEpochMilli - now.toEpochMilli)

  // ------------------------------------------------------ column-level (X1-X4)

  /** X4: next-or-SAME day-of-week at midnight (`consume-time`'s DayOfWeek
    * arm tests today BEFORE advancing, time.clj:70-73). Spark's `next_day`
    * is strictly-after, so anchor it one day back: `next_day(d-1, dow)` is
    * d itself when d already falls on `dow`. */
  def nextDayOfWeek(ts: Column, dow: String): Column =
    next_day(date_sub(ts.cast("date"), 1), dow).cast("timestamp")

  /** X2 column form: millis until `ts` from `current_timestamp()`. */
  def millisUntil(ts: Column): Column =
    unix_millis(ts) - unix_millis(current_timestamp())

  /** Registers the dynamic arms as SQL UDFs for expression-string use
    * (`consume_time(str)`, `edn_to_json(str)`). */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("consume_time", (s: String) =>
      consumeTime(s).map(i => new java.sql.Timestamp(i.toEpochMilli)).orNull)
    spark.udf.register("edn_to_json", (s: String) => Edn.toJson(s))
  }

  // ------------------------------------------------------- case conversion (X7)

  /** camel-snake-kebab surface: the reference imports it into every user
    * namespace for key renaming (`/root/reference/src/dataworks/collectors.clj:3-4`). */
  def toSnake(s: String): String =
    s.replaceAll("([a-z0-9])([A-Z])", "$1_$2").replace('-', '_').toLowerCase
  def toKebab(s: String): String =
    s.replaceAll("([a-z0-9])([A-Z])", "$1-$2").replace('_', '-').toLowerCase
  def toCamel(s: String): String = {
    val parts = s.split("[-_]").filter(_.nonEmpty)
    (parts.headOption.getOrElse("") +: parts.drop(1).map(_.capitalize)).mkString
  }

  /** Rename every column through a case converter (schema reshape). */
  def renameColumns(df: DataFrame, f: String => String): DataFrame =
    df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, f(c)))

  // ------------------------------------------------------- keyword utils (X8)

  // --------------------------------------------------- ns-key ops (F8)

  /** Map key-namespace operators (`select-ns-keys` / `ns-keys` / `set-ns` /
    * `exclude-ns-keys`, `/root/reference/src/dataworks/utils/common.clj:382-424`):
    * documents namespace their keys (`:transformer/name`); as columns the
    * namespace is a `<ns>_` prefix, and these become select/rename ops. */
  def selectNsKeys(df: DataFrame, ns: String): DataFrame = {
    val cols = df.columns.filter(_.startsWith(s"${ns}_"))
    df.select(cols.map(col).toSeq: _*)
  }

  def excludeNsKeys(df: DataFrame, ns: String): DataFrame =
    df.drop(df.columns.filter(_.startsWith(s"${ns}_")).toSeq: _*)

  /** `ns-keys`: move columns INTO a namespace (prefix them). */
  def nsKeys(df: DataFrame, ns: String, names: Seq[String]): DataFrame =
    names.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"${ns}_$c"))

  /** `set-ns`: re-namespace every column (strip any existing prefix).
    * Prefix-stripping is underscore-based, so two columns can map to the
    * same target (`user_id` and `order_id` both → `<ns>_id`) — that is a
    * hard error here rather than a silently ambiguous DataFrame. */
  def setNs(df: DataFrame, ns: String): DataFrame = {
    val renames = df.columns.toSeq.map(c => c -> s"${ns}_${c.split("_", 2).last}")
    val dups = renames.groupBy(_._2).filter(_._2.length > 1)
    require(dups.isEmpty,
      s"set-ns would merge distinct columns: " +
        dups.map { case (to, fs) => s"${fs.map(_._1).mkString("+")} -> $to" }
          .mkString(", ") + " — rename inputs first")
    renames.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
  }

  /** `stringify-keyword` (`common.clj:120-126`): ":ns/name" → "ns/name". */
  def stringifyKeyword(s: String): String = s.stripPrefix(":")

  /** Namespaced-id helpers mirroring `set-ns` conventions
    * (`common.clj:405-412`): ":<type>/<name>". */
  def namespacedId(tpe: String, name: String): String = s":$tpe/$name"
  def idNamespace(id: String): String = stringifyKeyword(id).split("/", 2)(0)
  def idName(id: String): String = {
    val p = stringifyKeyword(id).split("/", 2); if (p.length > 1) p(1) else p(0)
  }
}
