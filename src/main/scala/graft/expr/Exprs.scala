package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's scalar layer (SURVEY.md §2.7, F1-F15) re-expressed as
  * pure `Column => Column` combinators. No UDFs anywhere: every function
  * composes Catalyst built-ins, so the whole layer stays inside
  * whole-stage codegen and is distributable as-is — the opposite of the
  * reference's per-cell Python `.apply` loops (user_transformer.py:410).
  */
object Exprs {

  /** Null-token set the reference collapses to NULL, case-insensitive
    * (user_transformer.py:225-233). */
  val NullTokens: Seq[String] = Seq("nan", "null", "none", "", "nat")

  /** F7 — `_clean_string_field` (user_transformer.py:204-234): cast to
    * string, trim, null-token normalize. Order matters: trim before the
    * token test, as in the reference. */
  def cleanString(c: Column): Column = {
    val t = trim(c.cast(StringType))
    when(lower(t).isin(NullTokens: _*), lit(null).cast(StringType)).otherwise(t)
  }

  /** F7 array branch — arrays take the first non-null element
    * (user_transformer.py:208-214). The size guard matters under ANSI
    * mode (the Spark 4 default): element_at on an empty array THROWS
    * there, so an all-null / empty array must short-circuit to NULL. */
  def firstNonNull(arr: Column): Column = {
    val nonNull = filter(arr, x => x.isNotNull)
    when(size(nonNull) > 0, element_at(nonNull, 1))
  }

  /** F2 — `_clean_nan_values` array branch (user_transformer.py:63-81):
    * drop null elements; an all-null / empty result collapses to NULL
    * (never an empty array — SURVEY.md §7.4.7). */
  def cleanArray(arr: Column): Column = {
    val kept = filter(arr, x => x.isNotNull)
    when(arr.isNull || size(kept) === 0, lit(null).cast(ArrayType(StringType)))
      .otherwise(kept)
  }

  /** F3 numeric branch — unix epoch with the reference's 1e10
    * seconds-vs-milliseconds heuristic; non-positive numbers parse to
    * NULL (user_transformer.py:138-146). */
  def parseEpoch(n: Column): Column =
    when(n > 1e10, timestamp_millis(n.cast(LongType)))
      .when(n > 0, timestamp_seconds(n.cast(LongType)))

  /** F3 Firebase `Timestamp` branch — objects carrying a `seconds`
    * field (user_transformer.py:130-135), arriving from an RTDB JSON
    * export as `{"seconds": N, "nanoseconds": M}`. The reference does
    * `datetime.fromtimestamp(value.seconds)` — seconds always, no
    * s-vs-ms heuristic, nanos ignored. Integer-regex-guarded so a
    * malformed payload yields NULL instead of an ANSI cast error. */
  def parseTimestampSeconds(s: Column): Column = {
    val secs = get_json_object(s, "$.seconds")
    timestamp_seconds(when(secs.rlike("^-?[0-9]+$"), secs).cast(LongType))
  }

  /** F3 — `_parse_datetime` (user_transformer.py:83-148): null tokens →
    * NULL, then the 5-layout strptime ladder in reference order, then
    * the Firebase `Timestamp.seconds` object branch, then the epoch
    * heuristic. Composes to `coalesce` over `try_to_timestamp` — fully
    * codegen'd, no custom Expression needed (SURVEY.md §4.2). The
    * numeric branch is regex-guarded: ANSI mode (Spark 4 default)
    * makes a bare string→double cast throw on garbage, and `when` is
    * lazy per row, so non-numeric strings never reach the cast. */
  def parseFlexibleTimestamp(c: Column): Column = {
    val s = cleanString(c)
    val num = when(s.rlike("^-?[0-9]+(\\.[0-9]+)?$"), s).cast(DoubleType)
    coalesce(
      try_to_timestamp(s, lit("yyyy-MM-dd HH:mm:ss")),
      try_to_timestamp(s, lit("yyyy-MM-dd'T'HH:mm:ss")),
      try_to_timestamp(s, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")),
      try_to_timestamp(s, lit("yyyy-MM-dd'T'HH:mm:ss'Z'")),
      try_to_timestamp(s, lit("yyyy-MM-dd")),
      parseTimestampSeconds(s),
      parseEpoch(num))
  }

  /** F5 — `_parse_interests` (user_transformer.py:150-177): string input
    * comma-split, trimmed, empties dropped; empty result → NULL. */
  def parseInterests(c: Column): Column = {
    val s = cleanString(c)
    val arr = filter(transform(split(s, ","), x => trim(x)), x => x =!= "")
    when(s.isNull || size(arr) === 0, lit(null).cast(ArrayType(StringType)))
      .otherwise(arr)
  }

  /** F6 — `_normalize_status` (user_transformer.py:179-202): upper+trim,
    * 9-entry mapping incl. French variants, default ACTIVE (incl. null). */
  val StatusMap: Map[String, String] = Map(
    "ACTIVE" -> "ACTIVE", "ACTIF" -> "ACTIVE", "ENABLED" -> "ACTIVE",
    "INACTIVE" -> "INACTIVE", "INACTIF" -> "INACTIVE", "DISABLED" -> "INACTIVE",
    "BANNED" -> "BANNED", "BANNI" -> "BANNED", "BLOCKED" -> "BANNED")

  def normalizeStatus(c: Column): Column =
    coalesce(element_at(typedLit(StatusMap), upper(trim(c.cast(StringType)))),
      lit("ACTIVE"))

  /** F10 — boolean coercion with false default (postgres_loader.py:226-229).
    * String inputs map through an explicit token table instead of a raw
    * cast (which throws on garbage under ANSI mode). */
  def cleanBool(c: Column): Column = {
    val s = lower(trim(c.cast(StringType)))
    coalesce(
      when(s.isin("true", "t", "yes", "1", "1.0"), lit(true))
        .when(s.isin("false", "f", "no", "0", "0.0"), lit(false)),
      lit(false))
  }

  /** F11 — default fill (postgres_loader.py:237-239). */
  def withDefault(c: Column, d: Column): Column = coalesce(c, d)

  /** P7 — placeholder email synthesis (user_transformer.py:350-352). */
  def placeholderEmail(email: Column, provider: Column, uid: Column): Column =
    when(email.isNull && provider === "google.com",
      concat(lit("google_user_"), coalesce(uid, lit("unknown")), lit("@placeholder.com")))
      .otherwise(email)

  /** P9 — display masking (firebase_service.py:206-208). */
  def maskEmail(c: Column): Column = concat(substring(c, 1, 3), lit("***"))

  /** F12 — uuid-20 (main.py:9-16). Non-deterministic, like the
    * reference's uuid4; collision probability at 80 bits makes the
    * reference's retry loop unnecessary. */
  def uuid20: Column = substring(expr("uuid()"), 1, 20)

  /** F12 deterministic surrogate for oracle-compared pipelines
    * (SURVEY.md §7.4.3): 20 hex chars of md5 of a natural key. */
  def deterministicKey20(c: Column): Column = substring(md5(c.cast(StringType)), 1, 20)

  /** F9 — Postgres array literal with quote escaping
    * (postgres_loader.py:334-354); empty/null → NULL. */
  def pgArrayLiteral(arr: Column): Column =
    when(arr.isNull || size(arr) === 0, lit(null).cast(StringType))
      .otherwise(concat(lit("{"),
        array_join(transform(arr,
          x => concat(lit("'"), regexp_replace(x, "'", "''"), lit("'"))), ","),
        lit("}")))

  /** F14 — datetime → ISO string (datastore_service.py:153-155). */
  def isoFormat(c: Column): Column = date_format(c, "yyyy-MM-dd'T'HH:mm:ss")

  /** F15 — guarded percent math (user_transformer.py:468-469). */
  def percent(num: Column, den: Column): Column =
    when(den === 0, lit(0.0)).otherwise(num * lit(100.0) / den)

  /** Determinism helper for float aggregates: summing doubles is
    * order-dependent, so queries sum exactly and return double.
    * Callers pick a scale at which inputs are exact (2-decimal money →
    * scale 2; products of two such columns → 4), making the sum
    * associative — the same result on 4 local threads or 1000
    * executors.
    *
    * Implementation detail that matters for engine parity: the sum is
    * split into an integer-part sum and a scaled-fraction sum, each an
    * exact DECIMAL(38,0) that stays below 2^53 at harness scales, so
    * the int→double conversion is exact in EVERY engine — DuckDB's
    * int128→double conversion is not correctly rounded while Java's
    * BigDecimal path is, so a single scaled sum above 2^53 diverges by
    * 1 ulp between them. The recombination `hi + lo/10^scale` is then
    * plain IEEE arithmetic, bit-identical everywhere. */
  def dsum(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale)
    val hi = sum(floor(c).cast(DecimalType(38, 0))).cast(DoubleType)
    val lo = sum(round((c - floor(c)) * f).cast(DecimalType(38, 0))).cast(DoubleType)
    hi + lo / f
  }

  /** [[dsum]] over a window frame — the same exact-decimal split so a
    * rolling float sum is frame-content-deterministic (a plain double
    * window sum would depend on the frame's evaluation order). */
  def dsumOver(c: Column, scale: Int,
               w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val f = math.pow(10, scale)
    val hi = sum(floor(c).cast(DecimalType(38, 0))).over(w).cast(DoubleType)
    val lo = sum(round((c - floor(c)) * f).cast(DecimalType(38, 0))).over(w).cast(DoubleType)
    hi + lo / f
  }
}
