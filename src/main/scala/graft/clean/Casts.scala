package graft.clean

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's casting / type-re-inference surface re-expressed as
  * codegen'd Spark column expressions (no UDFs).
  *
  * Reference: `phenoxtract/src/transform/data_processing/casting.rs` and
  * `phenoxtract/src/constants.rs:3-22` for the format lists; bare-year
  * parsing rule from `data_processing/parsing.rs:36-44`.
  *
  * Everything here is row-parallel and shuffle-free; the only actions are
  * the column-level inference guards (one cheap agg per column), mirroring
  * the reference's "whole column must cast or we fail/skip" semantics.
  */
object Casts {

  /** `String.trim` as a column expression: strips every char <= U+0020.
    * Spark's `trim` strips only the space character, so a tab/CR-padded
    * cell (routine in TSV-derived data) would keep its padding and miss
    * keys the driver built with Java's trim (alias maps, synonym maps,
    * ontology dictionaries) or block the date-format cascade.
    */
  def javaTrim(c: Column): Column =
    regexp_replace(c, "^[\\x00-\\x20]+|[\\x00-\\x20]+$", "")

  /** P1: trim every string; whitespace-only / empty becomes null. */
  def trimEmptyToNull(c: Column): Column = {
    val t = javaTrim(c)
    when(t === lit(""), lit(null).cast(StringType)).otherwise(t)
  }

  /** Date formats tried in order (reference `constants.rs:3-20`,
    * chrono `%Y-%m-%d` etc. → JDK patterns). Zero-padded variants first.
    */
  val dateFormats: Seq[String] =
    Seq("yyyy-MM-dd", "yyyy.MM.dd", "MM/dd/yyyy", "dd-MM-yyyy", "dd.MM.yyyy",
        "yyyy-M-d", "yyyy.M.d", "M/d/yyyy", "d-M-yyyy", "d.M.yyyy")

  val datetimeFormats: Seq[String] =
    Seq("yyyy-MM-dd'T'HH:mm:ss.SSSSSS", "yyyy-MM-dd'T'HH:mm:ss.SSS",
        "yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd HH:mm:ss.SSSSSS",
        "yyyy-MM-dd HH:mm:ss.SSS", "yyyy-MM-dd HH:mm:ss",
        "yyyy-MM-dd'T'HH:mm:ssXXX")

  /** P7: multi-format date parse incl. the bare-year rule
    * ("1989" → 1989-01-01). Null-safe: unparseable → null.
    */
  def toDateMulti(c: Column): Column = {
    val viaFormats = coalesce(dateFormats.map(f => try_to_timestamp(c, lit(f)).cast(DateType)): _*)
    // Every format carries a -/./ separator; strings without one can
    // only fail, and each failed try_to_timestamp walks an
    // exception-throwing DateTimeFormatter — 10× per row. The regex
    // guard makes the non-date fast path (e.g. a numeric column under
    // ambivalent election) pure codegen'd regex, no parse attempts.
    when(c.rlike("^\\d{4}$"), to_date(concat(c, lit("-01-01"))))
      .otherwise(when(c.rlike("[-./]"), viaFormats))
  }

  /** P7: multi-format datetime parse; RFC-822/1123 (reference
    * `constants.rs:18`, `%a, %d %b %Y %H:%M:%S GMT`) rides a native
    * expression because Spark ≥3 rejects week-day letters in its own
    * patterns; then falls back to date-only formats (midnight) like the
    * reference cascade.
    */
  def toTimestampMulti(c: Column): Column =
    coalesce(
      // ISO-ish formats all contain ':'; RFC-1123 always contains the
      // alphabetic month name. Same guard rationale as toDateMulti.
      when(c.rlike(":"), coalesce(datetimeFormats.map(f => try_to_timestamp(c, lit(f))): _*)),
      when(c.rlike("[A-Za-z]"), graft.functions.GraftExtensions.rfc1123_timestamp(c)),
      toDateMulti(c).cast(TimestampType))

  /** P5: strict case-insensitive boolean parse — only "true"/"false"
    * (any case) are accepted; anything else non-null yields null here
    * (the strategy layer turns residual nulls into accumulated errors).
    */
  def toBoolStrict(c: Column): Column =
    when(lower(c) === "true", lit(true))
      .when(lower(c) === "false", lit(false))
      .otherwise(lit(null).cast(BooleanType))

  /** P6: int parse — exact integer strings first, then the reference's
    * float-integrality route ("1.0" → 1L, "1.5" → null). The float
    * fallback is gated to ±2^53 where doubles are exact; beyond that a
    * via-double long would be silently wrong (caught by PropertySpec).
    */
  def toLongViaDouble(c: Column): Column = {
    val direct = c.cast(StringType).try_cast(LongType)
    val d = c.cast(StringType).try_cast(DoubleType)
    val maxExact = 9007199254740992.0 // 2^53
    // STRICT <: a parsed double equal to 2^53 is ambiguous — the
    // source string may have been 2^53+1 (unrepresentable, rounds down
    // to exactly 2^53), so accepting the boundary yields a silently
    // off-by-one long. Only the open interval is provably exact.
    coalesce(
      direct,
      when(d.isNotNull && d === floor(d) && abs(d) < maxExact,
        d.cast(LongType)))
  }

  private def candidateCasts(c: Column): Seq[(DataType, Column)] = Seq(
    BooleanType   -> toBoolStrict(c),
    LongType      -> toLongViaDouble(c),
    DoubleType    -> c.try_cast(DoubleType),
    DateType      -> toDateMulti(c),
    TimestampType -> toTimestampMulti(c))

  /** P3: ambivalent cast — re-infer a string column through the cascade
    * bool → long → double → date → timestamp; first lossless cast wins,
    * else the column stays string. Returns the winning type and the
    * casted column expression (reference `casting.rs:11-46`).
    */
  def ambivalent(df: DataFrame, name: String): (DataType, Column) =
    ambivalentBatch(df, Seq(name))(name)

  /** Batched type election for MANY columns in ONE aggregate pass:
    * 6 counters per column (base + 5 candidates) in a single job,
    * instead of up to 5 full-column agg jobs per column.
    */
  def ambivalentBatch(df: DataFrame, names: Seq[String]): Map[String, (DataType, Column)] = {
    if (names.isEmpty) return Map.empty
    val perCol: Seq[(String, Seq[(DataType, Column)])] =
      names.map(n => n -> candidateCasts(col(n)))
    val aggs: Seq[Column] = perCol.flatMap { case (n, cands) =>
      count(col(n)) +: cands.map { case (_, casted) => count(casted) }
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    perCol.zipWithIndex.map { case ((n, cands), i) =>
      val base = i * (cands.size + 1)
      val before = row.getLong(base)
      val winner = cands.zipWithIndex.collectFirst {
        case ((t, casted), j) if before > 0 && row.getLong(base + 1 + j) == before =>
          (t, casted)
      }
      n -> winner.getOrElse((StringType: DataType, col(n)))
    }.toMap
  }

  /** ONE owner of the whole-number-and-in-long-range violation
    * predicate (shared with `Preprocessor.ensureInts` — the boundary
    * rule must not fork). The upper bound is `>=`: Long.MaxValue
    * rounds UP to 2^63 as a double, which is NOT a representable long,
    * so a `>` guard would admit exactly 2^63 and the cast would
    * silently clamp it to Long.MaxValue.
    */
  def wholeNumberViolation(c: Column): Column =
    c =!= floor(c) || c >= 9.223372036854776E18 /* 2^63 */ ||
      c < Long.MinValue.toDouble

  /** P2: is the whole double column integral and in long range?
    * (reference `casting.rs:206-219`) */
  def allWholeNumbers(df: DataFrame, name: String): Boolean = {
    val row = df.agg(
      count(when(wholeNumberViolation(col(name)), 1)).as("bad")).head()
    row.getLong(0) == 0L
  }
}
