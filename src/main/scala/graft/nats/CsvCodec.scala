package graft.nats

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.{DateTimeFormatter, ResolverStyle}

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codec failure taxonomy, mirroring the reference's error enum
  * (reference src/codec/csv.rs:10-39). Every failure is an error, never a
  * null — the reference's strictness model (src/codec/csv.rs:116-121).
  */
sealed trait CodecError { def message: String }
object CodecError {
  final case class SchemaMismatch(message: String) extends CodecError
  final case class DuplicateField(field: String) extends CodecError {
    def message = s"Duplicate field found: $field"
  }
  final case class TypeError(message: String) extends CodecError
  final case class InvalidValue(field: String, value: String) extends CodecError {
    def message = s"Invalid value for field $field: $value"
  }
}

/** Strict CSV row codec: one NATS message payload ("1,apple") → one row of
  * Catalyst-internal values matched to a fixed, validated schema.
  *
  * Semantics follow the reference codec (src/codec/csv.rs:48-198):
  *   - schema validated at construction: non-empty, unique non-empty field
  *     names, and only the six whitelisted types (csv.rs:75-85);
  *   - split on ',' with strict arity vs the schema (csv.rs:102-108);
  *   - empty values are errors, not nulls (csv.rs:116-121);
  *   - booleans accept exactly the 4 tokens true/false/1/0, case-insensitive
  *     (csv.rs:144-154) — deliberately NOT Spark's forgiving cast
  *     (which also takes t/f/y/n/yes/no);
  *   - timestamps parse "yyyy-MM-dd HH:mm:ss" as UTC (csv.rs:161-173); the
  *     reference stores nanoseconds, Spark's TimestampType is microseconds —
  *     lossless here because the format has 1 s granularity (SURVEY §7.4.6);
  *   - dates parse "yyyy-MM-dd" to days since 1970-01-01. The reference
  *     stores days-since-CE (csv.rs:177, `num_days_from_ce`) which is a
  *     known bug against the Arrow Date32 spec; we deliberately use the
  *     correct epoch (SURVEY §2.C1 decision).
  *
  * Pure and driver/executor-agnostic: no Spark session, no I/O. Returned
  * values are Catalyst-internal (Int, Double, Boolean, UTF8String, Long µs,
  * Int epoch-days) so a DSv2 PartitionReader can wrap them in an
  * InternalRow without further conversion.
  */
final class CsvCodec private (val schema: StructType) extends PayloadCodec {
  import CodecError._

  private val fields = schema.fields

  /** Parse one payload into Catalyst-internal values (length = schema arity). */
  def parse(payload: String): Either[CodecError, Array[Any]] = {
    // -1 keeps trailing empty fields so "1," is arity 2 (then rejected as
    // an empty value, not mis-reported as an arity error).
    val parts = payload.split(",", -1)
    if (parts.length != fields.length)
      return Left(SchemaMismatch(
        s"Payload has ${parts.length} fields but schema expects ${fields.length}"))

    val out = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      val value = parts(i)
      val field = fields(i)
      if (value.isEmpty) return Left(InvalidValue(field.name, value))
      parseValue(value, field) match {
        case Right(v) => out(i) = v
        case Left(e)  => return Left(e)
      }
      i += 1
    }
    Right(out)
  }

  /** Inverse of [[parse]]: one row of Catalyst-internal values → a payload
    * the codec round-trips (encode then parse = identity). Used by the
    * NATS sink; a value containing ',' would break framing and is
    * rejected (the strict codec cannot represent it either).
    */
  def encode(values: Array[Any]): Either[CodecError, String] = {
    require(values.length == fields.length,
      s"row has ${values.length} values but schema expects ${fields.length}")
    val parts = new Array[String](fields.length)
    var i = 0
    while (i < fields.length) {
      val s = fields(i).dataType match {
        case IntegerType | DoubleType | BooleanType => values(i).toString
        case StringType => values(i).toString
        case TimestampType =>
          // The wire format has 1 s granularity; truncating sub-second
          // values would silently break the encode-then-parse identity
          // (and shift pre-1970 values forward) — error, never silent.
          val micros = values(i).asInstanceOf[Long]
          if (micros % 1000000L != 0L)
            return Left(InvalidValue(fields(i).name, s"sub-second timestamp ($micros µs)"))
          java.time.LocalDateTime
            .ofEpochSecond(Math.floorDiv(micros, 1000000L), 0, ZoneOffset.UTC)
            .format(CsvCodec.tsFormat)
        case DateType =>
          LocalDate.ofEpochDay(values(i).asInstanceOf[Int].toLong)
            .format(CsvCodec.dateFormat)
        case other => return Left(TypeError(s"Unsupported data type: $other"))
      }
      if (s.isEmpty || s.contains(','))
        return Left(InvalidValue(fields(i).name, s))
      parts(i) = s
      i += 1
    }
    Right(parts.mkString(","))
  }

  private def parseValue(value: String, field: StructField): Either[CodecError, Any] =
    field.dataType match {
      case IntegerType =>
        // Rust's i32::parse: optional sign, digits only, no whitespace —
        // Integer.parseInt has identical accept/reject behavior.
        try Right(java.lang.Integer.parseInt(value))
        catch { case _: NumberFormatException =>
          Left(TypeError(s"Failed to parse $value as Int32 for field ${field.name}")) }
      case DoubleType =>
        // Java's parseDouble is laxer than Rust's f64::parse (accepts
        // whitespace and d/f suffixes); reject those forms to keep the
        // reference's strictness.
        if (value != value.trim || value.exists(c => c == 'd' || c == 'D' || c == 'f' || c == 'F'))
          Left(TypeError(s"Failed to parse $value as Float64 for field ${field.name}"))
        else
          try Right(java.lang.Double.parseDouble(value))
          catch { case _: NumberFormatException =>
            Left(TypeError(s"Failed to parse $value as Float64 for field ${field.name}")) }
      case BooleanType =>
        value.toLowerCase match {
          case "true" | "1"  => Right(true)
          case "false" | "0" => Right(false)
          case _ => Left(TypeError(
            s"Failed to parse $value as Boolean for field ${field.name}. " +
              "Expected 'true', 'false', '1', or '0'"))
        }
      case StringType => Right(UTF8String.fromString(value))
      case TimestampType =>
        CsvCodec.parseTimestamp(value).toRight(TypeError(
          s"Failed to parse $value as Timestamp for field ${field.name}. " +
            "Expected format: YYYY-MM-DD HH:MM:SS"))
      case DateType =>
        CsvCodec.parseDate(value).toRight(TypeError(
          s"Failed to parse $value as Date for field ${field.name}. " +
            "Expected format: YYYY-MM-DD"))
      case other =>
        // Unreachable for codecs built via CsvCodec.apply (whitelist below);
        // kept as defense-in-depth like the reference (csv.rs:187-193).
        Left(TypeError(s"Unsupported data type: $other for field ${field.name}"))
    }
}

object CsvCodec {
  private[nats] val tsFormat =
    DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss").withResolverStyle(ResolverStyle.STRICT)
  private[nats] val dateFormat =
    DateTimeFormatter.ofPattern("uuuu-MM-dd").withResolverStyle(ResolverStyle.STRICT)

  /** A wire timestamp ("yyyy-MM-dd HH:mm:ss", UTC) as epoch microseconds;
    * None when [[tsFormat]] rejects it. The canonical 19-character form is
    * read from its fixed digit positions with the formatter's STRICT
    * checks (month 1–12, day within the month of that year, hour 0–23,
    * minute and second 0–59); every other string — out-of-range fields,
    * signed or 5+-digit years, stray characters — goes to the formatter
    * itself, so accepted inputs and values are exactly the formatter's. */
  private[nats] def parseTimestamp(value: String): Option[Long] =
    if (value.length == 19 && value.charAt(10) == ' ' &&
        value.charAt(13) == ':' && value.charAt(16) == ':') {
      val day = epochDay(value)
      val h = twoDigits(value, 11)
      val m = twoDigits(value, 14)
      val sec = twoDigits(value, 17)
      if (day != NotCanonical && h >= 0 && h <= 23 && m >= 0 && m <= 59 && sec >= 0 && sec <= 59)
        Some((day * 86400L + h * 3600L + m * 60L + sec) * 1000000L)
      else formatterTimestamp(value)
    } else formatterTimestamp(value)

  /** A wire date ("yyyy-MM-dd") as days since 1970-01-01; None when
    * [[dateFormat]] rejects it. Same fast path and fallback as
    * [[parseTimestamp]]. */
  private[nats] def parseDate(value: String): Option[Int] =
    if (value.length == 10) {
      val day = epochDay(value)
      if (day != NotCanonical) Some(day.toInt) else formatterDate(value)
    } else formatterDate(value)

  private def formatterTimestamp(value: String): Option[Long] =
    try Some(LocalDateTime.parse(value, tsFormat).toEpochSecond(ZoneOffset.UTC) * 1000000L)
    catch { case _: Exception => None }

  private def formatterDate(value: String): Option[Int] =
    try Some(LocalDate.parse(value, dateFormat).toEpochDay.toInt)
    catch { case _: Exception => None }

  private val NotCanonical = Long.MinValue

  /** The two ASCII digits at `i`, or -1. */
  private def twoDigits(s: String, i: Int): Int = {
    val a = s.charAt(i) - '0'
    val b = s.charAt(i + 1) - '0'
    if (a < 0 || a > 9 || b < 0 || b > 9) -1 else a * 10 + b
  }

  /** Epoch day of a valid "yyyy-MM-dd" prefix, or NotCanonical. */
  private def epochDay(s: String): Long = {
    if (s.charAt(4) != '-' || s.charAt(7) != '-') return NotCanonical
    val hi = twoDigits(s, 0)
    val lo = twoDigits(s, 2)
    val month = twoDigits(s, 5)
    val day = twoDigits(s, 8)
    if (hi < 0 || lo < 0 || month < 1 || month > 12 || day < 1) return NotCanonical
    val year = hi * 100 + lo
    if (day > java.time.Month.of(month).length(java.time.Year.isLeap(year.toLong)))
      return NotCanonical
    LocalDate.of(year, month, day).toEpochDay
  }

  /** Validate the schema and build a codec (reference src/codec/csv.rs:48-91);
    * the rules are shared across codecs in [[PayloadCodec.validateSchema]]. */
  def apply(schema: StructType): Either[CodecError, CsvCodec] =
    PayloadCodec.validateSchema(schema).toLeft(new CsvCodec(schema))

  /** Throwing variant for call sites that can only signal AnalysisException-
    * style failures (DSv2 getTable). */
  def strict(schema: StructType): CsvCodec =
    apply(schema).fold(e => throw new IllegalArgumentException(e.message), identity)
}
