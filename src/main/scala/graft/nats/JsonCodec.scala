package graft.nats

import java.io.StringWriter
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import com.fasterxml.jackson.core.exc.StreamReadException

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Strict JSON row codec: one NATS message payload
  * (`{"id":1,"name":"apple"}`) → one row of Catalyst-internal values.
  *
  * Same strictness model as the reference's CSV codec
  * (src/codec/csv.rs:93-198) — every defect is an error, never a null:
  *   - the payload must be exactly one flat JSON object, nothing after it;
  *   - the key set must equal the schema's field set: a missing field is an
  *     arity error, an unknown key is rejected, a duplicate key is rejected
  *     (Jackson happily keeps the last one; we don't);
  *   - values are strictly typed: Int32 takes only an in-range JSON integer
  *     (no "42" strings, no 4.0), Float64 any JSON number, Boolean only JSON
  *     true/false (NOT 1/0 — JSON has real booleans, so the CSV codec's
  *     4-token text rule does not carry over), nulls are always rejected,
  *     nested objects/arrays are always rejected;
  *   - Timestamp/Date are JSON strings in the same wire formats as CSV
  *     ("yyyy-MM-dd HH:mm:ss" UTC / "yyyy-MM-dd", reference
  *     src/codec/csv.rs:161-186) so a producer can switch codecs without
  *     reformatting values;
  *   - one deliberate divergence from CSV: the empty string is a valid JSON
  *     string value. CSV rejects "" because an empty token is
  *     indistinguishable from a missing value (csv.rs:116-121); JSON framing
  *     has no such ambiguity.
  *
  * encode is the inverse (schema field order, escaped strings); encode then
  * parse is the identity, which the sink round-trip relies on.
  */
final class JsonCodec private (val schema: StructType) extends PayloadCodec {
  import CodecError._

  private val fields = schema.fields
  private val indexOf: Map[String, Int] =
    fields.iterator.zipWithIndex.map { case (f, i) => f.name -> i }.toMap

  def parse(payload: String): Either[CodecError, Array[Any]] = {
    val parser = JsonCodec.factory.createParser(payload)
    try {
      if (parser.nextToken() != JsonToken.START_OBJECT)
        return Left(SchemaMismatch("Payload must be a single JSON object"))
      val out = new Array[Any](fields.length)
      val seen = new Array[Boolean](fields.length)
      var found = 0
      var tok = parser.nextToken()
      while (tok == JsonToken.FIELD_NAME) {
        val key = parser.currentName()
        val i = indexOf.getOrElse(key,
          return Left(SchemaMismatch(s"Unknown field in payload: $key")))
        if (seen(i)) return Left(DuplicateField(key))
        seen(i) = true
        found += 1
        parseValue(parser, parser.nextToken(), fields(i)) match {
          case Right(v) => out(i) = v
          case Left(e)  => return Left(e)
        }
        tok = parser.nextToken()
      }
      if (tok != JsonToken.END_OBJECT)
        return Left(SchemaMismatch("Payload must be a single flat JSON object"))
      if (parser.nextToken() != null)
        return Left(SchemaMismatch("Trailing content after JSON object"))
      if (found != fields.length) {
        val missing = fields.iterator.zipWithIndex
          .collect { case (f, i) if !seen(i) => f.name }.mkString(", ")
        return Left(SchemaMismatch(
          s"Payload has $found fields but schema expects ${fields.length} (missing: $missing)"))
      }
      Right(out)
    } catch {
      // StreamReadException covers the whole family of per-payload read
      // defects, not just syntax errors: JsonParseException AND
      // InputCoercionException (e.g. a JSON integer beyond Long range hit
      // by getLongValue). Anything narrower would let one crafted message
      // escape as a task failure and kill the stream, breaking the
      // skip-malformed-keep-streaming policy (A10).
      case e: StreamReadException =>
        Left(SchemaMismatch(s"Malformed JSON payload: ${e.getOriginalMessage}"))
    } finally parser.close()
  }

  private def parseValue(
      parser: com.fasterxml.jackson.core.JsonParser,
      tok: JsonToken,
      field: StructField): Either[CodecError, Any] =
    (field.dataType, tok) match {
      case (IntegerType, JsonToken.VALUE_NUMBER_INT) =>
        val v = parser.getLongValue
        if (v < Int.MinValue || v > Int.MaxValue)
          Left(TypeError(s"Value $v out of Int32 range for field ${field.name}"))
        else Right(v.toInt)
      case (DoubleType, JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT) =>
        Right(parser.getDoubleValue)
      case (BooleanType, JsonToken.VALUE_TRUE)  => Right(true)
      case (BooleanType, JsonToken.VALUE_FALSE) => Right(false)
      case (StringType, JsonToken.VALUE_STRING) =>
        Right(UTF8String.fromString(parser.getText))
      case (TimestampType, JsonToken.VALUE_STRING) =>
        val text = parser.getText
        CsvCodec.parseTimestamp(text).toRight(TypeError(
          s"Failed to parse $text as Timestamp for field ${field.name}. " +
            "Expected format: YYYY-MM-DD HH:MM:SS"))
      case (DateType, JsonToken.VALUE_STRING) =>
        val text = parser.getText
        CsvCodec.parseDate(text).toRight(TypeError(
          s"Failed to parse $text as Date for field ${field.name}. " +
            "Expected format: YYYY-MM-DD"))
      case (_, JsonToken.VALUE_NULL) =>
        Left(InvalidValue(field.name, "null"))
      case (_, JsonToken.START_OBJECT | JsonToken.START_ARRAY) =>
        Left(TypeError(s"Nested JSON is not supported (field ${field.name})"))
      case (dt, t) =>
        Left(TypeError(s"JSON token $t is not a valid ${dt.sql} for field ${field.name}"))
    }

  def encode(values: Array[Any]): Either[CodecError, String] = {
    require(values.length == fields.length,
      s"row has ${values.length} values but schema expects ${fields.length}")
    val sw = new StringWriter()
    val gen = JsonCodec.factory.createGenerator(sw)
    try {
      gen.writeStartObject()
      var i = 0
      while (i < fields.length) {
        val f = fields(i)
        f.dataType match {
          case IntegerType => gen.writeNumberField(f.name, values(i).asInstanceOf[Int])
          case DoubleType  => gen.writeNumberField(f.name, values(i).asInstanceOf[Double])
          case BooleanType => gen.writeBooleanField(f.name, values(i).asInstanceOf[Boolean])
          case StringType  => gen.writeStringField(f.name, values(i).toString)
          case TimestampType =>
            // Same 1 s wire granularity as CSV: a sub-second value would
            // not round-trip — error, never a silent truncation.
            val micros = values(i).asInstanceOf[Long]
            if (micros % 1000000L != 0L)
              return Left(InvalidValue(f.name, s"sub-second timestamp ($micros µs)"))
            gen.writeStringField(f.name,
              LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L), 0, ZoneOffset.UTC)
                .format(CsvCodec.tsFormat))
          case DateType =>
            gen.writeStringField(f.name,
              LocalDate.ofEpochDay(values(i).asInstanceOf[Int].toLong).format(CsvCodec.dateFormat))
          case other => return Left(TypeError(s"Unsupported data type: $other"))
        }
        i += 1
      }
      gen.writeEndObject()
      gen.flush()
      Right(sw.toString)
    } finally gen.close()
  }
}

object JsonCodec {
  private val factory = new JsonFactory()

  def apply(schema: StructType): Either[CodecError, JsonCodec] =
    PayloadCodec.validateSchema(schema).toLeft(new JsonCodec(schema))

  def strict(schema: StructType): JsonCodec =
    apply(schema).fold(e => throw new IllegalArgumentException(e.message), identity)
}
