package graft.nats

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ScalaCheck round-trip/rejection properties over the codec's 6-type
  * domain (SURVEY §5.2.5). Run by sbt's native ScalaCheck framework
  * (scalatestplus bridge is not in the offline cache).
  */
object CsvCodecProps extends Properties("CsvCodec") {

  private def codec(dt: DataType): CsvCodec =
    CsvCodec(StructType(Seq(StructField("x", dt, nullable = false))))
      .getOrElse(sys.error("codec rejected"))

  private val intC = codec(IntegerType)
  private val dblC = codec(DoubleType)
  private val strC = codec(StringType)
  private val dateC = codec(DateType)
  private val tsC = codec(TimestampType)

  property("every i32 round-trips") = Prop.forAll { (i: Int) =>
    intC.parse(i.toString).map(_.toSeq) == Right(Seq[Any](i))
  }

  property("every finite double round-trips via toString") =
    Prop.forAll { (d: Double) =>
      (d.isNaN || d.isInfinite) ||
        dblC.parse(d.toString).map(_.toSeq) == Right(Seq[Any](d))
    }

  property("comma-free nonempty strings pass through unchanged") =
    Prop.forAll(Gen.alphaNumStr.suchThat(_.nonEmpty)) { s =>
      strC.parse(s).map(_.toSeq) == Right(Seq[Any](UTF8String.fromString(s)))
    }

  property("epoch days ±200y round-trip through ISO format") =
    Prop.forAll(Gen.choose(-73000, 73000)) { days =>
      val str = java.time.LocalDate.ofEpochDay(days.toLong).toString
      dateC.parse(str).map(_.toSeq) == Right(Seq[Any](days))
    }

  property("epoch seconds round-trip through timestamp format at µs precision") =
    Prop.forAll(Gen.choose(-2000000000L, 2000000000L)) { epochSec =>
      val str = java.time.LocalDateTime
        .ofEpochSecond(epochSec, 0, java.time.ZoneOffset.UTC)
        .format(CsvCodec.tsFormat)
      tsC.parse(str).map(_.toSeq) == Right(Seq[Any](epochSec * 1000000L))
    }

  property("ints with junk suffix are rejected") =
    Prop.forAll(Gen.alphaChar, Gen.choose(0, 1000)) { (c, i) =>
      intC.parse(s"$i$c").isLeft
    }

  property("arity violations are rejected for any extra fields") =
    Prop.forAll(Gen.choose(1, 5)) { extra =>
      intC.parse("1" + ",2" * extra).isLeft
    }

  property("encode/parse round-trip: ints") = Prop.forAll { (i: Int) =>
    intC.encode(Array[Any](i)).flatMap(intC.parse).map(_.toSeq) == Right(Seq[Any](i))
  }

  property("encode/parse round-trip: epoch days") =
    Prop.forAll(Gen.choose(-73000, 73000)) { days =>
      dateC.encode(Array[Any](days)).flatMap(dateC.parse).map(_.toSeq) == Right(Seq[Any](days))
    }

  property("encode/parse round-trip: whole-second timestamps") =
    Prop.forAll(Gen.choose(-2000000000L, 2000000000L)) { epochSec =>
      val micros = epochSec * 1000000L
      tsC.encode(Array[Any](micros)).flatMap(tsC.parse).map(_.toSeq) == Right(Seq[Any](micros))
    }

  property("strings with commas are not encodable (framing)") =
    Prop.forAll(Gen.alphaNumStr) { s =>
      strC.encode(Array[Any](UTF8String.fromString(s + "," + s))).isLeft
    }

  property("sub-second timestamps are never encodable (error-not-silent)") =
    Prop.forAll(Gen.choose(-2000000000L, 2000000000L), Gen.choose(1L, 999999L)) {
      (epochSec, subMicros) =>
        tsC.encode(Array[Any](epochSec * 1000000L + subMicros)).isLeft
    }

  // ---- fixed-position timestamp/date parse == the STRICT formatter ----

  property("timestamps: the parse returns exactly the STRICT formatter's value or error") =
    Prop.forAll(Gen.listOfN(50, WireTimeGen.timestamps)) { _.forall { s =>
      tsC.parse(s).map(_.toSeq) == WireTimeGen.formatterTimestamp(s).map(Seq[Any](_))
        .toRight(CodecError.TypeError(s"Failed to parse $s as Timestamp for field x. " +
          "Expected format: YYYY-MM-DD HH:MM:SS"))
    } }

  property("dates: the parse returns exactly the STRICT formatter's value or error") =
    Prop.forAll(Gen.listOfN(50, WireTimeGen.dates)) { _.forall { s =>
      dateC.parse(s).map(_.toSeq) == WireTimeGen.formatterDate(s).map(Seq[Any](_))
        .toRight(CodecError.TypeError(s"Failed to parse $s as Date for field x. " +
          "Expected format: YYYY-MM-DD"))
    } }
}

/** Wire timestamp/date strings for the codec equivalence properties, and
  * the formatter-only parse they must agree with. Canonical-shape strings
  * carry arbitrary digits with the calendar edges over-weighted (month 00
  * and 13, day 31 in 30-day months, Feb 29 in 1900/2000/2023/2024, hour
  * 24, second 60, year 0000); non-canonical ones cover signed and 5-digit
  * years, one-digit fields, surrounding spaces and single-character
  * mutations of canonical strings. None contains ',', '"' or '\\', so
  * they embed unchanged in a CSV field or a JSON string. */
object WireTimeGen {
  import java.time.{LocalDate, LocalDateTime, ZoneOffset}

  def formatterTimestamp(s: String): Option[Long] =
    try Some(LocalDateTime.parse(s, CsvCodec.tsFormat).toEpochSecond(ZoneOffset.UTC) * 1000000L)
    catch { case _: Exception => None }

  def formatterDate(s: String): Option[Int] =
    try Some(LocalDate.parse(s, CsvCodec.dateFormat).toEpochDay.toInt)
    catch { case _: Exception => None }

  private def field(edges: Seq[Int], max: Int): Gen[Int] =
    Gen.frequency(3 -> Gen.oneOf(edges), 2 -> Gen.choose(0, max))

  private val year = field(Seq(0, 1, 1900, 1970, 2000, 2023, 2024, 2100, 9999), 9999)
  private val month = field(Seq(0, 1, 2, 4, 6, 9, 11, 12, 13), 99)
  private val day = field(Seq(0, 1, 28, 29, 30, 31, 32), 99)
  private val hour = field(Seq(0, 23, 24, 25), 99)
  private val minSec = field(Seq(0, 59, 60, 61), 99)

  val canonicalDate: Gen[String] =
    for (y <- year; m <- month; d <- day) yield f"$y%04d-$m%02d-$d%02d"

  val canonicalTimestamp: Gen[String] =
    for (date <- canonicalDate; h <- hour; mi <- minSec; s <- minSec)
      yield f"$date $h%02d:$mi%02d:$s%02d"

  /** One character inserted, deleted or replaced. */
  private def mutate(s: String): Gen[String] =
    for {
      i <- Gen.choose(0, s.length - 1)
      c <- Gen.oneOf("0123456789-: +T".toSeq)
      op <- Gen.choose(0, 2)
    } yield op match {
      case 0 => s.substring(0, i) + c + s.substring(i)
      case 1 => s.substring(0, i) + s.substring(i + 1)
      case _ => s.substring(0, i) + c + s.substring(i + 1)
    }

  private def nonCanonical(canonical: Gen[String], fixed: Seq[String]): Gen[String] =
    Gen.oneOf(
      Gen.oneOf(fixed),
      canonical.map(" " + _),
      canonical.map(_ + " "),
      canonical.map("+" + _),
      canonical.map("-" + _),
      canonical.map("1" + _),
      canonical.flatMap(mutate))

  val timestamps: Gen[String] = Gen.frequency(
    3 -> canonicalTimestamp,
    2 -> nonCanonical(canonicalTimestamp, Seq(
      "+10000-01-01 00:00:00", "10000-01-01 00:00:00", "-0001-01-01 00:00:00",
      "+2024-01-01 00:00:00", "2024-1-01 00:00:00", "2024-01-1 00:00:00",
      "2024-01-01 0:00:00", "2024-01-01 00:0:00", "2024-01-01 00:00:0",
      "2024-01-01T00:00:00", "2024-01-01  00:00:00", "2024-01-01 00:00:00.0",
      "2024-01-01", " ")))

  val dates: Gen[String] = Gen.frequency(
    3 -> canonicalDate,
    2 -> nonCanonical(canonicalDate, Seq(
      "+10000-01-01", "10000-01-01", "-0001-01-01", "+2024-01-01", "2024-1-01",
      "2024-01-1", "24-01-01", "2024-01-01 00:00:00", "2024/01/01", " ")))
}
