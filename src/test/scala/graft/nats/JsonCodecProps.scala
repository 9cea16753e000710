package graft.nats

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ScalaCheck properties for the JSON codec — the same round-trip and
  * rejection guarantees [[CsvCodecProps]] pins for CSV, over JSON's wider
  * value domain (arbitrary strings incl. quotes/backslashes/control
  * chars/unicode; the empty string, which JSON framing permits and CSV
  * cannot). encode∘parse must be the identity: the NATS sink round-trip
  * (q91) relies on it.
  */
object JsonCodecProps extends Properties("JsonCodec") {

  private def codec(dt: DataType): JsonCodec =
    JsonCodec(StructType(Seq(StructField("x", dt, nullable = false))))
      .getOrElse(sys.error("codec rejected"))

  private val intC = codec(IntegerType)
  private val dblC = codec(DoubleType)
  private val boolC = codec(BooleanType)
  private val strC = codec(StringType)
  private val dateC = codec(DateType)
  private val tsC = codec(TimestampType)

  property("every i32 round-trips") = Prop.forAll { (i: Int) =>
    intC.parse(s"""{"x":$i}""").map(_.toSeq) == Right(Seq[Any](i))
  }

  property("every finite double round-trips via toString") =
    Prop.forAll { (d: Double) =>
      (d.isNaN || d.isInfinite) ||
        dblC.parse(s"""{"x":${d.toString}}""").map(_.toSeq) == Right(Seq[Any](d))
    }

  property("both booleans parse; 0/1 are rejected (JSON has real booleans)") =
    Prop.all(
      boolC.parse("""{"x":true}""").map(_.toSeq) == Right(Seq[Any](true)),
      boolC.parse("""{"x":false}""").map(_.toSeq) == Right(Seq[Any](false)),
      boolC.parse("""{"x":1}""").isLeft,
      boolC.parse("""{"x":0}""").isLeft)

  property("encode/parse identity on ARBITRARY unicode strings (incl. empty, quotes, control chars)") =
    Prop.forAll { (s: String) =>
      val v = UTF8String.fromString(s)
      strC.encode(Array[Any](v)).flatMap(strC.parse).map(_.toSeq) == Right(Seq[Any](v))
    }

  property("encode/parse identity: ints") = Prop.forAll { (i: Int) =>
    intC.encode(Array[Any](i)).flatMap(intC.parse).map(_.toSeq) == Right(Seq[Any](i))
  }

  property("encode/parse identity: finite doubles") = Prop.forAll { (d: Double) =>
    (d.isNaN || d.isInfinite) ||
      dblC.encode(Array[Any](d)).flatMap(dblC.parse).map(_.toSeq) == Right(Seq[Any](d))
  }

  property("encode/parse identity: epoch days ±200y") =
    Prop.forAll(Gen.choose(-73000, 73000)) { days =>
      dateC.encode(Array[Any](days)).flatMap(dateC.parse).map(_.toSeq) == Right(Seq[Any](days))
    }

  property("encode/parse identity: whole-second timestamps") =
    Prop.forAll(Gen.choose(-2000000000L, 2000000000L)) { epochSec =>
      val micros = epochSec * 1000000L
      tsC.encode(Array[Any](micros)).flatMap(tsC.parse).map(_.toSeq) == Right(Seq[Any](micros))
    }

  property("sub-second timestamps are never encodable (error-not-silent)") =
    Prop.forAll(Gen.choose(-2000000000L, 2000000000L), Gen.choose(1L, 999999L)) {
      (epochSec, subMicros) =>
        tsC.encode(Array[Any](epochSec * 1000000L + subMicros)).isLeft
    }

  property("int fields reject JSON doubles, strings, and beyond-i32 integers") =
    Prop.forAll(Gen.choose(Int.MaxValue.toLong + 1, Long.MaxValue)) { big =>
      Prop.all(
        intC.parse("""{"x":4.0}""").isLeft,
        intC.parse("""{"x":"42"}""").isLeft,
        intC.parse(s"""{"x":$big}""").isLeft)
    }

  property("null values are always rejected, for every type") =
    Prop.all(Seq(intC, dblC, boolC, strC, dateC, tsC).map(c =>
      Prop(c.parse("""{"x":null}""").isLeft)): _*)

  property("unknown keys are rejected even when all schema fields are present") =
    Prop.forAll(Gen.identifier.suchThat(_ != "x")) { k =>
      intC.parse(s"""{"x":1,"$k":2}""").isLeft
    }

  property("trailing content after the object is rejected") =
    Prop.forAll(Gen.choose(0, 1000)) { i =>
      intC.parse(s"""{"x":$i} {"x":$i}""").isLeft && intC.parse(s"""{"x":$i}]""").isLeft
    }

  // ---- fixed-position timestamp/date parse == the STRICT formatter ----

  property("timestamps: the parse returns exactly the STRICT formatter's value or error") =
    Prop.forAll(Gen.listOfN(50, WireTimeGen.timestamps)) { _.forall { s =>
      tsC.parse(s"""{"x":"$s"}""").map(_.toSeq) ==
        WireTimeGen.formatterTimestamp(s).map(Seq[Any](_))
          .toRight(CodecError.TypeError(s"Failed to parse $s as Timestamp for field x. " +
            "Expected format: YYYY-MM-DD HH:MM:SS"))
    } }

  property("dates: the parse returns exactly the STRICT formatter's value or error") =
    Prop.forAll(Gen.listOfN(50, WireTimeGen.dates)) { _.forall { s =>
      dateC.parse(s"""{"x":"$s"}""").map(_.toSeq) ==
        WireTimeGen.formatterDate(s).map(Seq[Any](_))
          .toRight(CodecError.TypeError(s"Failed to parse $s as Date for field x. " +
            "Expected format: YYYY-MM-DD"))
    } }
}
