package graft.serve

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import ProtoWire._

/** Pins [[ProtoWire]], the hand-rolled proto3 codec, without a
  * transport: golden vectors from the PUBLIC protobuf spec (not from
  * the codec itself), the Struct payload round trip, and a fuzz of
  * [[ProtoWire.parse]] on random bytes. */
class ProtoWireSpec extends AnyFunSuite {

  test("proto wire golden vectors (public protobuf spec, not self-referential)") {
    // varint 300 = AC 02; tag(field 1, wiretype 0) = 0x08
    assert(w.int64(1, 300).bytes.toSeq === Seq(0x08, 0xAC.toByte, 0x02).map(_.toByte))
    // string field 2 "abc": tag = (2<<3)|2 = 0x12, len 3
    assert(w.string(2, "abc").bytes.toSeq ===
      Seq[Byte](0x12, 0x03) ++ "abc".getBytes(UTF_8).toSeq)
    // proto3 elision: zero scalar emits nothing
    assert(w.int64(1, 0).bytes.isEmpty && w.string(2, "").bytes.isEmpty)
    // negative int64 is ten 0xFF-ish bytes (two's complement varint)
    val neg = w.int64(1, -1).bytes
    assert(neg.length == 11 && i64(parse(neg), 1) == -1L)
    // double field 3 1.5: tag = (3<<3)|1 = 0x19, little-endian IEEE754
    assert(w.double(3, 1.5).bytes.toSeq ===
      Seq(0x19, 0, 0, 0, 0, 0, 0, 0xF8.toByte, 0x3F).map(_.toByte))
    // parse round-trips a composite message
    val m = parse(w.string(1, "t").int64(2, 42).msg(3, w.bool(1, true)).bytes)
    assert(str(m, 1) == "t" && i64(m, 2) == 42L && bool(sub(m, 3).get, 1))
    // Timestamp floor semantics (protobuf.dev): pre-epoch fractional
    // instants carry NEGATIVE seconds and NON-NEGATIVE nanos —
    // 1969-12-31T23:59:59.5Z is seconds=-1/nanos=5e8, not 0/5e8
    val preEpoch = new java.sql.Timestamp(-1000L)
    preEpoch.setNanos(500000000)          // getTime == -500 ms
    val tsm = parse(writeTimestamp(preEpoch).bytes)
    assert(i64(tsm, 1) == -1L && i32(tsm, 2) == 500000000)
    assert(readTimestamp(tsm).getTime == -500L)
  }

  test("Struct round-trip preserves the DynRecord payload shape") {
    val payload = Map[String, Any]("name" -> "ann", "score" -> 9.5,
      "age" -> 30L, "active" -> true, "note" -> null,
      "tags" -> Seq("a", "b"), "nested" -> Map[String, Any]("x" -> 1L),
      "zero" -> 0L, "empty" -> "")
    val back = readStruct(parse(writeStruct(payload).bytes))
    assert(back("name") == "ann" && back("score") == 9.5 && back("age") == 30L)
    assert(back("active") == true && back("note") == null)
    assert(back("tags") == Seq("a", "b"))
    assert(back("nested") == Map("x" -> 1L))
    // oneof members survive at their type defaults (elision suspended)
    assert(back("zero") == 0L && back("empty") == "")
  }

  test("ProtoWire.parse on random bytes: message or IllegalArgumentException, nothing else") {
    val rnd = new java.util.Random(0xF022L)
    var parsed = 0
    var rejected = 0
    (1 to 2000).foreach { _ =>
      val b = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(b)
      try { parse(b); parsed += 1 }
      catch { case _: IllegalArgumentException => rejected += 1 }
      // any other throwable fails the test by propagating
    }
    // both outcomes must actually occur or the fuzz is vacuous
    assert(parsed > 0 && rejected > 0, s"parsed=$parsed rejected=$rejected")
  }
}
