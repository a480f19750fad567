package graft.serve

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal proto3 wire-format codec — hand-rolled from the PUBLIC
  * protobuf encoding spec (varints; tag = (field << 3) | wiretype;
  * wiretype 0 = varint, 1 = fixed64, 2 = length-delimited, 5 =
  * fixed32), so the gRPC transport ([[GrpcServer]]) needs no protobuf
  * runtime (this environment has none — same zero-dependency stance as
  * [[RestServer]]'s use of the JDK HTTP server).
  *
  * The surface is generic: a writer with per-type field emitters
  * (proto3 default-elision: zero/empty scalar fields are omitted) and
  * a reader that parses a message into field-number → values, with
  * typed accessors returning proto3 defaults for absent fields.
  * Message schemas live at the call sites ([[GrpcDispatch]]'s verb
  * codecs), matching the reference's `miniodb.proto` field numbers —
  * cited per message there.
  *
  * Also hosts the two well-known types the service surface uses:
  * `google.protobuf.Timestamp` (seconds=1, nanos=2) and
  * `google.protobuf.Struct` (fields=1 map<string, Value>; Value oneof
  * null=1/number=2/string=3/bool=4/struct=5/list=6), mapped onto
  * `java.sql.Timestamp` and `Map[String, Any]` — the same payload
  * representation the REST transport and [[graft.ingest.DynRecord]]
  * use. Struct numbers are doubles on the wire; integral values in
  * Long range decode to Long so a proto payload infers the same
  * dynamic schema as the equivalent JSON payload. */
private[serve] object ProtoWire {

  // ------------------------------------------------------------- writer

  final class W {
    private val out = new ByteArrayOutputStream()
    def bytes: Array[Byte] = out.toByteArray

    private def rawVarint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    private def tag(field: Int, wire: Int): Unit = rawVarint((field.toLong << 3) | wire)

    /** varint field; proto3-elides 0 unless `keep`. */
    def int64(field: Int, v: Long, keep: Boolean = false): W = {
      if (v != 0 || keep) { tag(field, 0); rawVarint(v) }; this
    }
    def int32(field: Int, v: Int): W = int64(field, v.toLong)
    def bool(field: Int, v: Boolean, keep: Boolean = false): W =
      int64(field, if (v) 1 else 0, keep)
    def double(field: Int, v: Double, keep: Boolean = false): W = {
      if (v != 0.0 || keep) {
        tag(field, 1)
        val bits = java.lang.Double.doubleToLongBits(v)
        var i = 0
        while (i < 8) { out.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
      }
      this
    }
    def string(field: Int, s: String, keep: Boolean = false): W =
      if ((s == null || s.isEmpty) && !keep) this
      else bytesF(field, if (s == null) Array.emptyByteArray else s.getBytes(UTF_8))
    def bytesF(field: Int, b: Array[Byte]): W = {
      tag(field, 2); rawVarint(b.length.toLong); out.write(b, 0, b.length); this
    }
    /** nested message / map entry — always emitted (presence carries
      * meaning for messages, unlike proto3 scalars). */
    def msg(field: Int, m: W): W = bytesF(field, m.bytes)
  }

  def w: W = new W

  // ------------------------------------------------------------- reader

  /** One parsed field occurrence. Length-delimited payloads stay raw
    * bytes — the caller knows whether they are a string, sub-message,
    * or packed scalars. */
  sealed trait PVal
  final case class PVarint(v: Long) extends PVal
  final case class PFixed64(v: Long) extends PVal
  final case class PFixed32(v: Int) extends PVal
  final case class PBytes(b: Array[Byte]) extends PVal

  type PMsg = Map[Int, Vector[PVal]]

  /** Parse a message; unknown fields are retained (and ignored by the
    * typed accessors), malformed input throws IllegalArgumentException
    * — the transport maps that to INVALID_ARGUMENT. */
  def parse(b: Array[Byte]): PMsg = {
    var i = 0
    def varint(): Long = {
      var shift = 0; var v = 0L
      while (true) {
        require(i < b.length && shift < 64, "malformed varint")
        val x = b(i); i += 1
        v |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return v
        shift += 7
      }
      v
    }
    var m = Map.empty[Int, Vector[PVal]]
    while (i < b.length) {
      val t = varint()
      val field = (t >>> 3).toInt
      require(field > 0, s"field 0 in tag $t")
      val v: PVal = (t & 7) match {
        case 0 => PVarint(varint())
        case 1 =>
          require(i + 8 <= b.length, "truncated fixed64")
          var x = 0L; var j = 0
          while (j < 8) { x |= (b(i + j) & 0xffL) << (8 * j); j += 1 }
          i += 8; PFixed64(x)
        case 2 =>
          val n = varint().toInt
          require(n >= 0 && i + n <= b.length, "truncated bytes")
          val out = java.util.Arrays.copyOfRange(b, i, i + n); i += n
          PBytes(out)
        case 5 =>
          require(i + 4 <= b.length, "truncated fixed32")
          var x = 0; var j = 0
          while (j < 4) { x |= (b(i + j) & 0xff) << (8 * j); j += 1 }
          i += 4; PFixed32(x)
        case w => throw new IllegalArgumentException(s"unsupported wiretype $w")
      }
      m = m.updated(field, m.getOrElse(field, Vector.empty) :+ v)
    }
    m
  }

  def str(m: PMsg, f: Int): String =
    m.get(f).flatMap(_.lastOption).collect { case PBytes(b) => new String(b, UTF_8) }
      .getOrElse("")
  def i64(m: PMsg, f: Int): Long =
    m.get(f).flatMap(_.lastOption).collect { case PVarint(v) => v }.getOrElse(0L)
  def i32(m: PMsg, f: Int): Int = i64(m, f).toInt
  def bool(m: PMsg, f: Int): Boolean = i64(m, f) != 0
  def dbl(m: PMsg, f: Int): Double =
    m.get(f).flatMap(_.lastOption).collect {
      case PFixed64(v) => java.lang.Double.longBitsToDouble(v)
    }.getOrElse(0.0)
  def sub(m: PMsg, f: Int): Option[PMsg] =
    m.get(f).flatMap(_.lastOption).collect { case PBytes(b) => parse(b) }
  def subs(m: PMsg, f: Int): Seq[PMsg] =
    m.getOrElse(f, Vector.empty).collect { case PBytes(b) => parse(b) }

  // ------------------------------------- well-known types: Timestamp

  /** google.protobuf.Timestamp: seconds=1, nanos=2. Seconds use FLOOR
    * division (protobuf.dev requires nanos non-negative even before
    * the epoch): 1969-12-31T23:59:59.5 is seconds=-1/nanos=5e8, not
    * the truncate-toward-zero seconds=0/nanos=5e8 that would read
    * back one second late. `getNanos` is already 0..999999999. */
  def writeTimestamp(t: java.sql.Timestamp): W =
    w.int64(1, Math.floorDiv(t.getTime, 1000L)).int32(2, t.getNanos)

  def readTimestamp(m: PMsg): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(i64(m, 1) * 1000L)
    t.setNanos(i32(m, 2))
    t
  }

  // ---------------------------------------- well-known types: Struct

  /** google.protobuf.Struct ↔ Map[String, Any] — the DynRecord payload
    * shape. Supported Any values: null, Boolean, String, numbers
    * (stored as the wire's double; integral → Long on read), nested
    * Map[String, Any], Seq[Any]. */
  def writeStruct(payload: Map[String, Any]): W = {
    val sw = w
    payload.foreach { case (k, v) =>
      sw.msg(1, w.string(1, k).msg(2, writeValue(v)))
    }
    sw
  }

  // Value's members form a oneof: the chosen field is ALWAYS emitted,
  // even at its type's default (0.0 / "" / false) — proto3's scalar
  // elision does not apply inside a oneof
  private def writeValue(v: Any): W = v match {
    case null => w.int64(1, 0, keep = true) // NullValue enum, explicit
    case b: Boolean => w.bool(4, b, keep = true)
    case s: String => w.string(3, s, keep = true)
    case m: Map[_, _] =>
      w.msg(5, writeStruct(m.asInstanceOf[Map[String, Any]]))
    case xs: Seq[_] =>
      val lw = w // ListValue{repeated Value values = 1}
      xs.foreach(x => lw.msg(1, writeValue(x)))
      w.msg(6, lw)
    case n: Byte => w.double(2, n.toDouble, keep = true)
    case n: Short => w.double(2, n.toDouble, keep = true)
    case n: Int => w.double(2, n.toDouble, keep = true)
    case n: Long => w.double(2, n.toDouble, keep = true)
    case n: Float => w.double(2, n.toDouble, keep = true)
    case n: Double => w.double(2, n, keep = true)
    case n: BigDecimal => w.double(2, n.toDouble, keep = true)
    case other => w.string(3, String.valueOf(other), keep = true)
  }

  def readStruct(m: PMsg): Map[String, Any] =
    subs(m, 1).map(e => str(e, 1) -> sub(e, 2).map(readValue).orNull).toMap

  private def readValue(v: PMsg): Any = {
    if (v.contains(3)) str(v, 3)
    else if (v.contains(4)) bool(v, 4)
    else if (v.contains(2)) {
      val d = dbl(v, 2)
      // integral doubles decode to Long so proto payloads infer the
      // same dynamic schema as the equivalent JSON payloads
      if (d.isWhole && math.abs(d) < 9.007199254740992e15) d.toLong else d
    }
    else if (v.contains(5)) sub(v, 5).map(readStruct).orNull
    else if (v.contains(6)) sub(v, 6).map(lv => subs(lv, 1).map(readValue)).orNull
    else null // null_value or empty
  }
}
