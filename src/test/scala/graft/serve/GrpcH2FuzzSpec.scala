package graft.serve

import graft.SparkSpec
import graft.catalog.TableStore
import ProtoWire._
import H2TestClient.grpcFrame

/** Property-fuzz the native transport's DATA-frame reassembly and
  * message decoding. The parsers under attack are [[GrpcServer]]'s
  * cutMessages/retain loop — length-prefixed messages arriving split
  * across arbitrary DATA-frame boundaries, oversize declared lengths,
  * flag bytes, and random garbage — and the verb codecs behind it:
  * malformed protobuf, rejected arguments and a deep-nested Struct.
  * Contract: every stream terminates with a grpc-status trailer in
  * bounded time (a hang surfaces as the H2TestClient's 60 s await),
  * malformed input is INVALID_ARGUMENT, reassembly is split-invariant,
  * and the server stays serviceable after abuse. Deterministic seeds,
  * so a failure reproduces. */
class GrpcH2FuzzSpec extends SparkSpec {

  private def withServer(f: (Int, ServiceFacade) => Unit): Unit = {
    val facade = new ServiceFacade(new TableStore(spark, tmpDir("h2fuzz")))
    val srv = new GrpcServer(facade)
    val port = srv.start()
    try f(port, facade) finally srv.stop()
  }

  /** Cut `bytes` at `nCuts` random positions into consecutive chunks
    * (empty chunks allowed — a zero-length DATA frame is legal). */
  private def randomSplit(bytes: Array[Byte], nCuts: Int,
      rnd: java.util.Random): Seq[Array[Byte]] = {
    val cuts = (Seq.fill(nCuts)(rnd.nextInt(bytes.length + 1)) :+ 0 :+ bytes.length)
      .sorted.distinct
    cuts.zip(cuts.tail).map { case (a, b) =>
      java.util.Arrays.copyOfRange(bytes, a, b)
    }
  }

  test("reassembly is split-invariant: StreamWrite folds the same count under any framing") {
    withServer { (port, facade) =>
      val c = new H2TestClient(port)
      try {
        val rnd = new java.util.Random(0x52E16L)
        var totalSent = 0L
        (1 to 20).foreach { iter =>
          val n = 1 + rnd.nextInt(8)
          var expected = 0L
          val body = (0 until n).flatMap { k =>
            val req = w.string(2, "fz")
            (0 until 1 + rnd.nextInt(3)).foreach { j =>
              req.msg(1, w.string(1, s"i$iter-m$k-r$j")
                .msg(3, writeStruct(Map("v" -> j.toLong))))
              expected += 1
            }
            grpcFrame(req.bytes).toSeq
          }.toArray
          totalSent += expected
          val frames = randomSplit(body, rnd.nextInt(12), rnd)
          val r = c.call("miniodb.v1.MinIODBService", "StreamWrite", frames)
          assert(r.grpcStatus == 0,
            s"iter $iter (${frames.size} frames): status ${r.grpcStatus} '${r.grpcMessage}'")
          val got = i64(parse(r.messages.head), 2)
          assert(got == expected,
            s"iter $iter: folded $got of $expected records under ${frames.size}-frame split")
        }
        // end-to-end cross-check: every record of every fuzzed stream
        // landed exactly once (distinct ids — replays/dupes would differ)
        assert(facade.queryData("SELECT count(DISTINCT id) AS n FROM fz")
          .exists(_.contains(s""""n":$totalSent""")),
          s"table fz does not hold all $totalSent fuzzed records")
      } finally c.close()
    }
  }

  test("random DATA garbage: bounded grpc-status, no hang, server survives") {
    withServer { (port, _) =>
      val c = new H2TestClient(port)
      try {
        val rnd = new java.util.Random(0xDA7A6AL)
        (1 to 40).foreach { n =>
          val b = new Array[Byte](rnd.nextInt(64))
          rnd.nextBytes(b)
          val frames = if (b.isEmpty) Seq(b) else randomSplit(b, rnd.nextInt(4), rnd)
          val r = c.call("miniodb.v1.MinIODBService", "QueryData", frames)
          assert(r.grpcStatus >= 0 && r.grpcStatus <= 16,
            s"iteration $n: grpc-status ${r.grpcStatus}")
        }
        val ok = c.call("miniodb.v1.MinIODBService", "HealthCheck", Nil)
        assert(ok.grpcStatus == 0, "server wedged after garbage streams")
      } finally c.close()
    }
  }

  test("crafted frames: compressed flag, oversize length, truncated tail, negative length") {
    val facade = new ServiceFacade(new TableStore(spark, tmpDir("h2craft")))
    val srv = new GrpcServer(facade, maxInboundMessageBytes = 4096)
    val port = srv.start()
    val c = new H2TestClient(port)
    try {
      // compressed-flag byte set → UNIMPLEMENTED (no codec negotiated)
      val compressed = grpcFrame(w.string(1, "SELECT 1 AS x").bytes)
      compressed(0) = 1
      assert(c.call("miniodb.v1.MinIODBService", "QueryData",
        Seq(compressed)).grpcStatus == 12)
      // declared length over the inbound cap → RESOURCE_EXHAUSTED,
      // even though the bytes never arrive (the cap must fire on the
      // DECLARED length, before buffering)
      val oversize = Array[Byte](0, 0x7F, 0, 0, 0)
      assert(c.call("miniodb.v1.MinIODBService", "QueryData",
        Seq(oversize)).grpcStatus == 8)
      // negative declared length (high bit) → INVALID_ARGUMENT, no loop
      val negative = Array[Byte](0, 0x80.toByte, 0, 0, 1)
      assert(c.call("miniodb.v1.MinIODBService", "QueryData",
        Seq(negative)).grpcStatus == 3)
      // unary stream ending mid-message → the empty message dispatches
      // and QueryData rejects the missing SQL (INVALID_ARGUMENT)
      val truncated = grpcFrame(w.string(1, "SELECT 1 AS x").bytes).dropRight(3)
      assert(c.call("miniodb.v1.MinIODBService", "QueryData",
        Seq(truncated)).grpcStatus == 3)
      // still serviceable
      assert(c.call("miniodb.v1.MinIODBService", "HealthCheck", Nil).grpcStatus == 0)
    } finally { c.close(); srv.stop() }
  }

  test("random message bodies in whole frames: HTTP 200 + a grpc-status, no hang") {
    withServer { (port, _) =>
      val c = new H2TestClient(port)
      try {
        val rnd = new java.util.Random(0xBEEF15L)
        val methods = Seq("QueryData", "WriteData", "UpdateData", "DeleteData", "CreateTable")
        (1 to 60).foreach { n =>
          val b = new Array[Byte](rnd.nextInt(48))
          rnd.nextBytes(b)
          val method = methods(n % methods.size)
          val r = c.call("miniodb.v1.MinIODBService", method, Seq(grpcFrame(b)))
          assert(r.status == "200", s"iteration $n ($method): :status ${r.status}")
          assert(r.grpcStatus >= 0 && r.grpcStatus <= 16,
            s"iteration $n ($method): grpc-status ${r.grpcStatus}")
        }
        assert(c.call("miniodb.v1.MinIODBService", "HealthCheck", Nil).grpcStatus == 0,
          "server wedged after random bodies")
      } finally c.close()
    }
  }

  test("trailer-flag and overrun frames: bounded status, no loop, server answers") {
    withServer { (port, _) =>
      val c = new H2TestClient(port)
      def query(frames: Array[Byte]*) =
        c.call("miniodb.v1.MinIODBService", "QueryData", frames).grpcStatus
      try {
        // a trailer flag (0x80) with a negative declared length: any
        // flag byte but 0 is UNIMPLEMENTED, before the length is read
        assert(query(Array[Byte](0x80.toByte, 0xFF.toByte, 0xFF.toByte,
          0xFF.toByte, 0xFB.toByte)) == 12)
        // a trailer-flagged empty frame is no message either
        assert(query(Array[Byte](0x80.toByte, 0, 0, 0, 0)) == 12)
        // declared length past the end of the stream → INVALID_ARGUMENT
        assert(query(Array[Byte](0, 0, 0, 0, 0x7F, 0x01)) == 3)
        // the same overrun arriving over two DATA frames
        assert(query(Array[Byte](0, 0, 0), Array[Byte](0, 0x7F, 0x01)) == 3)
        // the server is still alive and correct after the abuse
        val ok = c.call("miniodb.v1.MinIODBService", "QueryData",
          Seq(grpcFrame(w.string(1, "SELECT 1 AS one").bytes)))
        assert(ok.grpcStatus == 0 && str(parse(ok.messages.head), 1) == """[{"one":1}]""",
          s"server wedged after crafted frames: ${ok.grpcStatus} '${ok.grpcMessage}'")
      } finally c.close()
    }
  }

  test("malformed input is INVALID_ARGUMENT in the trailer, never HTTP 500") {
    withServer { (port, _) =>
      val c = new H2TestClient(port)
      try {
        // a whole frame around a malformed message (truncated varint)
        val badMsg = c.call("miniodb.v1.MinIODBService", "QueryData",
          Seq(grpcFrame(Array[Byte](0x08, 0xFF.toByte))))
        // well-formed messages the verbs reject: non-SELECT SQL dies at the
        // gate, a traversal table name at the validator
        val drop = c.call("miniodb.v1.MinIODBService", "QueryData",
          Seq(grpcFrame(w.string(1, "DROP TABLE users").bytes)))
        val traversal = c.call("miniodb.v1.MinIODBService", "WriteData",
          Seq(grpcFrame(w.string(1, "..").msg(2, w.string(1, "x")
            .msg(3, writeStruct(Map("v" -> 1L)))).bytes)))
        Seq(badMsg, drop, traversal).foreach { r =>
          assert(r.status == "200" && r.grpcStatus == 3 && r.messages.isEmpty,
            s":status ${r.status} grpc-status ${r.grpcStatus} '${r.grpcMessage}'")
        }
        assert(drop.grpcMessage.nonEmpty)
        assert(java.net.URLDecoder.decode(traversal.grpcMessage, "UTF-8")
          .contains("invalid table name"))
      } finally c.close()
    }
  }

  test("deep-nested Struct payload: bounded failure, not a wedged worker") {
    withServer { (port, _) =>
      val c = new H2TestClient(port)
      try {
        // 50k-deep nested Value{struct_value=...} — recursion in
        // readStruct would overflow the stack; the handler must map it
        // to a bounded error trailer (INTERNAL) and stay serviceable
        var inner = w.string(1, "x")
        (1 to 50000).foreach(_ => inner = w.msg(1, w.msg(2, w.msg(5, inner))))
        val rec = w.string(1, "id0").msg(3, inner)
        val r = c.call("miniodb.v1.MinIODBService", "WriteData",
          Seq(grpcFrame(w.string(1, "t").msg(2, rec).bytes)))
        assert(r.grpcStatus > 0 && r.messages.isEmpty, s"grpc-status ${r.grpcStatus}")
        assert(c.call("miniodb.v1.MinIODBService", "HealthCheck", Nil).grpcStatus == 0,
          "server wedged after deep nesting")
      } finally c.close()
    }
  }
}
