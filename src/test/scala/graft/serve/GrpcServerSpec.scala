package graft.serve

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.SparkSpec
import graft.catalog.TableStore
import ProtoWire._
import H2TestClient.grpcFrame

/** Drives the NATIVE gRPC transport over real loopback HTTP/2 with a
  * netty h2c client — prior-knowledge cleartext, the framing a stock
  * gRPC client library speaks on an insecure channel. The protobuf
  * bytes are [[ProtoWire]]'s, pinned against the public spec by
  * [[ProtoWireSpec]]'s golden vectors; what THIS spec pins is every
  * verb's codec end to end and the HTTP/2 layer: headers, 5-byte
  * message framing across DATA-frame boundaries, trailers, auth,
  * flow-control survival of a long client stream, and client-streaming
  * StreamWrite. */
class GrpcServerSpec extends SparkSpec {

  private def withServer(authSecret: Option[String] = None,
      apiSecret: Option[String] = None)(f: (Int, ServiceFacade) => Unit): Unit = {
    val facade = new ServiceFacade(new TableStore(spark, tmpDir("grpch2")),
      authSecret, apiSecret = apiSecret)
    val srv = new GrpcServer(facade)
    val port = srv.start()
    try f(port, facade) finally srv.stop()
  }

  test("unary verbs over native HTTP/2: write → query → health") {
    withServer() { (port, _) =>
      val c = new H2TestClient(port)
      try {
        val ts = writeTimestamp(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
        val rec = w.string(1, "u1").msg(2, ts)
          .msg(3, writeStruct(Map("name" -> "ann", "score" -> 9.5)))
        val r1 = c.call("miniodb.v1.MinIODBService", "WriteData",
          Seq(grpcFrame(w.string(1, "users").msg(2, rec).bytes)))
        assert(r1.status == "200" && r1.grpcStatus == 0, s"${r1.grpcMessage}")
        assert(bool(parse(r1.messages.head), 1))
        val r2 = c.call("miniodb.v1.MinIODBService", "QueryData",
          Seq(grpcFrame(w.string(1, "SELECT id, name FROM users").bytes)))
        assert(r2.grpcStatus == 0)
        assert(str(parse(r2.messages.head), 1) == """[{"id":"u1","name":"ann"}]""")
        // empty-body verb: HEADERS with END_STREAM only
        val r3 = c.call("miniodb.v1.MinIODBService", "HealthCheck", Nil)
        assert(r3.grpcStatus == 0 && str(parse(r3.messages.head), 1) == "healthy")
        // server-streaming: StreamQuery emits one message per batch
        (2 to 5).foreach { i =>
          val rec = w.string(1, s"u$i")
            .msg(3, writeStruct(Map("name" -> s"n$i", "score" -> 1.0)))
          c.call("miniodb.v1.MinIODBService", "WriteData",
            Seq(grpcFrame(w.string(1, "users").msg(2, rec).bytes)))
        }
        val r4 = c.call("miniodb.v1.MinIODBService", "StreamQuery",
          Seq(grpcFrame(
            w.string(1, "SELECT id FROM users ORDER BY id").int32(2, 2).bytes)))
        assert(r4.grpcStatus == 0)
        val pages = r4.messages.map(parse)
        assert(pages.map(p => subs(p, 1).size) == Seq(2, 2, 1),
          s"expected 3 streamed batches, got ${pages.size}")
        assert(!bool(pages.last, 2), "last frame carries has_more=false")
      } finally c.close()
    }
  }

  test("write → query → update → delete over native HTTP/2") {
    withServer() { (port, _) =>
      val c = new H2TestClient(port)
      def call(method: String, msg: W) =
        c.call("miniodb.v1.MinIODBService", method, Seq(grpcFrame(msg.bytes)))
      def rows(sql: String): String = {
        val r = call("QueryData", w.string(1, sql))
        assert(r.grpcStatus == 0, r.grpcMessage)
        str(parse(r.messages.head), 1)
      }
      try {
        val ts = writeTimestamp(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
        val rec = w.string(1, "u1").msg(2, ts)
          .msg(3, writeStruct(Map("name" -> "ann", "score" -> 9.5)))
        val wr = call("WriteData", w.string(1, "users").msg(2, rec))
        assert(wr.grpcStatus == 0, wr.grpcMessage)
        assert(bool(parse(wr.messages.head), 1) && str(parse(wr.messages.head), 2) == "u1")
        assert(rows("SELECT id, name, score FROM users") ==
          """[{"id":"u1","name":"ann","score":9.5}]""")
        val up = call("UpdateData", w.string(1, "users").string(2, "u1")
          .msg(3, writeStruct(Map("name" -> "ann2"))).msg(4, ts))
        assert(up.grpcStatus == 0 && bool(parse(up.messages.head), 1))
        assert(rows("SELECT id, name FROM users") == """[{"id":"u1","name":"ann2"}]""")
        val del = call("DeleteData", w.string(1, "users").string(2, "u1"))
        assert(del.grpcStatus == 0 && i32(parse(del.messages.head), 3) == 1)
        assert(rows("SELECT id FROM users") == "[]")
      } finally c.close()
    }
  }

  test("StreamQuery streams every batch; cursor resumes mid-stream") {
    withServer() { (port, _) =>
      val c = new H2TestClient(port)
      try {
        (1 to 5).foreach { i =>
          val rec = w.string(1, s"u$i")
            .msg(3, writeStruct(Map("name" -> s"n$i", "score" -> 1.0)))
          assert(c.call("miniodb.v1.MinIODBService", "WriteData",
            Seq(grpcFrame(w.string(1, "users").msg(2, rec).bytes))).grpcStatus == 0)
        }
        val sq = w.string(1, "SELECT id, name FROM users ORDER BY id").int32(2, 2)
        val r1 = c.call("miniodb.v1.MinIODBService", "StreamQuery", Seq(grpcFrame(sq.bytes)))
        assert(r1.grpcStatus == 0)
        val pages = r1.messages.map(parse)
        assert(pages.map(p => subs(p, 1).size) == Seq(2, 2, 1),
          s"expected 3 streamed batches, got ${pages.size}")
        val first = subs(pages.head, 1).head
        assert(str(first, 1) == "u1") // id carried from the row
        assert(readStruct(sub(first, 3).get)("name") == "n1")
        assert(pages.init.forall(bool(_, 2)) && !bool(pages.last, 2),
          "has_more on every frame but the last")
        assert(subs(pages.last, 1).map(str(_, 1)) == Seq("u5"))
        // an interrupted client re-enters mid-stream with the cursor the
        // first frame carried
        val cursor = str(pages.head, 3)
        assert(cursor.nonEmpty)
        val r2 = c.call("miniodb.v1.MinIODBService", "StreamQuery",
          Seq(grpcFrame(sq.string(3, cursor).bytes)))
        assert(r2.grpcStatus == 0)
        assert(r2.messages.map(parse).flatMap(subs(_, 1)).map(str(_, 1)) ==
          Seq("u3", "u4", "u5"))
      } finally c.close()
    }
  }

  test("table lifecycle + health + status + metrics over native HTTP/2") {
    withServer() { (port, _) =>
      val c = new H2TestClient(port)
      def call(method: String, msg: W) =
        c.call("miniodb.v1.MinIODBService", method, Seq(grpcFrame(msg.bytes)))
      try {
        val cfg = w.int32(1, 99).int32(2, 30).string(6, "custom").string(7, "ord")
        assert(call("CreateTable", w.string(1, "cfg").msg(2, cfg)).grpcStatus == 0)
        // duplicate without if_not_exists → INVALID_ARGUMENT
        val dup = call("CreateTable", w.string(1, "cfg"))
        assert(dup.grpcStatus == 3)
        // multi-word message: spaces must arrive as %20 (never '+')
        assert(!dup.grpcMessage.contains("+"),
          s"grpc-message not percent-encoded per spec: '${dup.grpcMessage}'")
        assert(java.net.URLDecoder.decode(dup.grpcMessage, "UTF-8") ==
          "table cfg already exists")
        val got = call("GetTable", w.string(1, "cfg"))
        assert(got.grpcStatus == 0)
        val info = sub(parse(got.messages.head), 1).get
        assert(str(info, 1) == "cfg")
        val gotCfg = sub(info, 2).get
        assert(i32(gotCfg, 1) == 99 && str(gotCfg, 6) == "custom" && str(gotCfg, 7) == "ord")
        val list = call("ListTables", w)
        assert(list.grpcStatus == 0 &&
          subs(parse(list.messages.head), 1).map(str(_, 1)).contains("cfg"))
        assert(call("GetTable", w.string(1, "absent")).grpcStatus == 5, "NOT_FOUND")
        assert(call("DeleteTable", w.string(1, "cfg")).grpcStatus == 0)
        assert(call("GetTable", w.string(1, "cfg")).grpcStatus == 5, "dropped")
        val health = call("HealthCheck", w)
        assert(health.grpcStatus == 0 && str(parse(health.messages.head), 1) == "healthy")
        val status = call("GetStatus", w)
        assert(status.grpcStatus == 0 && i32(parse(status.messages.head), 6) == 1)
        val metrics = call("GetMetrics", w)
        assert(metrics.grpcStatus == 0)
        val usage = subs(parse(metrics.messages.head), 3)
          .map(e => str(e, 1) -> i64(e, 2)).toMap
        assert(usage.contains("total_queries"))
      } finally c.close()
    }
  }

  test("StreamWrite: client-streaming across DATA frames, split mid-message") {
    withServer() { (port, facade) =>
      val c = new H2TestClient(port)
      try {
        def swReq(table: String, ids: Seq[String]): Array[Byte] = {
          val req = w.string(2, table)
          ids.foreach { id =>
            req.msg(1, w.string(1, id)
              .msg(3, writeStruct(Map("v" -> id.length.toLong))))
          }
          req.bytes
        }
        // three request messages; the second is SPLIT across two DATA
        // frames (reassembly) and the third shares a frame with the
        // second's tail (multiple messages per frame)
        val m1 = grpcFrame(swReq("sw", Seq("a1", "a2")))
        val m2 = grpcFrame(swReq("sw", Seq("b1", "b2", "b3")))
        val m3 = grpcFrame(swReq("sw", Seq("c1")))
        val cut = m2.length / 2
        val frames = Seq(
          m1 ++ m2.take(cut),
          m2.drop(cut) ++ m3)
        val r = c.call("miniodb.v1.MinIODBService", "StreamWrite", frames)
        assert(r.grpcStatus == 0, s"grpc-message=${r.grpcMessage}")
        val resp = parse(r.messages.head)
        assert(bool(resp, 1), "success")
        assert(i64(resp, 2) == 6L, s"records_count=${i64(resp, 2)}")
        // the stream's records are queryable
        assert(facade.queryData("SELECT id FROM sw ORDER BY id")
          .exists(_.contains("b3")))
      } finally c.close()
    }
  }

  test("StreamWrite per-record failures collect; stream does not abort") {
    withServer() { (port, _) =>
      val c = new H2TestClient(port)
      try {
        // invalid table name on the middle request → its records error,
        // the rest of the stream still lands
        val good = w.string(2, "ok").msg(1, w.string(1, "g1")
          .msg(3, writeStruct(Map("v" -> 1L)))).bytes
        val bad = w.string(2, "..").msg(1, w.string(1, "x1")
          .msg(3, writeStruct(Map("v" -> 1L)))).bytes
        val r = c.call("miniodb.v1.MinIODBService", "StreamWrite",
          Seq(grpcFrame(good) ++ grpcFrame(bad) ++ grpcFrame(good)))
        assert(r.grpcStatus == 0)
        val resp = parse(r.messages.head)
        assert(!bool(resp, 1) && i64(resp, 2) == 2L)
        val errs = resp.getOrElse(3, Vector.empty).collect {
          case PBytes(b) => new String(b, java.nio.charset.StandardCharsets.UTF_8)
        }
        assert(errs.size == 1 && errs.head.contains("invalid table name"))
      } finally c.close()
    }
  }

  test("bearer auth and error trailers on the native transport") {
    withServer(Some("h2-signing-key-0123456789"),
        apiSecret = Some("h2-api-credential")) { (port, facade) =>
      val c = new H2TestClient(port)
      try {
        val denied = c.call("miniodb.v1.MinIODBService", "ListTables",
          Seq(grpcFrame(Array.emptyByteArray)))
        assert(denied.grpcStatus == 16)
        val tok = c.call("miniodb.v1.AuthService", "GetToken",
          Seq(grpcFrame(w.string(1, "alice").string(2, "h2-api-credential").bytes)))
        assert(tok.grpcStatus == 0)
        val access = str(parse(tok.messages.head), 1)
        val ok = c.call("miniodb.v1.MinIODBService", "ListTables",
          Seq(grpcFrame(Array.emptyByteArray)), token = Some(access))
        assert(ok.grpcStatus == 0)
        // wrong content-type → INVALID_ARGUMENT with percent-encoded
        // multi-word grpc-message (no literal '+')
        val badCt = c.call("miniodb.v1.MinIODBService", "HealthCheck",
          Seq(grpcFrame(Array.emptyByteArray)), contentType = "text/plain")
        assert(badCt.grpcStatus == 3)
        assert(badCt.grpcMessage.contains("%20") && !badCt.grpcMessage.contains("+"),
          s"grpc-message not percent-encoded: '${badCt.grpcMessage}'")
        // unknown method → UNIMPLEMENTED
        val nope = c.call("miniodb.v1.MinIODBService", "Nope",
          Seq(grpcFrame(Array.emptyByteArray)), token = Some(access))
        assert(nope.grpcStatus == 12)
        // the streaming verbs under a BOGUS service name must NOT
        // execute: auth is service-keyed, so method-keyed dispatch
        // would otherwise run them unauthenticated (the r15 review's
        // bypass finding)
        val sqBypass = c.call("evil.FakeService", "StreamQuery",
          Seq(grpcFrame(w.string(1, "SELECT 1 AS x").bytes)))
        assert(sqBypass.grpcStatus == 12 && sqBypass.messages.isEmpty,
          s"StreamQuery executed under a bogus service: ${sqBypass.grpcStatus}")
        val swBypass = c.call("evil.FakeService", "StreamWrite",
          Seq(grpcFrame(w.string(2, "evil").msg(1, w.string(1, "x")
            .msg(3, writeStruct(Map("v" -> 1L)))).bytes)))
        assert(swBypass.grpcStatus == 12, s"got ${swBypass.grpcStatus}")
        assert(facade.getTable("evil").isEmpty,
          "StreamWrite under a bogus service wrote data unauthenticated")
      } finally c.close()
    }
  }

  test("bearer auth gates data methods; auth verbs issue/refresh/revoke") {
    withServer(Some("h2-signing-key-0123456789"),
        apiSecret = Some("h2-api-credential")) { (port, _) =>
      val c = new H2TestClient(port)
      def listTables(token: Option[String]) = c.call("miniodb.v1.MinIODBService",
        "ListTables", Seq(grpcFrame(Array.emptyByteArray)), token = token).grpcStatus
      try {
        assert(listTables(None) == 16)
        // HealthCheck stays open
        assert(c.call("miniodb.v1.MinIODBService", "HealthCheck", Nil).grpcStatus == 0)
        // mint requires the API credential (not the signing key)
        val badMint = c.call("miniodb.v1.AuthService", "GetToken",
          Seq(grpcFrame(w.string(1, "alice").string(2, "h2-signing-key-0123456789").bytes)))
        assert(badMint.grpcStatus == 3)
        val tok = c.call("miniodb.v1.AuthService", "GetToken",
          Seq(grpcFrame(w.string(1, "alice").string(2, "h2-api-credential").bytes)))
        assert(tok.grpcStatus == 0)
        val minted = parse(tok.messages.head)
        val access = str(minted, 1)
        val refresh = str(minted, 2)
        assert(access.nonEmpty && refresh.nonEmpty && str(minted, 4) == "Bearer")
        assert(i64(minted, 3) > 0, "expires_in seconds")
        assert(listTables(Some(access)) == 0)
        // refresh rotates
        val ref = c.call("miniodb.v1.AuthService", "RefreshToken",
          Seq(grpcFrame(w.string(1, refresh).bytes)))
        assert(ref.grpcStatus == 0 && str(parse(ref.messages.head), 1).nonEmpty)
        // revoke, then the revoked token is rejected
        assert(c.call("miniodb.v1.AuthService", "RevokeToken",
          Seq(grpcFrame(w.string(1, access).bytes))).grpcStatus == 0)
        assert(listTables(Some(access)) == 16)
      } finally c.close()
    }
  }

  test("two request messages on a unary verb → INVALID_ARGUMENT, not silent drop") {
    withServer() { (port, facade) =>
      val c = new H2TestClient(port)
      try {
        def wd(id: String) = grpcFrame(w.string(1, "card")
          .msg(2, w.string(1, id).msg(3, writeStruct(Map("v" -> 1L)))).bytes)
        val r = c.call("miniodb.v1.MinIODBService", "WriteData",
          Seq(wd("a") ++ wd("b")))
        assert(r.grpcStatus == 3, s"got ${r.grpcStatus}")
        // neither write may have been acknowledged as a success
        assert(r.messages.isEmpty)
      } finally c.close()
    }
  }

  test("oversize inbound message → RESOURCE_EXHAUSTED (the stock 4 MiB cap, shrunk)") {
    val facade = new ServiceFacade(new TableStore(spark, tmpDir("grpch2cap")))
    val srv = new GrpcServer(facade, maxInboundMessageBytes = 1024)
    val port = srv.start()
    val c = new H2TestClient(port)
    try {
      val big = w.string(1, "users")
        .msg(2, w.string(1, "x").msg(3, writeStruct(Map("blob" -> ("y" * 4096)))))
        .bytes
      val r = c.call("miniodb.v1.MinIODBService", "WriteData", Seq(grpcFrame(big)))
      assert(r.grpcStatus == 8, s"expected RESOURCE_EXHAUSTED, got ${r.grpcStatus}")
      // a fitting message still lands afterwards
      val ok = c.call("miniodb.v1.MinIODBService", "HealthCheck", Nil)
      assert(ok.grpcStatus == 0)
    } finally { c.close(); srv.stop() }
  }

  test("garbage bytes on the h2c port: connection refused cleanly, server stays alive") {
    withServer() { (port, _) =>
      // not an HTTP/2 preface — netty must reject the connection
      // without wedging the event loop
      (1 to 5).foreach { _ =>
        val s = new java.net.Socket("127.0.0.1", port)
        try {
          s.setSoTimeout(5000)
          s.getOutputStream.write(
            "GET / HTTP/1.1\r\nHost: x\r\n\r\n\u0000\u00ff\u0013garbage".getBytes("ISO-8859-1"))
          s.getOutputStream.flush()
          // read until the server closes (or returns anything) — must
          // not hang past the socket timeout
          try { while (s.getInputStream.read() != -1) () }
          catch { case _: java.net.SocketTimeoutException =>
            fail("server neither answered nor closed a garbage connection") }
        } finally s.close()
      }
      // a real client still works afterwards
      val c = new H2TestClient(port)
      try {
        val r = c.call("miniodb.v1.MinIODBService", "HealthCheck", Nil)
        assert(r.grpcStatus == 0, "server wedged after garbage connections")
      } finally c.close()
    }
  }

  test("StreamQuery under the KNOWN-but-wrong AuthService: UNIMPLEMENTED, no rows") {
    // the r15 review's second bypass shape: AuthService passes the
    // known-service gate and needsBearer() is false for it, so a
    // method-keyed streaming branch would run SQL with no bearer
    // check. The branch must be service-gated so this falls through
    // to dispatch.unary → auth() → UNIMPLEMENTED.
    withServer(Some("h2-signing-key-0123456789"),
        apiSecret = Some("h2-api-credential")) { (port, _) =>
      val c = new H2TestClient(port)
      try {
        val r = c.call("miniodb.v1.AuthService", "StreamQuery",
          Seq(grpcFrame(w.string(1, "SELECT 1 AS x").int32(2, 10).bytes)))
        assert(r.grpcStatus == 12 && r.messages.isEmpty,
          s"AuthService/StreamQuery executed unauthenticated: " +
            s"status=${r.grpcStatus} messages=${r.messages.size}")
        // same shape for the client-streaming verb: the fold is only
        // armed for MinIODBService, so this must be UNIMPLEMENTED too
        val sw = c.call("miniodb.v1.AuthService", "StreamWrite",
          Seq(grpcFrame(w.string(2, "evil").msg(1, w.string(1, "x")
            .msg(3, writeStruct(Map("v" -> 1L)))).bytes)))
        assert(sw.grpcStatus == 12, s"got ${sw.grpcStatus}")
      } finally c.close()
    }
  }

  test("metadata verbs: backup → list → restore round-trip (reference field numbers)") {
    withServer() { (port, facade) =>
      val c = new H2TestClient(port)
      def call(method: String, msg: W) =
        c.call("miniodb.v1.MinIODBService", method, Seq(grpcFrame(msg.bytes)))
      try {
        facade.writeData("mt", graft.ingest.DynRecord("k1",
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Map("v" -> 7L)))
        // BackupMetadataRequest{force=1} -> {success=1, message=2,
        // backup_id=3, timestamp=4}
        val r1 = call("BackupMetadata", w.bool(1, true))
        val b1 = parse(r1.messages.head)
        assert(r1.grpcStatus == 0 && bool(b1, 1) && str(b1, 3).startsWith("meta-"))
        assert(i64(sub(b1, 4).get, 1) > 0, "timestamp seconds")
        // ListBackupsRequest{days=1} -> {backups=1 repeated BackupInfo, total=2}
        val r2 = call("ListBackups", w.int32(1, 7))
        val l = parse(r2.messages.head)
        assert(r2.grpcStatus == 0 && i32(l, 2) >= 1)
        val info = subs(l, 1).find(b => str(b, 1) == "mt").get
        assert(str(info, 2) == "local" && i64(info, 4) > 0)
        assert(i64(sub(info, 5).get, 1) > 0, "last_modified")
        // mutate then restore FROM the snapshot: the pre-backup row wins
        facade.deleteData("mt", "k1")
        // dry_run counts but must not touch the store
        val dry = call("RestoreMetadata", w.string(1, "mt").bool(3, true))
        val dr = parse(dry.messages.head)
        assert(dry.grpcStatus == 0 && bool(dr, 1) && i32(dr, 4) == 1 && i32(dr, 6) == 1)
        assert(facade.queryData("SELECT id FROM mt").exists(_ == "[]"),
          "dry_run must not restore")
        val r3 = call("RestoreMetadata", w.string(1, "mt"))
        val r = parse(r3.messages.head)
        assert(r3.grpcStatus == 0 && bool(r, 1) && i32(r, 4) == 1 && i32(r, 5) == 1)
        assert(str(r, 8).endsWith("ms"), "duration")
        assert(facade.queryData("SELECT id FROM mt").exists(_.contains("k1")))
        // from_latest with nothing named restores every backed-up table
        val r4 = call("RestoreMetadata", w.bool(2, true))
        assert(r4.grpcStatus == 0 && i32(parse(r4.messages.head), 4) >= 1)
        // neither backup_file nor from_latest -> INVALID_ARGUMENT
        assert(call("RestoreMetadata", w).grpcStatus == 3)
        // GetMetadataStatus{} -> {node_id=1, backup_status=2 map,
        // last_backup=3, health_status=5}
        val r6 = call("GetMetadataStatus", w)
        val st = parse(r6.messages.head)
        assert(r6.grpcStatus == 0 && str(st, 1) == "local" && str(st, 5) == "healthy")
        val bs = subs(st, 2).map(e => str(e, 1) -> str(e, 2)).toMap
        assert(bs.get("mt").exists(_.startsWith("bytes=")))
        assert(i64(sub(st, 3).get, 1) > 0, "last_backup")
      } finally c.close()
    }
  }

  test("stream ended mid-message: records already applied are reported") {
    withServer() { (port, facade) =>
      val c = new H2TestClient(port)
      try {
        def m(id: String) = grpcFrame(w.string(2, "partial")
          .msg(1, w.string(1, id).msg(3, writeStruct(Map("v" -> 1L)))).bytes)
        // two complete messages, then a third truncated mid-frame —
        // the client half-closes anyway (a crashed writer's shape)
        val truncated = m("p3").dropRight(4)
        val r = c.call("miniodb.v1.MinIODBService", "StreamWrite",
          Seq(m("p1") ++ m("p2") ++ truncated))
        assert(r.grpcStatus == 3, s"got ${r.grpcStatus}")
        // the trailer must carry the applied count so the client can
        // reconcile the partial write
        val decoded = java.net.URLDecoder.decode(r.grpcMessage, "UTF-8")
        assert(decoded.contains("after 2 records applied"),
          s"no applied-count in '$decoded'")
        assert(facade.queryData("SELECT id FROM partial ORDER BY id")
          .exists(j => j.contains("p1") && j.contains("p2") && !j.contains("p3")))
      } finally c.close()
    }
  }

  test("a slow StreamQuery does not block HealthCheck on the same connection") {
    // dispatch work must run OFF the netty event loop: with both
    // streams multiplexed onto one connection (hence one loop), a
    // facade-blocking query on stream A stalls stream B forever if
    // dispatch runs inline. 10 s of latch headroom ≫ the async hop.
    val gate = new CountDownLatch(1)
    val entered = new CountDownLatch(1)
    val store = new TableStore(spark, tmpDir("grpcslow"))
    val facade = new ServiceFacade(store) {
      override def streamQuery(sql: String, cursor: Long,
          pageSize: Int): Either[String, (Array[String], Long)] = {
        entered.countDown()
        assert(gate.await(60, TimeUnit.SECONDS))
        super.streamQuery(sql, cursor, pageSize)
      }
    }
    val srv = new GrpcServer(facade)
    val port = srv.start()
    val c = new H2TestClient(port)
    try {
      facade.writeData("slowt", graft.ingest.DynRecord("s1",
        new java.sql.Timestamp(0L), Map("v" -> 1L)))
      val slow = c.callAsync("miniodb.v1.MinIODBService", "StreamQuery",
        Seq(grpcFrame(w.string(1, "SELECT id FROM slowt").int32(2, 10).bytes)))
      assert(entered.await(30, TimeUnit.SECONDS), "slow query never started")
      // while the slow query holds its dispatch thread, the loop must
      // still serve new streams on the SAME connection
      val health = c.call("miniodb.v1.MinIODBService", "HealthCheck", Nil)
      assert(health.grpcStatus == 0,
        "HealthCheck blocked behind a slow StreamQuery: event loop not offloaded")
      gate.countDown()
      assert(slow.done.await(60, TimeUnit.SECONDS), "slow stream never finished")
      assert(slow.grpcStatus == 0, s"slow query failed: ${slow.grpcMessage}")
    } finally { gate.countDown(); c.close(); srv.stop() }
  }

  test("long client stream: 2000 messages, flow-control credit returned") {
    withServer() { (port, _) =>
      val c = new H2TestClient(port)
      try {
        // well past the 64 KiB initial connection/stream windows — the
        // stream only completes if the server returns WINDOW_UPDATE
        // credit as it consumes; total body ≈ 2000 × ~60 B ≈ 120 KiB
        val msgs = (1 to 2000).map { i =>
          grpcFrame(w.string(2, "bulk").msg(1, w.string(1, s"r$i")
            .msg(3, writeStruct(Map("i" -> i.toLong)))).bytes)
        }
        // batch into DATA frames of ~16 KiB so frames cross the
        // window boundaries mid-stream
        val frames = msgs.grouped(200).map(_.reduce(_ ++ _)).toSeq
        val r = c.call("miniodb.v1.MinIODBService", "StreamWrite", frames)
        assert(r.grpcStatus == 0, s"grpc-message=${r.grpcMessage}")
        assert(i64(parse(r.messages.head), 2) == 2000L)
      } finally c.close()
    }
  }

  test("SerialExecutor: an ordinary task failure keeps the tail draining; a fatal error propagates") {
    val facade = new ServiceFacade(new TableStore(spark, tmpDir("serexec")))
    val srv = new GrpcServer(facade)
    srv.start()
    try {
      val serial = new srv.SerialExecutor
      val ran = new CountDownLatch(1)
      serial.execute(() => throw new RuntimeException("task bug"))
      serial.execute(() => ran.countDown())
      // the tail task after a throwing one still runs (trailers for
      // other work keep flowing), and the failure is counted, not
      // silently discarded
      assert(ran.await(5, TimeUnit.SECONDS), "tail task must drain after a failure")
      assert(srv.swallowedTaskFailures.get() == 1L)
      // a FATAL error must escape the drain (kill the pool thread),
      // never be swallowed as recoverable stream state
      val fatalSeen = new CountDownLatch(1)
      val prior = Thread.getDefaultUncaughtExceptionHandler
      Thread.setDefaultUncaughtExceptionHandler((_, e) =>
        if (e.isInstanceOf[OutOfMemoryError]) fatalSeen.countDown())
      try {
        val serial2 = new srv.SerialExecutor
        serial2.execute(() => throw new OutOfMemoryError("simulated"))
        assert(fatalSeen.await(5, TimeUnit.SECONDS),
          "fatal error must propagate out of the drain loop")
        assert(srv.swallowedTaskFailures.get() == 1L,
          "fatal errors are not 'swallowed task failures'")
      } finally Thread.setDefaultUncaughtExceptionHandler(prior)
    } finally srv.stop()
  }

  test("stop() drops late stream tasks cleanly (no NPE/rejection surfacing)") {
    val facade = new ServiceFacade(new TableStore(spark, tmpDir("latetask")))
    val srv = new GrpcServer(facade)
    srv.start()
    val serial = new srv.SerialExecutor
    srv.stop()
    // a frame arriving on a not-yet-closed stream after stop() must be
    // dropped, not throw through the netty pipeline
    serial.execute(() => fail("must not run after stop"))
    Thread.sleep(100)
    assert(srv.swallowedTaskFailures.get() == 0L)
  }
}
