package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSpec
import graft.catalog.TableStore

/** Drives the REST transport over real loopback HTTP — the routes, the
  * JSON codecs, and the bearer-auth gate, end to end against a live
  * [[ServiceFacade]]. */
class RestServerSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def send(port: Int, method: String, path: String, body: String = "",
      token: Option[String] = None): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    val req = (method match {
      case "GET" => b.GET()
      case "DELETE" if body.isEmpty => b.DELETE()
      case m => b.method(m, HttpRequest.BodyPublishers.ofString(body))
    }).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def withServer(authSecret: Option[String] = None)(
      f: (Int, ServiceFacade) => Unit): Unit = {
    val facade = new ServiceFacade(new TableStore(spark, tmpDir("rest")), authSecret)
    val srv = new RestServer(facade)
    val port = srv.start()
    try f(port, facade) finally srv.stop()
  }

  test("write → query → update → delete over HTTP") {
    withServer() { (port, _) =>
      val (wc, wb) = send(port, "POST", "/v1/data",
        """{"table":"users","record":{"id":"u1",
          |"timestamp":"2024-01-01T00:00:00Z",
          |"payload":{"name":"ann","score":9.5}}}""".stripMargin)
      assert(wc == 200 && wb.contains("\"u1\""), s"$wc $wb")
      val (qc, qb) = send(port, "POST", "/v1/query",
        """{"sql":"SELECT id, name, score FROM users"}""")
      assert(qc == 200 && qb == """[{"id":"u1","name":"ann","score":9.5}]""", s"$qc $qb")
      val (uc, ub) = send(port, "PUT", "/v1/data",
        """{"table":"users","record":{"id":"u1",
          |"timestamp":"2024-01-01 00:00:00","payload":{"name":"ann2"}}}""".stripMargin)
      assert(uc == 200 && ub.contains("\"updated\":1"), s"$uc $ub")
      val (dc, db) = send(port, "DELETE", "/v1/data?table=users&id=u1")
      assert(dc == 200 && db.contains("\"deleted\":1"), s"$dc $db")
    }
  }

  test("stream-query pages through cursors over HTTP") {
    withServer() { (port, _) =>
      (1 to 5).foreach { i =>
        send(port, "POST", "/v1/data",
          s"""{"table":"t","record":{"id":"r$i","timestamp":1704067200000,
             |"payload":{"i":$i}}}""".stripMargin)
      }
      val (c1, b1) = send(port, "POST", "/v1/stream-query",
        """{"sql":"SELECT id FROM t ORDER BY id","page_size":2}""")
      assert(c1 == 200, s"$c1 $b1")
      val cursor = """"next_cursor":(-?\d+)""".r.findFirstMatchIn(b1).get.group(1).toLong
      assert(cursor > 0 && b1.contains("\"r1\"") && b1.contains("\"r2\""))
      val (c2, b2) = send(port, "POST", "/v1/stream-query",
        s"""{"sql":"SELECT id FROM t ORDER BY id","cursor":$cursor,"page_size":2}""")
      assert(c2 == 200 && b2.contains("\"r3\"") && b2.contains("\"r4\""), s"$c2 $b2")
    }
  }

  test("table lifecycle + health + status + metrics routes") {
    withServer() { (port, _) =>
      assert(send(port, "POST", "/v1/tables",
        """{"table":"cfg","config":{"id_strategy":"custom:ord","buffer_size":99}}""")._1 == 201)
      val (gc, gb) = send(port, "GET", "/v1/tables/cfg")
      assert(gc == 200 && gb.contains("\"custom:ord\"") && gb.contains("\"buffer_size\":99"))
      val (lc, lb) = send(port, "GET", "/v1/tables")
      assert(lc == 200 && lb.contains("\"cfg\""))
      assert(send(port, "GET", "/v1/tables/absent")._1 == 404)
      assert(send(port, "DELETE", "/v1/tables/cfg")._1 == 200)
      val (hc, hb) = send(port, "GET", "/v1/health")
      assert(hc == 200 && hb.contains("\"ok\":true"))
      val (sc2, sb) = send(port, "GET", "/v1/status")
      assert(sc2 == 200 && sb.contains("\"spark_version\""))
      val (mc, mb) = send(port, "GET", "/v1/metrics")
      assert(mc == 200 && mb.contains("\"total_queries\""))
      assert(send(port, "GET", "/v1/nope")._1 == 404)
    }
  }

  test("backup/restore/metadata routes round-trip") {
    withServer() { (port, _) =>
      val dest = tmpDir("rest-backup")
      send(port, "POST", "/v1/data",
        """{"table":"b","record":{"id":"keep","timestamp":1704067200000,
          |"payload":{"v":1}}}""".stripMargin)
      val (bc, bb) = send(port, "POST", "/v1/metadata/backup",
        s"""{"table":"b","dest":"$dest"}""")
      assert(bc == 200 && bb.contains("\"files\""), s"$bc $bb")
      val (lc, lb) = send(port, "GET", s"/v1/metadata/backups?dest=$dest")
      assert(lc == 200 && lb.contains("\"b\""))
      val (sc2, sb) = send(port, "GET", s"/v1/metadata/status?dest=$dest&table=b")
      assert(sc2 == 200 && sb.contains("\"has_metadata\":true"), s"$sc2 $sb")
      send(port, "DELETE", "/v1/data?table=b&id=keep")
      val (rc, _) = send(port, "POST", "/v1/metadata/restore",
        s"""{"table":"b","from":"$dest"}""")
      assert(rc == 200)
      val (qc, qb) = send(port, "POST", "/v1/query",
        """{"sql":"SELECT count(*) AS n FROM b"}""")
      assert(qc == 200 && qb == """[{"n":1}]""", s"$qc $qb")
    }
  }

  test("bearer auth gates data routes; auth verbs issue/refresh/revoke") {
    withServer(Some("rest-secret-0123456789abcdef")) { (port, _) =>
      // no token → 401; health stays open
      assert(send(port, "GET", "/v1/tables")._1 == 401)
      assert(send(port, "GET", "/v1/health")._1 == 200)
      // the mint requires the deployment credential: no/wrong secret → 400
      assert(send(port, "POST", "/v1/auth/token",
        """{"subject":"alice"}""")._1 == 400)
      assert(send(port, "POST", "/v1/auth/token",
        """{"subject":"alice","secret":"wrong"}""")._1 == 400)
      val (tc, tb) = send(port, "POST", "/v1/auth/token",
        """{"subject":"alice","secret":"rest-secret-0123456789abcdef"}""")
      assert(tc == 200, s"$tc $tb")
      val access = """"access_token":"([^"]+)"""".r.findFirstMatchIn(tb).get.group(1)
      val refresh = """"refresh_token":"([^"]+)"""".r.findFirstMatchIn(tb).get.group(1)
      // valid token passes
      assert(send(port, "GET", "/v1/tables", token = Some(access))._1 == 200)
      // garbage token fails
      assert(send(port, "GET", "/v1/tables", token = Some("garbage"))._1 == 401)
      // refresh issues a fresh pair
      val (rc, rb) = send(port, "POST", "/v1/auth/refresh",
        s"""{"refresh_token":"$refresh"}""")
      assert(rc == 200 && rb.contains("access_token"), s"$rc $rb")
      // revoke the original access token → subsequent use fails
      assert(send(port, "DELETE", "/v1/auth/token", token = Some(access))._1 == 200)
      assert(send(port, "GET", "/v1/tables", token = Some(access))._1 == 401)
    }
  }

  test("CDC subscription over HTTP: poll → commit → empty poll (at-least-once)") {
    withServer() { (port, facade) =>
      // mutations publish UPDATE/DELETE events to the CDC log
      send(port, "POST", "/v1/data",
        """{"table":"c","record":{"id":"x","timestamp":1704067200000,
          |"payload":{"v":1}}}""".stripMargin)
      send(port, "PUT", "/v1/data",
        """{"table":"c","record":{"id":"x","timestamp":1704067200000,
          |"payload":{"v":2}}}""".stripMargin)
      send(port, "DELETE", "/v1/data?table=c&id=x")
      val (pc, pb) = send(port, "GET", "/v1/cdc/c?group=g1")
      assert(pc == 200 && pb.contains("\"UPDATE\"") && pb.contains("\"DELETE\""), s"$pc $pb")
      val hw = """"high_water":(\d+)""".r.findFirstMatchIn(pb).get.group(1).toLong
      assert(hw > 0)
      // uncommitted re-poll re-delivers (at-least-once)
      val (_, pb2) = send(port, "GET", "/v1/cdc/c?group=g1")
      assert(pb2.contains("\"UPDATE\""))
      // commit the mark → next poll is empty; another group still sees all
      assert(send(port, "POST", "/v1/cdc/c/commit",
        s"""{"group":"g1","high_water":$hw}""")._1 == 200)
      val (_, pb3) = send(port, "GET", "/v1/cdc/c?group=g1")
      assert(pb3.contains("\"events\":[]"), pb3)
      val (_, other) = send(port, "GET", "/v1/cdc/c?group=g2")
      assert(other.contains("\"UPDATE\""))
    }
  }

  test("concurrent mixed HTTP load: parallel writes and queries stay consistent") {
    withServer() { (port, facade) =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      // 24 parallel writers into two tables + interleaved queries
      val writes = (1 to 24).map { i =>
        Future {
          send(port, "POST", "/v1/data",
            s"""{"table":"c${i % 2}","record":{"id":"r$i",
               |"timestamp":1704067200000,"payload":{"i":$i}}}""".stripMargin)
        }
      }
      val queries = (1 to 8).map { _ =>
        Future { send(port, "GET", "/v1/tables") }
      }
      val all = Await.result(Future.sequence(writes ++ queries), 120.seconds)
      assert(all.forall(_._1 == 200), s"statuses: ${all.map(_._1).distinct}")
      // every acknowledged write is queryable (hybrid buffer∪storage)
      val (qc, qb) = send(port, "POST", "/v1/query",
        """{"sql":"SELECT count(*) AS n FROM c0"}""")
      val (qc1, qb1) = send(port, "POST", "/v1/query",
        """{"sql":"SELECT count(*) AS n FROM c1"}""")
      assert(qc == 200 && qc1 == 200)
      val n0 = """"n":(\d+)""".r.findFirstMatchIn(qb).get.group(1).toInt
      val n1 = """"n":(\d+)""".r.findFirstMatchIn(qb1).get.group(1).toInt
      assert(n0 + n1 == 24, s"lost writes: c0=$n0 c1=$n1")
    }
  }

  test("malformed requests are 400s with an error body, not 500s") {
    withServer() { (port, _) =>
      val (c1, b1) = send(port, "POST", "/v1/query", """{"no_sql":true}""")
      assert(c1 == 400 && b1.contains("error"), s"$c1 $b1")
      val (c2, _) = send(port, "POST", "/v1/data", "")
      assert(c2 == 400)
      val (c3, b3) = send(port, "POST", "/v1/query",
        """{"sql":"DROP TABLE users"}""")
      assert(c3 == 400 && b3.contains("error"), s"$c3 $b3") // gate rejects non-SELECT
    }
  }

  test("an exception with an empty first line is a 500 naming its class") {
    for (msg <- Seq("", "\ninternal detail")) {
      val facade = new ServiceFacade(new TableStore(spark, tmpDir("rest-empty"))) {
        override def healthCheck(): Health = throw new RuntimeException(msg)
      }
      val srv = new RestServer(facade)
      val port = srv.start()
      try {
        val (c, b) = send(port, "GET", "/v1/health")
        assert(c == 500 && b == """{"error":"RuntimeException"}""", s"$c $b")
      } finally srv.stop()
    }
  }

  test("path-traversal table names are 400s end-to-end: data, DDL, CDC") {
    withServer() { (port, _) =>
      // every storage-path derivation goes through the name validator —
      // including the CDC path (the r13 advice finding): a traversal
      // name must die as a 400 at the route, never touch the filesystem
      val (wc, wb) = send(port, "POST", "/v1/data",
        """{"table":"..","record":{"id":"x","timestamp":1704067200000,
          |"payload":{"v":1}}}""".stripMargin)
      assert(wc == 400 && wb.contains("invalid table name"), s"$wc $wb")
      val (pc, pb) = send(port, "GET", "/v1/cdc/..?group=g1")
      assert(pc == 400 && pb.contains("invalid table name"), s"$pc $pb")
      val (cc, cb) = send(port, "POST", "/v1/cdc/../commit",
        """{"group":"g1","high_water":1}""")
      assert(cc == 400 || cc == 404, s"$cc $cb") // 400 validator or 404 route
      val (tc, tb) = send(port, "POST", "/v1/tables", """{"table":"a/b"}""")
      assert(tc == 400 && tb.contains("invalid table name"), s"$tc $tb")
    }
  }

  test("distinct apiSecret mints tokens; the signing key is not a credential") {
    val facade = new ServiceFacade(new TableStore(spark, tmpDir("rest-api")),
      authSecret = Some("signing-key-0123456789abcdef"),
      apiSecret = Some("client-credential-xyz"))
    val srv = new RestServer(facade)
    val port = srv.start()
    try {
      // the client credential mints
      val (tc, tb) = send(port, "POST", "/v1/auth/token",
        """{"subject":"alice","secret":"client-credential-xyz"}""")
      assert(tc == 200, s"$tc $tb")
      // the SIGNING key is no longer accepted as a mint credential —
      // clients never need to hold it, so it never leaves the server
      assert(send(port, "POST", "/v1/auth/token",
        """{"subject":"alice","secret":"signing-key-0123456789abcdef"}""")._1 == 400)
    } finally srv.stop()
  }
}
