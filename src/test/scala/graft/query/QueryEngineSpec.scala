package graft.query

import java.sql.Timestamp

import graft.SparkSpec
import graft.catalog.TableStore
import graft.ingest.DynRecord

class QueryEngineSpec extends SparkSpec {

  private def rec(id: String, ts: String, payload: Map[String, Any]) =
    DynRecord(id, Timestamp.valueOf(ts), payload)

  private def freshEngine(): (TableStore, QueryEngine) = {
    val store = new TableStore(spark, tmpDir("qe"))
    store.write("users", Seq(
      rec("u1", "2024-01-01 10:00:00", Map("name" -> "ann", "age" -> 31)),
      rec("u2", "2024-01-02 11:00:00", Map("name" -> "bob", "age" -> 25)),
      rec("u3", "2024-01-03 12:00:00", Map("name" -> "cat", "age" -> 40))))
    store.flush("users")
    store.write("orders", Seq(
      rec("o1", "2024-01-05 00:00:00", Map("user_id" -> "u1", "amount" -> 10.5)),
      rec("o2", "2024-01-05 00:00:01", Map("user_id" -> "u1", "amount" -> 4.5)),
      rec("o3", "2024-01-06 00:00:02", Map("user_id" -> "u2", "amount" -> 7.0))))
    store.flush("orders")
    (store, new QueryEngine(store))
  }

  test("gate: accepts SELECT and CTE, rejects DDL/DML/multi-statement") {
    assert(SqlGate.validate(spark, "SELECT 1").isRight)
    assert(SqlGate.validate(spark, "WITH x AS (SELECT 1 AS a) SELECT * FROM x").isRight)
    assert(SqlGate.validate(spark, "DROP TABLE users").isLeft)
    assert(SqlGate.validate(spark, "INSERT INTO users VALUES (1)").isLeft)
    assert(SqlGate.validate(spark, "CREATE TABLE t (a INT) USING parquet").isLeft)
    assert(SqlGate.validate(spark, "UPDATE users SET a = 1").isLeft)
    assert(SqlGate.validate(spark, "DELETE FROM users WHERE a = 1").isLeft)
    assert(SqlGate.validate(spark, "SELECT 1; DROP TABLE users").isLeft)
    assert(SqlGate.validate(spark, "x" * 10001).isLeft)
    assert(SqlGate.validate(spark, "").isLeft)
  }

  test("gate: arbitrary-static-call and key-accessor functions are rejected") {
    // reflect/java_method invoke arbitrary static Java methods — an env/
    // system-property disclosure from plain SELECT
    assert(SqlGate.validate(spark,
      "SELECT reflect('java.lang.System','getenv','PATH')").isLeft)
    assert(SqlGate.validate(spark,
      "SELECT java_method('java.lang.System','getProperty','user.dir')").isLeft)
    // also inside CTE bodies, subqueries, and mixed case
    assert(SqlGate.validate(spark,
      "WITH x AS (SELECT REFLECT('a','b') AS v) SELECT * FROM x").isLeft)
    assert(SqlGate.validate(spark,
      "SELECT 1 WHERE (SELECT reflect('a','b')) IS NOT NULL").isLeft)
    assert(SqlGate.validate(spark, "SELECT graft_secret_key(1)").isLeft)
    // similarly-named columns/tables are NOT blocked — only invocations
    assert(SqlGate.validate(spark, "SELECT reflect FROM users").isRight)
  }

  test("gate: datasource-on-file escapes are rejected (qualified names)") {
    // SELECT-only is not enough: runSQLOnFiles would read arbitrary paths
    assert(SqlGate.validate(spark, "SELECT * FROM text.`/etc/passwd`").isLeft)
    assert(SqlGate.validate(spark, "SELECT * FROM parquet.`/any/path`").isLeft)
    assert(SqlGate.validate(spark, "SELECT * FROM db.tbl").isLeft) // flat namespace
    // nested/subquery positions are caught too
    assert(SqlGate.validate(spark,
      "SELECT 1 WHERE EXISTS (SELECT 1 FROM json.`/tmp/x`)").isLeft)
    assert(SqlGate.validate(spark,
      "WITH c AS (SELECT * FROM text.`/etc/hosts`) SELECT * FROM c").isLeft)
    // the session-level second line of defense
    assert(spark.conf.get("spark.sql.runSQLOnFiles") == "false")
  }

  test("gate: extracts exactly the referenced relations (CTE names substituted)") {
    val g = SqlGate.validate(spark,
      "WITH t AS (SELECT * FROM users) SELECT * FROM t JOIN orders ON 1=1").toOption.get
    assert(g.tables.toSet == Set("users", "orders"))
  }

  test("CTE substitution and table binding answer like SQL over the tables") {
    val (_, engine) = freshEngine()
    val cases = Seq(
      // a CTE shadowing a real table: top level, nested query, later CTE,
      // IN (…) subquery
      "WITH users AS (SELECT 1 AS x) SELECT count(*) AS n FROM users" ->
        """[{"n":1}]""",
      """SELECT count(*) AS n FROM (WITH orders AS (SELECT 1 AS x) SELECT x FROM orders) q
        |JOIN users ON 1=1""".stripMargin -> """[{"n":3}]""",
      """WITH a AS (SELECT id FROM users), users AS (SELECT id FROM a WHERE id = 'u1')
        |SELECT count(*) AS n FROM users""".stripMargin -> """[{"n":1}]""",
      """SELECT count(*) AS n FROM users
        |WHERE id IN (WITH users AS (SELECT 'u2' AS id) SELECT id FROM users)""".stripMargin ->
        """[{"n":1}]""",
      // a CTE over a real table, and a correlated subquery
      "WITH big AS (SELECT * FROM orders WHERE amount > 5) SELECT count(*) AS n FROM big" ->
        """[{"n":2}]""",
      """SELECT name FROM users u
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.user_id = u.id) ORDER BY name""".stripMargin ->
        """[{"name":"ann"},{"name":"bob"}]""",
      // self-join, UNION ALL, join with an aggregate
      "SELECT count(*) AS n FROM users a JOIN users b ON a.id < b.id" -> """[{"n":3}]""",
      "SELECT id FROM users UNION ALL SELECT id FROM orders ORDER BY id" ->
        """[{"id":"o1"},{"id":"o2"},{"id":"o3"},{"id":"u1"},{"id":"u2"},{"id":"u3"}]""",
      """SELECT u.name, SUM(o.amount) AS total FROM users u JOIN orders o ON u.id = o.user_id
        |GROUP BY u.name ORDER BY total DESC""".stripMargin ->
        """[{"name":"ann","total":15.0},{"name":"bob","total":7.0}]""",
      // flat and payload-qualified fields, a mixed-case name, a re-aliased
      // subquery
      "SELECT name FROM users WHERE age > 30 ORDER BY name" ->
        """[{"name":"ann"},{"name":"cat"}]""",
      "SELECT u.payload.name AS name FROM users u WHERE u.payload.age < 30" ->
        """[{"name":"bob"}]""",
      "SELECT count(*) AS n FROM Users" -> """[{"n":3}]""",
      "SELECT s.name FROM (SELECT name, age FROM users) s WHERE s.age > 35" ->
        """[{"name":"cat"}]""")
    cases.foreach { case (sql, want) =>
      assert(engine.executeJson(sql, useCache = false) == Right(want), sql)
    }
  }

  test("queries leave the session catalog unchanged") {
    val store = new TableStore(spark, tmpDir("qe"))
    store.write("catalog_probe", Seq(
      rec("p1", "2024-01-01 10:00:00", Map("v" -> 1)),
      rec("p2", "2024-01-02 10:00:00", Map("v" -> 2))))
    store.flush("catalog_probe")
    val engine = new QueryEngine(store)
    def views = spark.catalog.listTables().collect().map(_.name).toSet
    val before = views
    (1 to 100).foreach { i =>
      if (i % 10 == 0)
        assert(engine.executePage("SELECT id FROM catalog_probe ORDER BY id", 0, 1).isRight)
      else
        assert(engine.executeJson(s"SELECT count(*) + $i AS n FROM catalog_probe").isRight)
    }
    assert(views == before)
  }

  test("a request parses its SQL once (the gate's parse)") {
    val (_, engine) = freshEngine()
    val phases = engine.query("SELECT count(*) AS n FROM users").toOption.get
      .df.queryExecution.tracker.phases
    import org.apache.spark.sql.catalyst.QueryPlanningTracker.{ANALYSIS, PARSING}
    assert(phases.contains(ANALYSIS) && !phases.contains(PARSING), phases.keySet)
  }

  test("nonexistent table fails with analysis error instead of empty result") {
    val (_, engine) = freshEngine()
    val r = engine.executeJson("SELECT id FROM tabel_typo")
    assert(r.isLeft && r.left.toOption.get.contains("analysis error"))
  }

  test("real table shadowed by a nested CTE is still registered and invalidated") {
    val (store, engine) = freshEngine()
    val sql =
      """SELECT * FROM (WITH orders AS (SELECT 1 AS x) SELECT x FROM orders) t
        |JOIN users ON 1=1 ORDER BY users.id LIMIT 1""".stripMargin
    val r1 = engine.query(sql).toOption.get
    assert(r1.tables.contains("users"))
    assert(r1.df.count() == 1)
  }

  test("join + aggregate over dynamic tables through SQL") {
    val (_, engine) = freshEngine()
    val res = engine.query(
      """SELECT u.name, SUM(o.amount) AS total
        |FROM users u JOIN orders o ON u.id = o.user_id
        |GROUP BY u.name ORDER BY total DESC""".stripMargin).toOption.get
    val rows = res.df.collect()
    assert(rows.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("ann", 15.0), ("bob", 7.0)))
  }

  test("limit injection") {
    val (_, engine) = freshEngine()
    val res = engine.query("SELECT * FROM users", limit = 2).toOption.get
    assert(res.df.count() == 2)
  }

  test("json results + result cache hit + invalidation on write") {
    val (store, engine) = freshEngine()
    val sql = "SELECT count(*) AS n FROM users"
    val r1 = engine.executeJson(sql).toOption.get
    assert(r1 == """[{"n":3}]""")
    val (h0, m0, _, _) = engine.cacheStats
    val r2 = engine.executeJson(sql).toOption.get
    val (h1, _, _, _) = engine.cacheStats
    assert(r2 == r1 && h1 == h0 + 1) // cache hit
    store.write("users", Seq(rec("u4", "2024-01-04 00:00:00", Map("name" -> "dan"))))
    val r3 = engine.executeJson(sql).toOption.get
    assert(r3 == """[{"n":4}]""") // invalidated by version bump (incl. buffer rows)
  }

  test("hybrid query sees unflushed rows") {
    val (store, engine) = freshEngine()
    store.write("users", Seq(rec("u9", "2024-01-09 00:00:00", Map("name" -> "eve"))))
    val res = engine.executeJson("SELECT count(*) AS n FROM users", useCache = false)
    assert(res.toOption.get == """[{"n":4}]""")
  }

  test("dropped table does not serve stale temp-view data") {
    val (store, engine) = freshEngine()
    assert(engine.executeJson("SELECT count(*) AS n FROM users", useCache = false)
      .toOption.get == """[{"n":3}]""")
    store.dropTable("users")
    val r = engine.executeJson("SELECT count(*) AS n FROM users", useCache = false)
    assert(r.isLeft, s"expected analysis error after drop, got $r")
  }

  test("cache hit does not re-plan (no view registration on hit)") {
    val (_, engine) = freshEngine()
    val sql = "SELECT count(*) AS n FROM orders"
    engine.executeJson(sql)
    val (h0, _, _, _) = engine.cacheStats
    val t0 = System.nanoTime()
    engine.executeJson(sql)
    val hitNs = System.nanoTime() - t0
    val (h1, _, _, _) = engine.cacheStats
    assert(h1 == h0 + 1)
    // planning + execution costs ≥1s on this table; a hit must be far
    // below that (generous bound so external machine load can't flake it)
    assert(hitNs < 800e6, s"cache hit took ${hitNs / 1e6}ms — planning on hit?")
  }

  test("cursor pagination") {
    val (_, engine) = freshEngine()
    val sql = "SELECT id FROM users ORDER BY id"
    val Right((page1, c1)) = engine.executePage(sql, 0, 2): @unchecked
    assert(page1.length == 2 && c1 > 0) // opaque cursor: sid<<32 | offset
    val Right((page2, c2)) = engine.executePage(sql, c1, 2): @unchecked
    assert(page2.length == 1 && c2 == -1L)
  }

  test("concurrent streams over the same SQL page independent snapshots") {
    val (_, engine) = freshEngine()
    val sql = "SELECT id FROM users ORDER BY id"
    // client A opens a stream, then client B opens a second stream with
    // the IDENTICAL SQL — A's later cursors must keep paging A's snapshot
    val Right((pa1, ca1)) = engine.executePage(sql, 0, 1): @unchecked
    val Right((pb1, cb1)) = engine.executePage(sql, 0, 1): @unchecked
    assert(ca1 != cb1, "two streams must get distinct opaque cursors")
    val Right((pa2, _)) = engine.executePage(sql, ca1, 1): @unchecked
    val Right((pb2, _)) = engine.executePage(sql, cb1, 1): @unchecked
    assert(pa1.sameElements(pb1) && pa2.sameElements(pb2))
    assert(!pa2.sameElements(pa1), "page 2 must advance past page 1")
  }

  test("huge/negative page sizes cannot overflow the cursor arithmetic") {
    val (_, engine) = freshEngine()
    val sql = "SELECT id FROM users ORDER BY id"
    val Right((p1, c1)) = engine.executePage(sql, 0, 1): @unchecked
    assert(p1.length == 1 && c1 > 0)
    // Int.MaxValue page size from a live cursor: must end the stream
    // cleanly (-1), not wrap negative past the end-of-stream check
    val Right((rest, c2)) = engine.executePage(sql, c1, Int.MaxValue): @unchecked
    assert(rest.length == 2 && c2 == -1L, s"got ${rest.length} rows, cursor $c2")
    // non-positive page size is clamped, not an infinite zero-row loop
    val Right((p3, c3)) = engine.executePage(sql, 0, 0): @unchecked
    assert(p3.length == 1 && c3 > 0)
    // a forged cursor with offset bits sign-extending negative is rejected
    val forged = (1L << 32) | 0x80000000L
    assert(engine.executePage(sql, forged, 1).isLeft)
  }

  test("an evicted/unknown stream cursor fails explicitly, not by re-executing") {
    val (_, engine) = freshEngine()
    // a cursor carrying a stream id that was never allocated
    val bogus = (1234567L << 32) | 1L
    val res = engine.executePage("SELECT id FROM users ORDER BY id", bogus, 2)
    assert(res.isLeft && res.swap.exists(_.contains("expired")), s"got $res")
  }

  test("pagination executes the query once (later pages run zero jobs)") {
    val (_, engine) = freshEngine()
    val sql = "SELECT id FROM users ORDER BY id"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val Right((p1, c1)) = engine.executePage(sql, 0, 1): @unchecked
    assert(p1.length == 1)
    Thread.sleep(500) // drain in-flight listener events from page 1
    spark.sparkContext.addSparkListener(listener)
    try {
      val Right((p2, c2)) = engine.executePage(sql, c1, 1): @unchecked
      val Right((p3, _)) = engine.executePage(sql, c2, 1): @unchecked
      assert(p2.length == 1 && p3.length == 1)
      Thread.sleep(500) // let any (unexpected) job events surface
      assert(jobs.get() == 0, s"later pages ran ${jobs.get()} Spark jobs — re-execution")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("stream snapshots evict by BYTES (least-recently-paged first)") {
    val store = new TableStore(spark, tmpDir("qe"))
    store.write("users", (1 to 6).map(i =>
      rec(s"u$i", "2024-01-01 10:00:00", Map("pad" -> ("x" * 2000)))))
    store.flush("users")
    // budget fits ~2 wide snapshots (each ~6 rows × ~2k chars × 2 B/char
    // ≈ 25 KB) but nowhere near the old 16-entry count bound
    val engine = new QueryEngine(store, maxStreamBytes = 60_000L)
    val sql = "SELECT id, pad FROM users ORDER BY id"
    val Right((pa, ca)) = engine.executePage(sql, 0, 1): @unchecked
    assert(pa.length == 1 && ca > 0)
    // two more wide streams push total bytes over budget → A (least
    // recently paged) is evicted even though only 3 streams are live
    val Right((_, cb)) = engine.executePage(sql, 0, 1): @unchecked
    val Right((_, cc)) = engine.executePage(sql, 0, 1): @unchecked
    val resA = engine.executePage(sql, ca, 1)
    assert(resA.isLeft && resA.swap.exists(_.contains("expired")),
      s"byte-evicted stream must fail explicitly, got $resA")
    // the surviving streams still page their original snapshots
    assert(engine.executePage(sql, cb, 1).isRight)
    assert(engine.executePage(sql, cc, 1).isRight)
  }

  test("over-budget snapshot spills to disk and pages end-to-end with bounded heap") {
    val store = new TableStore(spark, tmpDir("qe"))
    store.write("users", (1 to 6).map(i =>
      rec(s"u$i", "2024-01-01 10:00:00", Map("pad" -> ("x" * 2000)))))
    store.flush("users")
    val sql = "SELECT id, pad FROM users ORDER BY id"
    // budget of 1 KB; the snapshot is ~12 KB of JSON → must spill, and
    // the accounted heap cost must be the offset index, not the payload
    val tiny = new QueryEngine(store,
      cache = new ResultCache(), maxStreamBytes = 1000L)
    val Right((p1, c1)) = tiny.executePage(sql, 0, 100): @unchecked
    // per-page byte cap: each ~4 KB-JSON row alone exceeds the 1 KB
    // budget, so a 100-row page request still returns one row at a time
    assert(p1.length == 1, s"page of ${p1.length} rows ignored the byte cap")
    assert(tiny.accountedStreamBytes <= 7 * 8,
      s"disk snapshot accounted ${tiny.accountedStreamBytes} heap bytes")
    var cursor = c1
    val got = scala.collection.mutable.ArrayBuffer[String](p1: _*)
    while (cursor != -1L) {
      val Right((p, c)) = tiny.executePage(sql, cursor, 100): @unchecked
      got ++= p; cursor = c
    }
    assert(got.length == 6, s"paged ${got.length} of 6 rows")
    assert((1 to 6).forall(i => got(i - 1).contains(s"u$i")),
      "disk pages must preserve snapshot order")
  }

  test("sid collision returns the replaced snapshot's bytes and disk file") {
    val store = new TableStore(spark, tmpDir("qe"))
    store.write("users", (1 to 6).map(i =>
      rec(s"u$i", "2024-01-01 10:00:00", Map("pad" -> ("x" * 2000)))))
    store.flush("users")
    val sql = "SELECT id, pad FROM users ORDER BY id"
    val engine = new QueryEngine(store,
      cache = new ResultCache(), maxStreamBytes = 60_000L)
    val Right(_) = engine.executePage(sql, 0, 1): @unchecked
    val oneSnapshot = engine.accountedStreamBytes
    assert(oneSnapshot > 0)
    // wind the allocator back so the next open reuses sid 1
    engine.nextStreamId.set(0)
    val Right(_) = engine.executePage(sql, 0, 1): @unchecked
    assert(engine.accountedStreamBytes == oneSnapshot,
      s"collision leaked: ${engine.accountedStreamBytes} != $oneSnapshot")

    // same for a DISK snapshot: replacement must delete the spill file
    def spillFiles = Option(new java.io.File(
      System.getProperty("java.io.tmpdir")).listFiles()).get
      .count(_.getName.startsWith("graft-stream-"))
    val tiny = new QueryEngine(store,
      cache = new ResultCache(), maxStreamBytes = 1000L)
    val before = spillFiles
    val Right(_) = tiny.executePage(sql, 0, 1): @unchecked
    assert(spillFiles == before + 1, "over-budget open must create a spill file")
    tiny.nextStreamId.set(0)
    val Right(_) = tiny.executePage(sql, 0, 1): @unchecked
    assert(spillFiles == before + 1, "replaced disk snapshot must delete its file")
  }

  test("unlimited executeJson is server-side capped") {
    val (_, engine) = freshEngine()
    // DefaultLimit rows at most; with 3 users this just checks the path
    val Right(json) = engine.executeJson("SELECT id FROM users"): @unchecked
    assert(json.startsWith("[") && json.split("\\},\\{").length <= engine.DefaultLimit)
  }
}
