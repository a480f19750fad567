package graft.serve

import java.sql.Timestamp

import org.apache.spark.TestListenerBus

import graft.SparkSpec
import graft.catalog.TableStore
import graft.ingest.{DynRecord, IdStrategy, TableConfig}

class ServiceFacadeSpec extends SparkSpec {

  private def rec(id: String, payload: Map[String, Any]) =
    DynRecord(id, Timestamp.valueOf("2024-01-01 00:00:00"), payload)

  test("write/query/update/delete service loop") {
    val svc = new ServiceFacade(new TableStore(spark, tmpDir("svc")))
    val w = svc.writeData("users", rec("u1", Map("name" -> "ann")))
    assert(w.id == "u1")
    // generated id when blank
    val w2 = svc.writeData("users", rec("", Map("name" -> "gen")))
    assert(w2.id.nonEmpty && w2.id != "u1")
    assert(svc.queryData("SELECT count(*) AS n FROM users").toOption.get == """[{"n":2}]""")
    assert(svc.updateData("users", rec("u1", Map("name" -> "ann2"))) == 1)
    assert(svc.queryData("SELECT name FROM users WHERE id = 'u1'", 0)
      .toOption.get.contains("ann2"))
    assert(svc.deleteData("users", "u1") == 1)
    val m = svc.metrics()
    assert(m.totalQueries == 2 && m.totalWrites >= 2 && m.failedQueries == 0)
  }

  test("id strategies: custom prefix and validation") {
    val store = new TableStore(spark, tmpDir("svc2"))
    store.createTable("t", TableConfig(idStrategy = IdStrategy.CustomPrefix("ord")))
    val svc = new ServiceFacade(store)
    val w = svc.writeData("t", rec("", Map("v" -> 1)))
    assert(w.id.startsWith("ord-"))
    intercept[IllegalArgumentException] {
      svc.writeData("t", rec("bad id with spaces!", Map("v" -> 2)))
    }
  }

  test("stream query pagination") {
    val svc = new ServiceFacade(new TableStore(spark, tmpDir("svc3")))
    (1 to 5).foreach(i => svc.writeData("t", rec(s"r$i", Map("i" -> i))))
    val Right((p1, c1)) = svc.streamQuery("SELECT id FROM t ORDER BY id", 0, 2): @unchecked
    val Right((p2, c2)) = svc.streamQuery("SELECT id FROM t ORDER BY id", c1, 2): @unchecked
    val Right((p3, c3)) = svc.streamQuery("SELECT id FROM t ORDER BY id", c2, 2): @unchecked
    assert(p1.length == 2 && p2.length == 2 && p3.length == 1 && c3 == -1)
  }

  test("audit trail: every mutation attempt logged with success/failure") {
    val auditFile = tmpDir("svc-audit") + "/audit.jsonl"
    val store = new TableStore(spark, tmpDir("svc-a"))
    store.createTable("t", TableConfig(idStrategy = IdStrategy.CustomPrefix("ord")))
    val svc = new ServiceFacade(store, auditPath = Some(auditFile))
    assert(svc.auditEnabled)
    val w = svc.writeData("t", rec("", Map("v" -> 1))) // generated id
    svc.updateData("t", rec(w.id, Map("v" -> 2)))
    svc.deleteData("t", w.id)
    // a DENIED write (invalid id) must appear too — the entry class
    // the CDC log structurally cannot carry
    intercept[IllegalArgumentException] {
      svc.writeData("t", rec("bad id!", Map("v" -> 3)))
    }
    val dest = tmpDir("svc-a-backup")
    svc.writeData("t", rec("keep", Map("v" -> 4)))
    svc.backup("t", dest)
    svc.restore("t", dest)
    intercept[IllegalArgumentException] { svc.restore("t", tmpDir("svc-a-empty")) }

    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(auditFile)).toArray.map(_.toString)
    def field(line: String, k: String): String =
      s""""$k":"([^"]*)"""".r.findFirstMatchIn(line).map(_.group(1)).getOrElse("")
    val acts = lines.map(l =>
      (field(l, "action"), l.contains(""""success":true""")))
    assert(acts.toSeq === Seq(
      "write" -> true, "update" -> true,
      "delete" -> true, "write" -> false, "write" -> true,
      "backup" -> true, "restore" -> true, "restore" -> false))
    // the generated id is traceable from the trail alone
    assert(field(lines(0), "record_id") === w.id)
    // failures carry the error text
    assert(field(lines(3), "error").contains("invalid id"))
    assert(lines.forall(l => l.contains(""""timestamp":""") &&
      l.contains(""""duration_ms":""")))
    // and a facade WITHOUT an audit path writes nothing anywhere
    val svc2 = new ServiceFacade(new TableStore(spark, tmpDir("svc-b")))
    assert(!svc2.auditEnabled)
  }

  test("backup and restore round-trip") {
    val svc = new ServiceFacade(new TableStore(spark, tmpDir("svc4")))
    val dest = tmpDir("svc4-backup")
    svc.writeData("t", rec("keep", Map("v" -> 1)))
    assert(svc.backup("t", dest) > 0)
    // destructive change, then restore
    svc.deleteData("t", "keep")
    assert(svc.queryData("SELECT count(*) AS n FROM t").toOption.get == """[{"n":0}]""")
    svc.restore("t", dest)
    assert(svc.queryData("SELECT count(*) AS n FROM t").toOption.get == """[{"n":1}]""")
  }

  test("backup carries table metadata; listing and status verbs work") {
    import graft.ingest.{IdStrategy, TableConfig}
    val svc = new ServiceFacade(new TableStore(spark, tmpDir("svc5")))
    val dest = tmpDir("svc5-backup")
    val cfg = TableConfig(retentionDays = 42,
      idStrategy = IdStrategy.CustomPrefix("ord"), idPattern = Some("^ord.*"))
    svc.createTable("t", cfg)
    svc.writeData("t", rec("", Map("v" -> 1)))
    assert(svc.backup("t", dest) > 0)
    assert(svc.listBackups(dest) == Seq("t"))
    val st = svc.backupStatus(dest, "t")
    assert(st.exists(s => s.files > 0 && s.bytes > 0 && s.hasMetadata))
    assert(svc.backupStatus(dest, "ghost").isEmpty)
    // restore into a FRESH service: config comes back from the backup
    val svc2 = new ServiceFacade(new TableStore(spark, tmpDir("svc5b")))
    svc2.restore("t", dest)
    val restored = svc2.getTable("t")
    assert(restored.contains(cfg), s"config not restored: $restored")
  }

  test("legacy 'FROM table' resolves to the configured default table") {
    val store = new TableStore(spark, tmpDir("svc7"))
    val svc = new ServiceFacade(store, defaultTable = Some("main_data"))
    svc.writeData("main_data", rec("a", Map("v" -> 1)))
    store.flush("main_data")
    assert(svc.queryData("SELECT count(*) AS n FROM table").toOption.get == """[{"n":1}]""")
    // mutation of the default table invalidates the alias-query cache
    svc.writeData("main_data", rec("b", Map("v" -> 2)))
    store.flush("main_data")
    assert(svc.queryData("SELECT count(*) AS n FROM table").toOption.get == """[{"n":2}]""")
    // a REAL table named 'table' wins over the alias
    store.write("table", Seq(rec("x", Map("v" -> 0)),
      rec("y", Map("v" -> 0)), rec("z", Map("v" -> 0))))
    store.flush("table")
    assert(svc.queryData("SELECT count(*) AS n FROM table").toOption.get == """[{"n":3}]""",
      "real table named 'table' must shadow the alias")
    store.dropTable("table")
    // a mixed-case default is canonicalized like every other table name
    val mixed = new ServiceFacade(store, defaultTable = Some("Main_Data"))
    assert(mixed.queryData("SELECT count(*) AS n FROM table") == Right("""[{"n":2}]"""))
  }

  test("getStatus reports liveness and topology") {
    val svc = new ServiceFacade(new TableStore(spark, tmpDir("svc8")))
    svc.createTable("t")
    val st = svc.getStatus()
    assert(st.ok && st.tables == Seq("t") && st.sparkVersion.nonEmpty
      && st.defaultParallelism > 0 && st.uptimeMs >= 0)
  }

  test("restore discards pre-restore un-flushed rows (replaces, not merges)") {
    val store = new TableStore(spark, tmpDir("svc6"))
    val svc = new ServiceFacade(store)
    val dest = tmpDir("svc6-backup")
    svc.createTable("t", graft.ingest.TableConfig(
      bufferSize = 1000, flushIntervalMs = Long.MaxValue))
    svc.writeData("t", rec("keep", Map("v" -> 1)))
    svc.backup("t", dest) // flushes 'keep'
    // buffered-only row after the backup — restore must NOT resurrect it
    svc.writeData("t", rec("stale", Map("v" -> 2)))
    svc.restore("t", dest)
    val ids = store.read("t").collect().map(_.getAs[String]("id")).toSeq
    assert(ids == Seq("keep"), s"restore merged stale buffered rows: $ids")
    store.flush("t") // later flush must also add nothing
    assert(store.read("t").count() == 1)
  }

  test("table lifecycle + health") {
    val svc = new ServiceFacade(new TableStore(spark, tmpDir("svc5")))
    svc.createTable("a"); svc.createTable("b")
    assert(svc.listTables() == Seq("a", "b"))
    assert(svc.getTable("a").isDefined)
    svc.deleteTable("a")
    assert(svc.listTables() == Seq("b"))
    assert(svc.healthCheck().ok)
  }

  test("table names are case-insensitive at the service boundary") {
    val store = new graft.catalog.TableStore(spark, tmpDir("svc-case"))
    val svc = new ServiceFacade(store)
    // created as "Events", written as "EVENTS", queried lowercase —
    // SQL identifiers are case-insensitive, so the facade canonicalizes
    svc.createTable("Events")
    svc.writeData("EVENTS", graft.ingest.DynRecord("e1",
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Map("v" -> 1)))
    store.flush("events")
    assert(svc.listTables() == Seq("events"))
    assert(svc.getTable("eVeNtS").isDefined)
    val res = svc.queryData("SELECT id FROM Events")
    assert(res.exists(_.contains("e1")), s"mixed-case query failed: $res")
    assert(svc.deleteData("Events", "e1") == 1)
  }

  test("pollEvents pages CdcConsumer.poll's rows in one job and pins no blocks") {
    import graft.streaming.{CdcConsumer, CdcLog}
    val store = new TableStore(spark, tmpDir("svc-poll"))
    val svc = new ServiceFacade(store)
    val ts = Timestamp.valueOf("2024-01-01 00:00:00")
    CdcLog.append(store, "c", "INSERT", Seq("e1" -> ts, "e2" -> ts))
    CdcLog.append(store, "c", "DELETE", Seq("e3" -> (null: Timestamp)))
    (4 to 9).foreach(i => CdcLog.append(store, "c", "UPDATE", Seq(s"e$i" -> ts)))
    val ref = new CdcConsumer(store, "c", "ref").poll()
    val expected = ref.toJSON.collect().toSeq
    val marks = ref.collect().map(r => CdcLog.toMicros(r.getAs[Timestamp]("emitted_at")))
    assert(expected.size == 9)
    assert(expected(2).contains("DELETE") && !expected(2).contains("\"timestamp\""))

    var polled: (Array[String], Long) = null
    val jobs = TestListenerBus.jobsOf(spark.sparkContext) { polled = svc.pollEvents("c", "g", 4) }
    assert(jobs == 1, s"one poll ran $jobs Spark jobs")
    val (page, mark) = polled
    assert(page.toSeq == expected.take(4))
    assert(mark == marks(3))

    val sc = spark.sparkContext
    val lastRdd = sc.parallelize(Seq(0), 1).id
    val delivered = (1 to 20).flatMap { _ =>
      val (p, hw) = svc.pollEvents("c", "g2", 2)
      svc.commitEvents("c", "g2", hw)
      p
    }
    assert(delivered == expected)
    val pinned = sc.getPersistentRDDs.keys.filter(_ > lastRdd)
    assert(pinned.isEmpty, s"20 polls left ${pinned.size} RDDs pinned")
  }
}
