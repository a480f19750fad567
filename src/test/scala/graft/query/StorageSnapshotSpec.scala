package graft.query

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.catalog.TableStore
import graft.ingest.{DynRecord, TableConfig}
import graft.maintain.Compaction
import graft.mutate.Mutations
import graft.serve.ServiceFacade
import graft.streaming.StreamingIngest

/** The store's version-keyed storage snapshot: a query miss at an
  * unchanged table version reuses the resolved storage relation (no
  * listing), no miss runs a schema-merge footer job, and every storage
  * change is seen by the next query. */
class StorageSnapshotSpec extends SparkSpec {

  private def rec(id: String, ts: String, payload: Map[String, Any]) =
    DynRecord(id, Timestamp.from(java.time.Instant.parse(ts.replace(' ', 'T') + "Z")), payload)

  private def jobsOf(f: => Any): Int = TestListenerBus.jobsOf(spark.sparkContext)(f)

  private def fileIndex(engine: QueryEngine, sql: String): FileIndex =
    engine.query(sql).toOption.get.df.queryExecution.optimizedPlan.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation].location
    }.get

  private def ids(json: Either[String, String]): Seq[String] = {
    assert(json.isRight, s"query failed: $json")
    "\"id\":\"([^\"]+)\"".r.findAllMatchIn(json.toOption.get).map(_.group(1)).toSeq
  }

  test("misses share one file index and run no footer job") {
    val store = new TableStore(spark, tmpDir("snap"))
    store.write("t", (0 until 20).map(i =>
      rec(s"r$i", f"2024-01-${i % 5 + 1}%02d 10:00:00", Map("v" -> i))))
    store.flush("t")
    val engine = new QueryEngine(store)
    val first = jobsOf(engine.executeJson("SELECT COUNT(*) AS n FROM t WHERE v >= 0"))
    val second = jobsOf(engine.executeJson("SELECT COUNT(*) AS n FROM t WHERE v >= 1"))
    // the flush cached the footers it wrote: the first miss builds the
    // snapshot's schema from them, with no schema-merge job
    assert(first == second,
      s"first miss ran $first jobs, second $second: the snapshot must run no footer job")
    val a = fileIndex(engine, "SELECT id FROM t")
    assert(fileIndex(engine, "SELECT v FROM t") eq a)
    store.write("t", Seq(rec("new", "2024-01-09 10:00:00", Map("v" -> 99))))
    store.flush("t")
    assert(!(fileIndex(engine, "SELECT id FROM t") eq a), "a version bump must relist")
  }

  test("every storage change is seen by the next new query text") {
    val root = tmpDir("snap-chg")
    val store = new TableStore(spark, root)
    val facade = new ServiceFacade(store)
    val engine = facade.engine
    store.createTable("t", TableConfig(retentionDays = 30))
    var model = Set[String]() // ids the table holds
    var step = 0
    def check(what: String): Unit = {
      step += 1
      val got = ids(engine.executeJson(s"SELECT id FROM t WHERE $step = $step ORDER BY id"))
      assert(got == model.toSeq.sorted, s"after $what")
    }
    def write(rs: DynRecord*): Unit = {
      rs.foreach(r => facade.writeData("t", r))
      model ++= rs.map(_.id)
    }

    write(rec("a", "2024-01-01 10:00:00", Map("v" -> 1)),
      rec("b", "2024-01-02 10:00:00", Map("v" -> 2)),
      rec("old", "2023-01-01 10:00:00", Map("v" -> 0)))
    check("buffered writes")
    store.flush("t")
    check("flush")
    write(rec("c", "2024-01-02 12:00:00", Map("v" -> 3)))
    store.flush("t")
    check("second flush")
    facade.updateData("t", rec("a", "2024-01-03 10:00:00", Map("v" -> 10)))
    check("update")
    assert(engine.executeJson("SELECT v FROM t WHERE id = 'a'") == Right("""[{"v":10.0}]"""))
    facade.deleteData("t", "b")
    model -= "b"
    check("delete")
    new Compaction(store, minFiles = 1).compact("t")
    check("compaction")
    new Mutations(store).applyRetention("t", java.time.LocalDate.parse("2024-01-10"))
    model -= "old"
    check("retention")

    val backup = tmpDir("snap-bak")
    facade.backup("t", backup)
    write(rec("d", "2024-01-04 10:00:00", Map("v" -> 4)))
    store.flush("t")
    check("flush before restore")
    facade.restore("t", backup)
    model -= "d"
    check("restore")

    write(rec("s", "2024-01-05 10:00:00", Map("v" -> "text")))
    store.flush("t") // v is double in storage: widens to string, migrating every file
    check("schema-widening migration")
    assert(store.read("t").schema("v").dataType == StringType)

    val src = tmpDir("snap-src")
    Files.writeString(Paths.get(src, "b1.json"),
      """{"id":"e","timestamp":"2024-01-06T10:00:00.000Z","v":"x"}""")
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("timestamp", TimestampType), StructField("v", StringType)))
    new StreamingIngest(store).startJsonIngest("t", src, schema, tmpDir("snap-ckpt"))
      .awaitTermination(60000)
    model += "e"
    check("streaming batch commit")

    facade.deleteTable("t")
    model = Set()
    write(rec("z", "2024-02-01 10:00:00", Map("w" -> 1.5)))
    store.flush("t")
    check("drop + recreate")
    assert(!store.read("t").columns.contains("v"), "a recreated table must not keep the old files")
  }

  test("concurrent misses and writes on one QueryEngine return exact counts") {
    val store = new TableStore(spark, tmpDir("snap-conc"))
    store.createTable("t", TableConfig(bufferSize = 7, flushIntervalMs = Long.MaxValue))
    // base rows: January, 24 per day; writes land in June, outside every
    // queried window, while their flushes keep bumping the version
    val base = (1 to 10).flatMap(d => (0 until 24).map(h =>
      rec(s"b$d-$h", f"2024-01-$d%02d $h%02d:30:00", Map("v" -> h))))
    store.write("t", base)
    store.flush("t")
    val engine = new QueryEngine(store)
    val writes = 60
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val writer = new Thread(() =>
      (0 until writes).foreach(i =>
        store.write("t", Seq(rec(s"w$i", "2024-06-01 10:00:00", Map("v" -> i))))))
    val readers = (0 until 3).map { r =>
      new Thread(() => (0 until 8).foreach { q =>
        val from = 1 + (r + q) % 8
        val days = 1 + q % 3
        val hours = 1 + (r * 8 + q) % 23
        // the last conjunct makes every text distinct, so every query misses
        val sql = f"SELECT COUNT(*) AS n FROM t WHERE timestamp >= TIMESTAMP '2024-01-$from%02d 00:00:00' " +
          f"AND timestamp < TIMESTAMP '2024-01-${from + days}%02d 00:00:00' AND v < $hours AND ${r * 100 + q} >= 0"
        val want = days * hours
        val got = engine.executeJson(sql)
        if (got != Right(s"""[{"n":$want}]""")) failures.add(s"$sql -> $got (want $want)")
      })
    }
    (writer +: readers).foreach(_.start())
    (writer +: readers).foreach(_.join(120000))
    assert(failures.isEmpty, failures.toArray.mkString("\n"))
    assert(engine.executeJson("SELECT COUNT(*) AS n FROM t") ==
      Right(s"""[{"n":${base.size + writes}}]"""))
  }
}
