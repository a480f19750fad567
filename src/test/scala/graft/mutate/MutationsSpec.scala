package graft.mutate

import java.sql.Timestamp

import graft.SparkSpec
import graft.catalog.TableStore
import graft.ingest.{DynRecord, TableConfig}

class MutationsSpec extends SparkSpec {

  private def rec(id: String, ts: String, payload: Map[String, Any]) =
    DynRecord(id, Timestamp.valueOf(ts), payload)

  private def seeded(): (TableStore, Mutations) = {
    val store = new TableStore(spark, tmpDir("mut"))
    store.write("t", Seq(
      rec("a", "2024-01-01 00:00:00", Map("v" -> 1)),
      rec("b", "2024-01-01 00:00:01", Map("v" -> 2)),
      rec("a", "2024-01-02 00:00:00", Map("v" -> 3)),
      rec("c", "2024-01-03 00:00:00", Map("v" -> 4))))
    store.flush("t")
    (store, new Mutations(store))
  }

  test("deleteById removes all versions across partitions, keeps others") {
    val (store, mut) = seeded()
    val untouched = new java.io.File(store.tablePath("t") + "/date=2024-01-03")
      .listFiles().map(f => (f.getName, f.lastModified())).toSeq
    assert(mut.deleteById("t", "a") == 2)
    val left = store.read("t").orderBy("id").collect().map(_.getAs[String]("id")).toSeq
    assert(left == Seq("b", "c"))
    // untouched partition was not rewritten
    val after = new java.io.File(store.tablePath("t") + "/date=2024-01-03")
      .listFiles().map(f => (f.getName, f.lastModified())).toSeq
    assert(after == untouched)
  }

  test("deleteWhere: bulk predicate delete publishes per-row DELETE events distributed") {
    import org.apache.spark.sql.functions._
    val (store, mut) = seeded()
    // predicate spans two ids across partitions
    val n = mut.deleteWhere("t", col("id").isin("a", "c"))
    assert(n == 3)
    assert(store.read("t").collect().map(_.getAs[String]("id")).toSeq == Seq("b"))
    // one CDC slice, one DELETE row per victim, all under one stamp
    val ev = graft.streaming.CdcLog.read(store, "t")
      .filter(col("op") === "DELETE").collect()
    assert(ev.length == 3)
    assert(ev.map(_.getAs[String]("id")).sorted.toSeq == Seq("a", "a", "c"))
    assert(ev.map(_.getAs[Timestamp]("emitted_at")).distinct.length == 1)
    // no-match predicate: nothing removed, no event slice
    assert(mut.deleteWhere("t", col("id") === "zzz") == 0)
    assert(graft.streaming.CdcLog.read(store, "t")
      .filter(col("op") === "DELETE").count() == 3)
  }

  test("a delete that matches nothing keeps the version and the cached result") {
    val (store, mut) = seeded()
    val engine = new graft.query.QueryEngine(store)
    val q = "SELECT COUNT(*) AS n FROM t"
    assert(engine.executeJson(q) == Right("""[{"n":4}]"""))
    val v0 = store.version("t")
    val (hits0, misses0, _, _) = engine.cacheStats
    assert(mut.deleteById("t", "absent") == 0)
    assert(store.version("t") == v0, "storage did not change")
    assert(engine.executeJson(q) == Right("""[{"n":4}]"""))
    assert(engine.cacheStats._1 == hits0 + 1 && engine.cacheStats._2 == misses0,
      "the repeated query must hit the cache")
  }

  test("deleteById drops a partition that becomes empty") {
    val (store, mut) = seeded()
    assert(mut.deleteById("t", "c") == 1)
    assert(!new java.io.File(store.tablePath("t") + "/date=2024-01-03").exists())
    assert(store.read("t").count() == 3)
  }

  test("deleteById of unflushed (buffered) rows works via drain") {
    val (store, mut) = seeded()
    store.write("t", Seq(rec("zz", "2024-01-09 00:00:00", Map("v" -> 9))))
    assert(mut.deleteById("t", "zz") == 1)
    assert(store.read("t").filter("id = 'zz'").count() == 0)
  }

  test("updateById: last write wins") {
    val (store, mut) = seeded()
    val removed = mut.updateById("t", rec("b", "2024-01-05 00:00:00", Map("v" -> 99)))
    assert(removed == 1)
    val rows = store.read("t").filter("id = 'b'").collect()
    assert(rows.length == 1 && rows(0).getAs[Double]("v") == 99.0)
  }

  test("cleanupEmptyIds") {
    val store = new TableStore(spark, tmpDir("mut2"))
    store.write("t", Seq(
      rec("ok", "2024-01-01 00:00:00", Map("v" -> 1)),
      rec("", "2024-01-01 00:00:01", Map("v" -> 2))))
    store.flush("t")
    val mut = new Mutations(store)
    assert(mut.cleanupEmptyIds("t") == 1)
    assert(store.read("t").count() == 1)
  }

  test("deleteById reaches rows in the null-date partition") {
    val store = new TableStore(spark, tmpDir("mut-null"))
    // build a table with a null-timestamp row (streaming-style direct write)
    import spark.implicits._
    Seq(("x", Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")), 1.0),
        ("ghost", None: Option[java.sql.Timestamp], 2.0))
      .toDF("id", "timestamp", "v")
      .withColumn("date", org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("timestamp")))
      .write.partitionBy("date").parquet(store.tablePath("t"))
    store.createTable("t")
    val mut = new Mutations(store)
    assert(mut.deleteById("t", "ghost") == 1)
    val left = store.read("t").collect().map(_.getAs[String]("id")).toSeq
    assert(left == Seq("x"))
  }

  test("retention drops expired date partitions") {
    val store = new TableStore(spark, tmpDir("mut3"))
    store.createTable("t", TableConfig(retentionDays = 30))
    store.write("t", Seq(
      rec("old", "2023-01-01 00:00:00", Map("v" -> 1)),
      rec("new", "2024-06-01 00:00:00", Map("v" -> 2))))
    store.flush("t")
    val mut = new Mutations(store)
    assert(mut.applyRetention("t", java.time.LocalDate.parse("2024-06-15")) == 1)
    val ids = store.read("t").collect().map(_.getAs[String]("id")).toSeq
    assert(ids == Seq("new"))
  }

  test("delete and update emit CDC events; no-op delete emits none") {
    val (store, mut) = seeded()
    assert(mut.deleteById("t", "a") == 2)
    mut.updateById("t", rec("b", "2024-01-05 00:00:00", Map("v" -> 99)))
    assert(mut.deleteById("t", "ghost") == 0) // must not emit
    val events = graft.streaming.CdcLog.read(store, "t")
      .orderBy("op").collect()
      .map(r => (r.getAs[String]("op"), r.getAs[String]("id")))
    assert(events.toSeq == Seq(("DELETE", "a"), ("UPDATE", "b")))
  }

  test("concurrent mutations on the same partition lose zero rows") {
    // two threads delete DISJOINT ids that live in the SAME date
    // partition: without the table lock the partition swaps interleave
    // and one thread's survivors vanish
    val store = new TableStore(spark, tmpDir("mut4"))
    val n = 20
    store.write("t", (0 until n).map(i =>
      rec(s"id$i", "2024-03-01 00:00:00", Map("v" -> i))))
    store.flush("t")
    val mut = new Mutations(store)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val f1 = Future(mut.deleteById("t", "id3"))
    val f2 = Future(mut.deleteById("t", "id7"))
    assert(Await.result(f1, 120.seconds) == 1)
    assert(Await.result(f2, 120.seconds) == 1)
    val left = store.read("t").collect().map(_.getAs[String]("id")).toSet
    assert(left == (0 until n).map(i => s"id$i").toSet -- Set("id3", "id7"),
      s"rows lost or resurrected: ${left.size} of ${n - 2} expected")
  }

  test("deleteWhere: rows whose predicate evaluates to NULL must SURVIVE") {
    import org.apache.spark.sql.functions._
    val store = new TableStore(spark, tmpDir("mut-null"))
    store.write("t", Seq(
      rec("hi", "2024-01-01 00:00:00", Map("age" -> 40)),
      rec("lo", "2024-01-01 00:00:01", Map("age" -> 10)),
      rec("nu", "2024-01-01 00:00:02", Map("other" -> 1)))) // age = NULL
    store.flush("t")
    val mut = new Mutations(store)
    // three-valued logic: age>30 is NULL for row "nu" — it is not a
    // victim and must not be silently dropped from the rewrite
    assert(mut.deleteWhere("t", col("age") > 30) == 1)
    val left = store.read("t").collect().map(_.getAs[String]("id")).toSet
    assert(left == Set("lo", "nu"),
      s"NULL-predicate row silently deleted: survivors = $left")
  }
}
