package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.catalog.TableStore
import graft.ingest.{DynRecord, TableConfig}
import graft.maintain.Compaction
import graft.mutate.Mutations
import graft.query.QueryEngine
import graft.streaming.StreamingIngest

/** A storage swap that throws partway has still changed storage, so it
  * must still bump the table version: otherwise the result cache serves
  * pre-swap rows and the store's storage snapshot keeps listing files
  * the swap deleted. Each case fails one swap with [[FaultFs]] and then
  * checks that a repeated query misses the cache and that a new query
  * reads current storage (no FILE_NOT_EXIST). */
class StorageFaultSpec extends SparkSpec {

  private def rec(id: String, ts: String, v: Any) =
    DynRecord(id, Timestamp.valueOf(ts), Map("v" -> v))

  private val Days = Seq("2024-01-01", "2024-01-02", "2024-01-03")

  /** A store on `faultfs:` with table `t`: two rows per day, flushed
    * `flushes` times (so each partition holds `flushes` files). */
  private def faultStore(flushes: Int = 1,
      config: TableConfig = TableConfig()): TableStore = {
    val store = new TableStore(spark, FaultFs.root(spark, tmpDir("fault")))
    store.createTable("t", config)
    (0 until flushes).foreach { f =>
      store.write("t", Days.flatMap(d => Seq(
        rec(s"$d-a$f", s"$d 10:00:00", 1), rec(s"$d-b$f", s"$d 11:00:00", 2))))
      store.flush("t")
    }
    store
  }

  private val Repeated = "SELECT COUNT(*) AS n FROM t"

  /** Caches [[Repeated]] and builds the storage snapshot, runs `fault`
    * (which must throw), then checks the cache and a new query. */
  private def checkAfterFault(store: TableStore)(fault: => Any): Unit = {
    val engine = new QueryEngine(store)
    assert(engine.executeJson(Repeated).isRight)
    val v0 = store.version("t")
    intercept[Exception](fault)
    assert(store.version("t") > v0, "a failed swap must bump the version")
    val missesBefore = engine.cacheStats._2
    val n = spark.read.parquet(store.tablePath("t")).count()
    assert(engine.executeJson(Repeated) == Right(s"""[{"n":$n}]"""))
    assert(engine.cacheStats._2 == missesBefore + 1, "repeated query must miss the cache")
    val ids = spark.read.parquet(store.tablePath("t")).select("id").collect()
      .map(_.getString(0)).sorted.toSeq
    val fresh = engine.executeJson("SELECT id FROM t ORDER BY id")
    assert(fresh.isRight, s"new query failed on current storage: $fresh")
    assert("\"id\":\"([^\"]+)\"".r.findAllMatchIn(fresh.toOption.get).map(_.group(1)).toSeq == ids)
  }

  test("failed mutation swap (2nd partition rename) bumps the version") {
    val store = faultStore()
    checkAfterFault(store) {
      FaultFs.during("rename", store.tablePath("t"), 2) {
        new Mutations(store).deleteWhere("t", col("v") === 1.0)
      }
    }
  }

  test("failed compaction swap (2nd partition rename) bumps the version") {
    val store = faultStore(flushes = 2)
    checkAfterFault(store) {
      FaultFs.during("rename", store.tablePath("t"), 2) {
        new Compaction(store, minFiles = 2).compact("t")
      }
    }
  }

  test("failed retention drop (2nd partition delete) bumps the version") {
    val store = faultStore(config = TableConfig(retentionDays = 1))
    checkAfterFault(store) {
      FaultFs.during("delete", store.tablePath("t"), 2) {
        new Mutations(store).applyRetention("t", java.time.LocalDate.parse("2024-06-01"))
      }
    }
  }

  test("failed streaming batch commit (2nd file rename) bumps the version") {
    val store = faultStore()
    val src = tmpDir("fault-src")
    Files.writeString(Paths.get(src, "b1.json"), Days.map(d =>
      s"""{"id":"s-$d","timestamp":"${d}T12:00:00.000Z","v":3.0}""").mkString("\n"))
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("timestamp", TimestampType), StructField("v", DoubleType)))
    checkAfterFault(store) {
      FaultFs.during("rename", store.tablePath("t"), 2) {
        val q = new StreamingIngest(store).startJsonIngest("t", src, schema, tmpDir("fault-ckpt"))
        try q.awaitTermination(60000) finally q.stop()
      }
    }
  }

  test("failed schema-widening migration (2nd partition rename) bumps the version") {
    // partly migrated storage mixes double and string `v` files, which
    // no schema merge reconciles — so only the version and the cache
    // are checked here, not a fresh read
    val store = faultStore()
    store.write("t", Seq(rec("w", "2024-01-04 10:00:00", "text")))
    val engine = new QueryEngine(store)
    assert(engine.executeJson(Repeated).isRight)
    val v0 = store.version("t")
    intercept[Exception] {
      FaultFs.during("rename", store.tablePath("t"), 2)(store.flush("t"))
    }
    assert(store.version("t") > v0)
    val missesBefore = engine.cacheStats._2
    engine.executeJson(Repeated)
    assert(engine.cacheStats._2 == missesBefore + 1, "repeated query must miss the cache")
  }
}
