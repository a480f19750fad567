package graft.maintain

import java.sql.Timestamp

import graft.SparkSpec
import graft.catalog.TableStore
import graft.ingest.DynRecord

class CompactionSpec extends SparkSpec {

  test("compacts many small files into few, preserving data") {
    val store = new TableStore(spark, tmpDir("cmp"))
    // 6 flushes → ≥6 small files in one partition
    (1 to 6).foreach { i =>
      store.write("t", Seq(DynRecord(s"r$i",
        Timestamp.valueOf("2024-01-01 00:00:00"), Map("v" -> i))))
      store.flush("t")
    }
    val comp = new Compaction(store, minFiles = 4)
    val statsBefore = comp.partitionStats("t")
    assert(statsBefore.head.files >= 6)
    val before = store.read("t").orderBy("id").collect().map(_.toSeq).toSeq

    val (parts, filesBefore, filesAfter) = comp.compact("t")
    assert(parts == 1 && filesBefore >= 6 && filesAfter == 1)
    assert(comp.partitionStats("t").head.files == 1)
    val after = store.read("t").orderBy("id").collect().map(_.toSeq).toSeq
    assert(after == before)
  }

  test("partitions below threshold are left alone") {
    val store = new TableStore(spark, tmpDir("cmp2"))
    store.write("t", Seq(DynRecord("a",
      Timestamp.valueOf("2024-01-01 00:00:00"), Map("v" -> 1))))
    store.flush("t")
    val comp = new Compaction(store, minFiles = 4)
    assert(comp.compact("t") == ((0, 0, 0)))
  }
}
