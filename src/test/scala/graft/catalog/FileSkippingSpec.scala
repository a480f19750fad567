package graft.catalog

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, to_date}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.ingest.DynRecord
import graft.maintain.Compaction
import graft.mutate.Mutations

/** File skipping by footer stats ([[SkippingFileIndex]]) never changes an
  * answer: every filter over a store's read returns exactly what an
  * unpruned `spark.read.parquet` of the table's directory returns, in
  * the cases where stats are easiest to misread. */
class FileSkippingSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def at(iso: String) = Timestamp.from(Instant.parse(iso))

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).toSeq.sorted

  /** Data files the scans of `df` open (each scan's `numFiles`). */
  private def filesRead(df: DataFrame): Long = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .map(_.metrics("numFiles").value).sum
  }

  /** Every filter gives the store's read the unpruned read's rows. */
  private def sameAnswers(store: TableStore, filters: Seq[String], what: String = ""): Unit = {
    val plain = spark.read.option("mergeSchema", "true").parquet(store.tablePath("t"))
    filters.foreach { f =>
      assert(rows(store.read("t").where(f)) == rows(plain.where(f)), s"$what: $f")
    }
  }

  /** One row every 3 hours over 2024-01-01 .. 2024-01-20, UTC. */
  private def hourly(): TableStore = {
    val store = new TableStore(spark, tmpDir("skip-ts"))
    val t0 = Instant.parse("2024-01-01T00:00:00Z")
    store.write("t", (0 until 20 * 8).map(i =>
      DynRecord(f"r$i%03d", Timestamp.from(t0.plusSeconds(i * 3 * 3600L)), Map("v" -> i))))
    store.flush("t")
    store
  }

  test("timestamp bounds keep exact answers at day boundaries in far-off reader zones") {
    val store = hourly()
    val windows = Seq(
      "timestamp >= TIMESTAMP '2024-01-05 00:00:00' AND timestamp < TIMESTAMP '2024-01-06 00:00:00'",
      "timestamp > TIMESTAMP '2024-01-09 21:00:00' AND timestamp <= TIMESTAMP '2024-01-10 03:00:00'",
      "timestamp = TIMESTAMP '2024-01-12 00:00:00'",
      "TIMESTAMP '2024-01-15 23:59:59' <= timestamp AND TIMESTAMP '2024-01-16 00:00:01' > timestamp",
      "timestamp >= TIMESTAMP '2024-01-19 12:00:00'",
      "timestamp < TIMESTAMP '2024-01-02 02:00:00'")
    val conf = spark.conf
    val prev = conf.get("spark.sql.session.timeZone")
    try Seq("UTC", "Pacific/Kiritimati", "Etc/GMT+12").foreach { zone =>
      conf.set("spark.sql.session.timeZone", zone)
      sameAnswers(store, windows, zone)
    } finally conf.set("spark.sql.session.timeZone", prev)
    // read as UTC, each window's ends fall on rows, so a file (one UTC
    // day) is read exactly when it holds a match
    windows.foreach { w =>
      val days = store.read("t").where(w).select("date").distinct().count()
      assert(filesRead(store.read("t").where(w)) == days, w)
    }
  }

  test("null timestamps: a file of nulls is kept for IS NULL and skipped for bounds") {
    val store = new TableStore(spark, tmpDir("skip-null"))
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("timestamp", TimestampType), StructField("v", DoubleType)))
    val data = Seq(Row("a", at("2024-01-01T10:00:00Z"), 1.0), Row("b", null, 2.0),
      Row("c", at("2024-01-02T10:00:00Z"), null), Row("d", null, null))
    store.writeLayout(spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
      .withColumn("date", to_date(col("timestamp"))), "append", store.tablePath("t"))
    sameAnswers(store, Seq("timestamp IS NULL", "timestamp IS NOT NULL",
      "timestamp >= TIMESTAMP '2024-01-01 00:00:00'", "timestamp < TIMESTAMP '2024-01-02 00:00:00'",
      "timestamp IS NULL OR timestamp > TIMESTAMP '2024-01-01 12:00:00'",
      "v IS NULL", "v IS NOT NULL", "v > 1.5", "NOT (v > 1.5)"))
    assert(filesRead(store.read("t").where("timestamp IS NULL")) == 1)
    assert(filesRead(store.read("t").where("timestamp >= TIMESTAMP '2024-01-01 00:00:00'")) == 2)
  }

  test("a column a file lacks reads as null: skipped for comparisons, kept for IS NULL") {
    val store = new TableStore(spark, tmpDir("skip-evolve"))
    store.write("t", Seq(DynRecord("a", at("2024-01-01T10:00:00Z"), Map("v" -> 1))))
    store.flush("t")
    store.write("t", Seq(DynRecord("b", at("2024-01-01T11:00:00Z"), Map("v" -> 2, "w" -> "x"))))
    store.flush("t")
    sameAnswers(store, Seq("w = 'x'", "w IS NULL", "w IS NOT NULL", "w IN ('x', 'y')",
      "w > 'a' OR v = 1", "w IS NULL AND v = 1"))
    assert(filesRead(store.read("t").where("w = 'x'")) == 1)
    assert(filesRead(store.read("t").where("w IS NULL")) == 1)
  }

  test("a NaN double is kept under > and >= whatever the file's max") {
    val store = new TableStore(spark, tmpDir("skip-nan"))
    // day 1 starts with a number, day 2 with NaN (files are id-sorted)
    store.write("t", Seq(
      DynRecord("a", at("2024-01-01T10:00:00Z"), Map("x" -> 1.0)),
      DynRecord("b", at("2024-01-01T11:00:00Z"), Map("x" -> Double.NaN)),
      DynRecord("c", at("2024-01-01T12:00:00Z"), Map("x" -> 2.0)),
      DynRecord("a2", at("2024-01-02T10:00:00Z"), Map("x" -> Double.NaN)),
      DynRecord("b2", at("2024-01-02T11:00:00Z"), Map("x" -> 3.0))))
    store.flush("t")
    sameAnswers(store, Seq("x > 5", "x >= 5", "x > 2.5", "x < 1.5", "x <= 0",
      "x = CAST('NaN' AS DOUBLE)", "x >= CAST('NaN' AS DOUBLE)", "x IN (3.0, 7.0)", "x = 2.0"))
    assert(store.read("t").where("x > 5").count() == 2)
  }

  test("strings compare as unsigned bytes: non-ASCII values above 'z' are kept") {
    val store = new TableStore(spark, tmpDir("skip-utf8"))
    val values = Seq("apple", "zebra", "é", "日本", "Ünïcode", "b")
    store.write("t", values.zipWithIndex.map { case (s, i) =>
      DynRecord(s"k$i", at(s"2024-01-0${i % 2 + 1}T10:00:00Z"), Map("s" -> s))
    })
    store.flush("t")
    sameAnswers(store, Seq("s > 'zebra'", "s >= 'é'", "s < 'é'", "s = '日本'",
      "s IN ('é', 'nope')", "s < 'b'", "s <= 'b'", "s > 'Ünïcode'"))
    assert(store.read("t").where("s > 'zebra'").count() == 3)
  }

  test("answers stay exact after update, delete, compaction and a type migration") {
    val store = new TableStore(spark, tmpDir("skip-mut"))
    def batch(from: Int) = (from until from + 30).map(i => DynRecord(f"r$i%02d",
      at(f"2024-01-0${i % 3 + 1}T${i % 24}%02d:00:00Z"), Map("v" -> i, "s" -> s"s$i")))
    store.write("t", batch(0)); store.flush("t")
    store.write("t", batch(30)); store.flush("t")
    val filters = Seq("id = 'r05'", "id = 'r10'", "id IN ('r01', 'r33', 'nope')", "id = 'nope'",
      "id > 'r50'", "s = 's7'", "s IS NOT NULL",
      "timestamp >= TIMESTAMP '2024-01-02 00:00:00' AND timestamp < TIMESTAMP '2024-01-02 12:00:00'",
      "timestamp > TIMESTAMP '2024-01-04 00:00:00'")
    sameAnswers(store, filters, "flushed")
    val m = new Mutations(store)
    m.updateById("t", DynRecord("r05", at("2024-01-04T08:00:00Z"), Map("v" -> 500, "s" -> "upd")))
    sameAnswers(store, filters, "update")
    assert(store.read("t").where("id = 'r05'").select("s").collect().map(_.getString(0)).toSeq == Seq("upd"))
    assert(m.deleteById("t", "r10") == 1)
    sameAnswers(store, filters, "delete")
    new Compaction(store, minFiles = 1).compact("t")
    sameAnswers(store, filters, "compaction")
    // `v` was flushed as a number: a string value migrates every file
    store.write("t", Seq(DynRecord("m1", at("2024-01-03T05:00:00Z"), Map("v" -> "text"))))
    store.flush("t")
    assert(store.read("t").schema("v").dataType == StringType)
    sameAnswers(store, filters :+ "v = 'text'", "migration")
  }

  test("legacy INT96 files carry no timestamp bounds and are always kept") {
    val store = new TableStore(spark, tmpDir("skip-int96"))
    def batch(tag: String) = (1 to 5).flatMap(d => (0 until 4).map(h => DynRecord(
      s"$tag$d-$h", at(f"2024-01-0${d}T${h * 6}%02d:00:00Z"), Map("v" -> (d * 10 + h)))))
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try { store.write("t", batch("old")); store.flush("t") } finally spark.conf.set(key, prev)
    store.write("t", batch("new")); store.flush("t")
    val window = "timestamp >= TIMESTAMP '2024-01-03 12:00:00' AND timestamp < TIMESTAMP '2024-01-03 13:00:00'"
    sameAnswers(store, Seq(window, "timestamp < TIMESTAMP '2024-01-02 00:00:00'",
      "timestamp >= TIMESTAMP '2024-01-05 18:00:00'", "v >= 42"))
    assert(rows(store.read("t").where(window).select("id")) == Seq("[new3-2]", "[old3-2]"))
    // the date bound keeps days 2-4; of those, every INT96 file and the
    // one new file of day 3
    assert(filesRead(store.read("t").where(window)) == 3 + 1)
  }

  test("a pre-1582 timestamp round-trips and is found by its bounds") {
    val store = new TableStore(spark, tmpDir("skip-old"))
    val old = at("1500-03-01T12:00:00Z")
    store.write("t", Seq(DynRecord("old", old, Map("v" -> 1)),
      DynRecord("new", at("2024-01-01T00:00:00Z"), Map("v" -> 2))))
    store.flush("t")
    assert(store.read("t").where("id = 'old'").select("timestamp").collect().head.getTimestamp(0) == old)
    sameAnswers(store, Seq("timestamp < TIMESTAMP '1600-01-01 00:00:00'",
      "timestamp = TIMESTAMP '1500-03-01 12:00:00'", "timestamp > TIMESTAMP '1500-03-01 12:00:00'"))
    assert(store.read("t").where("timestamp < TIMESTAMP '1600-01-01 00:00:00'").count() == 1)
  }

  test("uncached footers are read on the driver up to the discovery threshold, else in one job") {
    val threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    /** A table of `n` one-row files in one `date=` directory. */
    def table(n: Int): String = {
      val store = new TableStore(spark, tmpDir("skip-job"))
      val rows = store.flattenBatch((0 until n).map(i =>
        DynRecord(s"r$i", at("2024-01-01T10:00:00Z"), Map("v" -> i))))
      store.writeLayout(rows.repartition(n).withColumn("date", to_date(col("timestamp"))),
        "append", store.tablePath("t"))
      store.root
    }
    Seq(threshold -> 0, threshold + 1 -> 1).foreach { case (files, jobs) =>
      val fresh = new TableStore(spark, table(files)) // nothing cached
      assert(TestListenerBus.jobsOf(spark.sparkContext)(fresh.read("t")) == jobs, s"$files files")
      assert(filesRead(fresh.read("t")) == files)
    }
  }
}
