package graft.query

import java.sql.Timestamp

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.SparkSpec
import graft.catalog.TableStore
import graft.ingest.DynRecord

/** Files each served query shape opens, read from the scans' `numFiles`
  * metric, on the layout of the served benchmark's `events` table:
  * 15,000 events over 30 days written by 3 flushes, so 90 files, each
  * holding one day and one third of the ids. */
class FilesPerShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Day0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val DayMs = 86400000L
  private val HourMs = 3600000L
  private val Days = 30

  private lazy val (store, engine) = {
    val rng = new java.util.SplittableRandom(102)
    val types = Array("view", "click", "cart", "buy", "error")
    val events = (0 until 15000).map(i => DynRecord(f"e$i%07d",
      new Timestamp(Day0 + rng.nextLong(Days * DayMs)), Map("user_id" -> rng.nextInt(20000).toDouble,
        "event_type" -> types(rng.nextInt(types.length)), "value" -> rng.nextInt(1000).toDouble,
        "region" -> s"r${rng.nextInt(8)}")))
    val s = new TableStore(spark, tmpDir("shape"))
    events.grouped(5000).foreach { chunk => s.write("events", chunk); s.flush("events") }
    (s, new QueryEngine(s))
  }

  private def lit(ms: Long) = s"TIMESTAMP '${new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss") {
    setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
  }.format(new java.util.Date(ms))}'"

  private def filesRead(df: DataFrame): Long = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .map(_.metrics("numFiles").value).sum
  }

  private def files(sql: String): Long = filesRead(engine.query(sql).toOption.get.df)

  private def point(id: String) =
    s"SELECT id, timestamp, user_id, event_type, value, region FROM events WHERE id = '$id'"

  test("the layout has 90 files") {
    assert(files("SELECT COUNT(*) AS n FROM events") == 90)
  }

  test("a point lookup opens the one file that holds the id, and an absent id none") {
    Seq("e0000000", "e0001234", "e0007777", "e0014999").foreach { id =>
      assert(files(point(id)) == 1, id)
    }
    assert(files(point("e9999999")) == 0) // above every file's max
    assert(files(point("e0001234x")) == 0) // inside a range, rejected by the bloom filters
    assert(engine.executeJson(point("e9999999")) == Right("[]"))
  }

  test("a one-file point lookup runs one Spark job") {
    val jobs = TestListenerBus.jobsOf(spark.sparkContext)(engine.executeJson(point("e0004321")))
    assert(jobs == 1, s"point lookup ran $jobs jobs")
  }

  test("window shapes open only the days they overlap") {
    val a = Day0 + 4 * DayMs + 10 * HourMs // day 5, 10:00
    val windows = Seq(
      (s"SELECT COUNT(*) AS n FROM events WHERE timestamp >= ${lit(a)} AND timestamp < ${lit(a + 5 * HourMs)}", 1),
      (s"SELECT COUNT(*) AS n FROM events WHERE timestamp >= ${lit(a)} AND timestamp < ${lit(a + 40 * HourMs)}", 3),
      (s"SELECT date_trunc('hour', timestamp) AS h, COUNT(DISTINCT user_id) AS u FROM events " +
        s"WHERE timestamp >= ${lit(Day0 + 12 * DayMs)} AND timestamp < ${lit(Day0 + 14 * DayMs)} " +
        "AND event_type = 'buy' GROUP BY date_trunc('hour', timestamp) ORDER BY h", 2),
      (s"SELECT payload.event_type AS t, COUNT(*) AS n, SUM(payload.value) AS s FROM events " +
        s"WHERE payload.region = 'r3' AND timestamp >= ${lit(Day0 + 20 * DayMs + 6 * HourMs)} " +
        s"AND timestamp < ${lit(Day0 + 21 * DayMs + 6 * HourMs)} GROUP BY payload.event_type ORDER BY t", 2))
    windows.foreach { case (sql, days) => assert(files(sql) == 3 * days, sql) }
  }

  test("a 30-day filter opens all 90 files, and an untagged read is not skipped") {
    assert(files("SELECT COUNT(DISTINCT user_id) AS u FROM events " +
      "WHERE event_type = 'view' AND value >= 100") == 90)
    assert(filesRead(spark.read.parquet(store.tablePath("events")).where("id = 'e0001234'")) == 90)
  }
}
