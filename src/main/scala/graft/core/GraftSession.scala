package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with scale-aware defaults.
  *
  * The reference (richenlin/minIODB) runs DuckDB per node with a 1 GB /
  * 4-thread budget (`internal/query/query.go:916-922`); here the whole
  * execution engine is Spark, so the knobs that matter are shuffle
  * parallelism, AQE, and parquet pushdown — all set once here so every
  * entry point (Verify, Bench, tests, serving) gets the same plan-shaping
  * configuration.
  *
  * Scale notes (100 TB / 1000-executor target):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join
  *    splitting replaces any hand-tuned partition count.
  *  - `spark.sql.shuffle.partitions` is only the pre-AQE upper bound; in
  *    local[32] test mode 32 is right, on a real cluster the launcher
  *    would set it to ~2-3x total cores (AQE coalesces down).
  *  - parquet filter pushdown + partition pruning stay on (defaults):
  *    they skip row groups inside a task and whole `date=` directories.
  *    Skipping whole files before any task runs, as the reference's file
  *    pruning does (§2.2 #9-13 of SURVEY.md), is the TableStore's own
  *    footer-stats file index; for it, timestamps are written as
  *    TIMESTAMP_MICROS, which carries min/max (INT96, Spark's default,
  *    carries none).
  */
object GraftSession {

  def builder(appName: String = "graft", cores: String = "32"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // the SELECT-only gate (SqlGate) must not be bypassable via
      // SELECT * FROM parquet.`/any/path` — direct-on-file SQL is off
      .config("spark.sql.runSQLOnFiles", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.parquet.mergeSchema", "false") // TableStore merges its own from footers
      // TIMESTAMP(NANOS) parquet (events.ts) is unrepresentable in Spark's
      // µs TimestampType; read as long and convert in Tables.load — same
      // truncation DuckDB applies.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ui.explainMode", "formatted")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      // local files without a forked `chmod` per create/mkdirs (LocalFs)
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs].getName)

  /** Local session for tests / CLI mains. */
  def local(appName: String = "graft", cores: Int = 32): SparkSession = {
    val s = builder(appName, cores.toString).master(s"local[$cores]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
