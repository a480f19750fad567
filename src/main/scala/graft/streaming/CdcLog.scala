package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.catalog.TableStore

/** Parquet-backed CDC event log, shared by every event producer.
  *
  * The reference publishes INSERT/UPDATE/DELETE/BATCH events to Redis
  * Streams / Kafka with consumer groups (`internal/subscription/
  * event.go:12-98`, `manager.go:157-225`); here the log is a directory
  * of per-emission parquet dirs under `<root>/_cdc/<table>` — a Kafka
  * sink would swap in `format("kafka")` at the write sites. Streaming
  * ingest appends INSERT/BATCH per micro-batch (replay-idempotent:
  * batch-scoped dir + overwrite); mutations append UPDATE/DELETE here.
  * One schema for all producers so the consumer-side read is a single
  * union-free scan. */
object CdcLog {

  val Schema: StructType = StructType(Seq(
    StructField("op", StringType, nullable = false),
    StructField("id", StringType, nullable = true),
    StructField("timestamp", TimestampType, nullable = true),
    StructField("batch_id", LongType, nullable = false),
    StructField("emitted_at", TimestampType, nullable = false)))

  /** CDC directory for `table` — validated through the SAME chokepoint
    * as every other storage-path derivation ([[TableStore
    * .requireValidTable]]): the facade/REST CDC verbs take
    * client-supplied names, and an unvalidated `..` here would read or
    * write cursor files OUTSIDE the `_cdc` namespace (the r13 advice
    * finding — every path derivation goes through the validator, not
    * just `tablePath`). */
  def path(store: TableStore, table: String): String = {
    store.requireValidTable(table)
    s"${store.root}/_cdc/$table"
  }

  /** Timestamp ↔ epoch-micros round-trip — ONE implementation, because
    * the consumer's cursor-boundary correctness depends on it exactly. */
  def toMicros(t: Timestamp): Long =
    (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
  def fromMicros(micros: Long): Timestamp = {
    val t = new Timestamp(micros / 1000L)
    t.setNanos(((micros % 1000000L) * 1000L).toInt)
    t
  }

  // Strictly-increasing emitted_at in MICROseconds: two emissions in the
  // same wall-clock millisecond must not share a timestamp, or a consumer
  // committing between them would drop the second one at its strict-'>'
  // cursor (micros survive parquet TimestampType exactly). EVERY event
  // producer must stamp through this clock — mixing in another clock
  // (e.g. current_timestamp()) re-opens the cursor-straddle hole.
  private val lastMicros = new java.util.concurrent.atomic.AtomicLong(0)
  private[streaming] def nextEmittedAt(): Timestamp = {
    val micros = lastMicros.updateAndGet { prev =>
      math.max(System.currentTimeMillis() * 1000L, prev + 1)
    }
    fromMicros(micros)
  }

  /** Append one event per (id, timestamp) with operation `op`.
    * Each emission lands in its own `mut-<uuid>` dir (no '=' in the
    * name, so partition discovery doesn't invent a column; unique name,
    * so concurrent emitters never collide). */
  def append(store: TableStore, table: String, op: String,
      rows: Seq[(String, Timestamp)], batchId: Long = -1L): Unit = {
    if (rows.isEmpty) return
    val now = nextEmittedAt()
    val data = rows.map { case (id, ts) => Row(op, id, ts, batchId, now) }
    store.spark.createDataFrame(
        store.spark.sparkContext.parallelize(data, 1), Schema)
      .write.mode("overwrite")
      .parquet(s"${path(store, table)}/mut-${java.util.UUID.randomUUID()}")
  }

  /** Frame-based append — the BULK-mutation path. The Seq overload
    * covers the reference's id-keyed point mutations (driver-sized by
    * definition); this one takes an (id, timestamp) FRAME and writes
    * the slice distributed under one emitted_at stamp, so a predicate
    * delete whose victim set has no business on the driver publishes
    * per-row events without collecting them. Same slice-dir layout and
    * cursor semantics as [[append]].
    *
    * The frame is materialized HERE (localCheckpoint) before the
    * write: callers typically publish the victim set of a mutation
    * they are about to apply (or just applied), and a lazy plan
    * re-reading storage after the caller's partition swap would emit
    * empty or failing slices. Materializing inside the append makes
    * the contract structural instead of a per-caller precondition.
    * The victim set is mutation-sized, not corpus-sized, so the pinned
    * copy is small. No server path calls [[graft.core.Caching.releaseAll]];
    * the copy is released when Spark's ContextCleaner finds the
    * checkpointed frame, which nothing keeps after this call, unreachable
    * after a garbage collection. */
  def appendFrame(store: TableStore, table: String, op: String,
      rows: DataFrame, batchId: Long = -1L): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val now = nextEmittedAt()
    val ts =
      if (rows.columns.contains("timestamp"))
        col("timestamp").cast("timestamp")
      else lit(null).cast("timestamp")
    rows.select(lit(op).as("op"), col("id").cast("string").as("id"),
        ts.as("timestamp"), lit(batchId).as("batch_id"),
        lit(now).as("emitted_at"))
      .localCheckpoint(true)
      .write.mode("overwrite")
      .parquet(s"${path(store, table)}/mut-${java.util.UUID.randomUUID()}")
  }

  /** Consumer-side read of the full event log (empty frame when no
    * events exist). Batch dirs are plain subdirs → recursive lookup.
    * Reads are LOCKLESS, so `ignoreMissingFiles` (per-read option, not
    * session-wide) covers the race with [[applyRetention]]: a slice
    * dir-deleted between this read's file listing and its execution is
    * silently skipped — the documented "poll returns what survived"
    * degradation — instead of failing the scan with
    * FileNotFoundException. */
  def read(store: TableStore, table: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path(store, table))
    val fs = p.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      // explicit schema: a fully-trimmed log (retention dropped every
      // slice) has no parquet files to infer from, and must read as
      // empty, not throw UNABLE_TO_INFER_SCHEMA
      store.spark.read.schema(Schema)
        .option("recursiveFileLookup", "true")
        .option("ignoreMissingFiles", "true").parquet(path(store, table))
    else store.spark.createDataFrame(
      store.spark.sparkContext.emptyRDD[Row], Schema)
  }

  /** Consumer groups with a persisted cursor for `table`. */
  def groups(store: TableStore, table: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path(store, table), "_offsets")
    val fs = p.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isFile).map(_.getPath.getName)
  }

  /** Trim the CDC log — the reference trims its Redis Streams with
    * MAXLEN (`internal/subscription/redis_subscriber.go`); here the unit
    * of trimming is one emission dir (one batch/mutation slice), dropped
    * when EVERY registered consumer group has committed past its last
    * event. `maxAgeMicros` additionally drops slices older than the age
    * cutoff regardless of commits — the lossy MAXLEN analogue, opt-in
    * because a lagging group silently loses trimmed events (its cursor
    * stays valid: poll() simply returns what survived).
    *
    * With NO registered groups the committed low-water is 0 and only the
    * age cutoff trims — a log nobody consumes is retained until the
    * operator opts into age-based loss, never silently emptied.
    *
    * Runs under the table mutation lock (the same lock every
    * producer-side commit and mutation holds), which serializes it
    * against PRODUCERS only — consumers read locklessly, so a poll
    * in flight while retention deletes a slice sees the degraded (and
    * documented) behavior, not a crash: [[read]] sets
    * `ignoreMissingFiles`, so a slice deleted between the poll's file
    * listing and its execution is skipped, and [[CdcConsumer.poll]]
    * snapshots its result eagerly, so retention after poll() returns
    * cannot disturb rows already delivered. One scan of the log
    * computes every slice's high-water event; deletion is directory
    * drops, no rewrite. Returns the number of slices dropped. */
  def applyRetention(store: TableStore, table: String,
      maxAgeMicros: Option[Long] = None,
      nowMicros: Long = System.currentTimeMillis() * 1000L): Int =
    store.withTableLock(table) {
      import org.apache.spark.sql.functions._
      val root = new org.apache.hadoop.fs.Path(path(store, table))
      val fs = root.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(root)) 0
      else {
        val gs = groups(store, table)
        val lowWater =
          if (gs.isEmpty) 0L
          else gs.map(g => new CdcConsumer(store, table, g).committed()).min
        val ageCut = maxAgeMicros.map(a => nowMicros - a)
        // one scan: per-slice high-water emitted_at (slice = emission dir
        // = the path component under the log root)
        val sliceHw = read(store, table)
          .select(input_file_name().as("f"), unix_micros(col("emitted_at")).as("em"))
          .withColumn("slice", element_at(split(col("f"), "/"), -2))
          .groupBy(col("slice")).agg(max(col("em")).as("hw"))
          .collect()
          .map(r => r.getString(0) -> r.getLong(1))
        val drop = sliceHw.collect {
          case (slice, hw) if hw <= lowWater || ageCut.exists(hw < _) => slice
        }
        drop.foreach { d =>
          fs.delete(new org.apache.hadoop.fs.Path(root, d), true)
        }
        drop.length
      }
    }
}

/** Named consumer group over a table's CDC log — the reference's
  * subscription consumer groups, which keep a per-group cursor in Redis
  * (`internal/subscription/manager.go:157-225`). Here the cursor is the
  * high-water `emitted_at` timestamp, persisted per group under the
  * table's CDC directory, so independent groups replay independently
  * and survive restarts.
  *
  * Semantics: at-least-once (uncommitted polls re-deliver). `poll()`
  * returns events strictly newer than the committed cursor; `commit()`
  * advances it to the high-water mark of the last poll. Emission
  * timestamps are strictly increasing micros ([[CdcLog.nextEmittedAt]]),
  * so two events can never share the cursor boundary — committing
  * between two same-millisecond emissions drops neither.
  *
  * Producer assumption: event producers (mutations, streaming batch
  * commits) are synchronous, driver-coordinated operations — no append
  * is in flight while poll() lists the log. A multi-writer deployment
  * would add a stability horizon (exclude events younger than the max
  * append latency) before trusting the high-water mark. */
class CdcConsumer(store: TableStore, table: String, group: String) {

  require(group.matches("[A-Za-z0-9_-]+"), s"invalid group name '$group'")

  private def cursorPath = new org.apache.hadoop.fs.Path(
    CdcLog.path(store, table), s"_offsets/$group")
  private def fs = cursorPath.getFileSystem(store.spark.sparkContext.hadoopConfiguration)

  // Register the group at first contact (cursor 0): retention's
  // committed-low-water only protects groups it can SEE, and a consumer
  // that has polled but never committed must hold the low-water at 0 —
  // an unregistered-but-active group would otherwise lose its
  // yet-uncommitted slices to other groups' commits.
  if (!fs.exists(cursorPath)) {
    try {
      val out = fs.create(cursorPath, false)
      out.write("0".getBytes("UTF-8")); out.close()
    } catch {
      // two first-contact consumers for the same group race this
      // non-atomic exists→create; the loser finds the desired end state
      // (cursor file exists, content 0 — a winner that also COMMITTED
      // before we look is fine too: any committed value supersedes 0)
      case _: java.io.IOException if fs.exists(cursorPath) => ()
    }
  }

  /** Committed high-water mark (epoch micros — emitted_at is
    * micros-unique, so micros must survive the round-trip or
    * same-millisecond events would straddle the cursor), 0 when never
    * committed. */
  def committed(): Long =
    if (!fs.exists(cursorPath)) 0L
    else {
      val in = fs.open(cursorPath) // hot path: close explicitly, no fd leak
      val txt = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
      txt.trim.toLongOption.getOrElse(0L)
    }

  @volatile private var lastSeenHighWater: Long = -1L

  /** Events strictly newer than the committed cursor (read now), oldest
    * first, as a lazy plan: each action re-reads the log. */
  private[graft] def pending(): DataFrame = {
    import org.apache.spark.sql.functions.col
    CdcLog.read(store, table)
      .filter(col("emitted_at") > CdcLog.fromMicros(committed()))
      .orderBy(col("emitted_at"), col("id"))
  }

  /** [[pending]] as an EAGER SNAPSHOT (`localCheckpoint`): the
    * log files are read exactly once, here — the high-water mark that
    * [[commit]] will persist and the rows the caller consumes come from
    * that single execution, so cursor and delivery can never diverge,
    * and a retention dir-drop after poll() returns cannot disturb the
    * delivered rows (a drop DURING the read degrades per
    * [[CdcLog.read]]'s `ignoreMissingFiles` to "what survived",
    * consistently for both, since both derive from the one snapshot). */
  def poll(): DataFrame = {
    val events = pending().localCheckpoint(true)
    val hw = events.agg(org.apache.spark.sql.functions.max("emitted_at")).head().getTimestamp(0)
    lastSeenHighWater = if (hw == null) -1L else CdcLog.toMicros(hw)
    events
  }

  /** Advance the cursor past everything the last poll returned. */
  def commit(): Unit = if (lastSeenHighWater >= 0) {
    commitAt(lastSeenHighWater)
    lastSeenHighWater = -1L
  }

  /** Commit an EXPLICIT high-water mark (micros) — for stateless/remote
    * consumers (REST) that received the mark in a poll response. Never
    * moves the cursor backwards: a late or replayed commit request must
    * not re-deliver everything after an earlier successful commit. */
  def commitAt(micros: Long): Unit = if (micros > committed()) {
    val out = fs.create(cursorPath, true)
    out.write(micros.toString.getBytes("UTF-8")); out.close()
  }
}
