package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.catalog.TableStore

/** Structured-Streaming ingest: the Spark-native replacement for the
  * reference's buffer + WAL + flush-worker pipeline
  * (`concurrent_buffer.go`, `wal.go` — SURVEY.md §3.2).
  *
  * Micro-batches land as date-partitioned parquet appends into the same
  * [[TableStore]] storage and file layout the batch writer uses;
  * exactly-once comes from the checkpoint (offset log + file-commit
  * protocol), which *is* the WAL: on restart the stream replays from
  * the last committed batch — no custom CRC segments, no tombstone
  * replay.
  *
  * CDC (reference `internal/subscription`, Redis Streams/Kafka events):
  * each micro-batch also appends INSERT/BATCH events to a `_cdc/<table>`
  * parquet log via the same foreachBatch transaction; a Kafka sink would
  * swap in `df.writeStream.format("kafka")` where this writes parquet
  * (no Kafka in the test environment). */
class StreamingIngest(store: TableStore) {

  private def spark: SparkSession = store.spark

  def cdcPath(table: String): String = CdcLog.path(store, table)

  /** Idempotent micro-batch commit. foreachBatch is only at-least-once
    * (a crash between the append and the checkpoint commit replays the
    * batch), so a naive `mode("append")` duplicates rows on replay.
    *
    * Protocol (exactly-once under replay, safe for concurrent streams):
    *  1. the batch lands in a stream+batch-scoped private dir via
    *     OVERWRITE (replay rewrites the same content),
    *  2. if the commit MARKER `_commits/<sid>-b<id>` exists the batch is
    *     already fully committed → clean up and return,
    *  3. otherwise delete any partial `<sid>-b<id>-*` outputs (a crash
    *     mid-rename with a DIFFERENT file split must not mix attempts),
    *     rename all files in, then create the marker.
    * `sid` comes from the checkpoint location, so a different stream
    * lineage (fresh checkpoint, second stream into the same table) can
    * never collide with this one's batch numbering. */
  private[streaming] def commitBatch(table: String, streamId: String, batchId: Long,
      dated: org.apache.spark.sql.DataFrame,
      legacySids: Seq[String] = Nil): Unit = store.withTableLock(table) {
    // under the table mutation lock: a partition-rewrite mutation running
    // between this commit's survivor scan and directory swap would drop
    // the files this batch just renamed in
    val conf = spark.sparkContext.hadoopConfiguration
    val rootP = new org.apache.hadoop.fs.Path(store.tablePath(table))
    val prefix = s"$streamId-b$batchId"
    val batchP = new org.apache.hadoop.fs.Path(
      s"${store.tablePath(table)}__incoming/$prefix")
    val fs = rootP.getFileSystem(conf)
    val marker = new org.apache.hadoop.fs.Path(rootP, s"_commits/$prefix")
    store.writeLayout(dated, "overwrite", batchP.toString)
    // legacySids: markers written by earlier id schemes count as committed
    // (see ingest call sites) — a replay across the scheme change must
    // not re-commit (duplicate) an already-committed batch
    val alreadyCommitted = fs.exists(marker) ||
      legacySids.exists(ls =>
        fs.exists(new org.apache.hadoop.fs.Path(rootP, s"_commits/$ls-b$batchId")))
    // the version is bumped even when a rename throws partway: files
    // already renamed in are changed storage
    try if (!alreadyCommitted) {
      fs.listStatus(batchP).filter(_.getPath.getName.startsWith("date=")).foreach { dateDir =>
        val dstDir = new org.apache.hadoop.fs.Path(rootP, dateDir.getPath.getName)
        if (!fs.exists(dstDir)) fs.mkdirs(dstDir)
        // remove partial outputs of an earlier crashed attempt (its file
        // split may differ from this replay's) — including attempts made
        // under a legacy id scheme before an upgrade
        val stalePrefixes = s"$prefix-" +: legacySids.map(ls => s"$ls-b$batchId-")
        fs.listStatus(dstDir)
          .filter(st => stalePrefixes.exists(st.getPath.getName.startsWith))
          .foreach(st => fs.delete(st.getPath, false))
        fs.listStatus(dateDir.getPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName).zipWithIndex.foreach { case (f, i) =>
            fs.rename(f.getPath, new org.apache.hadoop.fs.Path(dstDir, s"$prefix-$i.parquet"))
          }
      }
      fs.mkdirs(marker.getParent)
      fs.create(marker, true).close()
    } finally store.bumpVersion(table)
    fs.delete(batchP, true) // only THIS batch's dir — other streams share __incoming
  }

  // collision-resistant stream id: two distinct checkpoint paths must
  // never share a `<sid>-b<N>` marker/file namespace (a 32-bit
  // String.hashCode collision would let one stream's commit marker
  // suppress the other stream's batch — silent data loss)
  private def streamId(checkpoint: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(checkpoint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    "s" + d.take(8).map(b => f"$b%02x").mkString
  }

  /** The pre-SHA-256 id scheme — checked (never written) by commitBatch
    * so checkpoints created before the scheme change stay exactly-once. */
  private def legacyStreamId(checkpoint: String): String =
    f"s${checkpoint.hashCode & 0x7FFFFFFF}%08x"

  /** Start a file-source ingest stream into `table`.
    *
    * @param sourceDir directory watched for newline-JSON record files
    *                  with fields id/timestamp plus arbitrary payload
    * @param schema    the record schema for this stream (file sources
    *                  need one; payload columns beyond id/timestamp are
    *                  stored as-is — a schemaless variant would parse
    *                  `payload` with from_json per batch)
    */
  def startJsonIngest(
      table: String,
      sourceDir: String,
      schema: StructType,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    store.ensureTable(table)
    spark.readStream
      .schema(schema)
      .json(sourceDir)
      .writeStream
      .queryName(s"ingest-$table")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val dated = batch.withColumn("date", to_date(col("timestamp")))
          val sid = streamId(checkpoint)
          commitBatch(table, sid, batchId, dated,
            legacySids = Seq(legacyStreamId(checkpoint)))
          // CDC event log: per-batch dir written with OVERWRITE — replays
          // rewrite, never duplicate. Dir name has no '=' so partition
          // discovery doesn't invent a duplicate column. emitted_at MUST
          // come from the shared CdcLog clock: a second clock would let
          // an event land at or below a consumer's committed cursor and
          // be dropped at its strict-'>' filter.
          emitInsertCdc(table, sid, batchId, dated)
        }
        ()
      }
      .start()
  }

  /** Read the CDC log (consumer side of the subscription surface) —
    * INSERT/BATCH from streaming ingest plus UPDATE/DELETE from
    * [[graft.mutate.Mutations]], one unified schema. */
  def cdcLog(table: String): DataFrame = CdcLog.read(store, table)

  /** Schemaless variant of [[startJsonIngest]] — the reference ingests
    * arbitrary proto-Struct payloads without a declared schema
    * (`internal/ingest/ingest.go:124-152`). Each micro-batch infers its
    * own payload schema (`spark.read.json` over the batch's lines) and
    * is conformed to the table's persisted dynamic-schema registry
    * ([[graft.catalog.TableStore.conformDynamicBatch]]): numbers →
    * double, nested values → JSON text, cross-batch type conflicts
    * widen to string and migrate storage once — so batches of different
    * shapes land with a union-by-name-readable widened schema. */
  def startDynamicJsonIngest(
      table: String,
      sourceDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    store.ensureTable(table)
    spark.readStream
      .format("text")
      .load(sourceDir)
      .writeStream
      .queryName(s"ingest-dyn-$table")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val sparkB = batch.sparkSession
          import sparkB.implicits._
          val parsed = sparkB.read.json(batch.select("value").as[String])
          // the table lock must span schema conformance AND the commit:
          // conformDynamicBatch can widen a conflicting column, which
          // rewrites the whole table (migrateColumnsToString's partition
          // delete→rename swap) — interleaving that with a concurrent
          // mutation/compaction rewrite loses rows. Reentrant, so
          // commitBatch's own lock acquisition stays safe.
          store.withTableLock(table) {
            val dated = store.conformDynamicBatch(table, parsed)
            val sid = streamId(checkpoint)
            commitBatch(table, sid, batchId, dated,
              legacySids = Seq(legacyStreamId(checkpoint)))
            emitInsertCdc(table, sid, batchId, dated)
          }
        }
        ()
      }
      .start()
  }

  /** CDC INSERT events for a committed micro-batch — the ONE emit path
    * every ingest variant shares (per-batch dir written with OVERWRITE:
    * replays rewrite, never duplicate; `emitted_at` MUST come from the
    * shared CdcLog clock — see [[startJsonIngest]]). */
  private def emitInsertCdc(table: String, sid: String, batchId: Long,
      dated: DataFrame): Unit =
    CdcTransport.forStore(store).publishBatch(store, table, s"$sid-b$batchId",
      dated.select(
        lit("INSERT").as("op"),
        col("id"),
        col("timestamp"),
        lit(batchId).as("batch_id"),
        lit(CdcLog.nextEmittedAt()).as("emitted_at")))

  /** Shared keyed-dedup ingest: watermark + dropDuplicates on the key,
    * then the idempotent batch commit + CDC INSERT events — one plumbing
    * path for the id- and content-keyed variants so
    * commit/watermark/CDC fixes cannot drift between them.
    *
    * @param derivedKey None = dedup directly on the `id` column (keeps
    *        the state-store key schema of checkpoints created before the
    *        content variant existed — a derived-column key would break
    *        their restart continuity); Some(fp) = dedup on the derived
    *        fingerprint column. */
  private def startKeyedDedupIngest(
      table: String,
      sourceDir: String,
      schema: StructType,
      checkpoint: String,
      queryName: String,
      derivedKey: Option[org.apache.spark.sql.Column],
      watermark: String,
      trigger: Trigger): StreamingQuery = {
    // fail at START, not mid-stream: the record model requires id +
    // timestamp (commit partitions on timestamp, CDC carries id), and a
    // payload field named like the reserved key column would be silently
    // replaced-then-dropped
    require(schema.fieldNames.contains("id") && schema.fieldNames.contains("timestamp"),
      "ingest schema must carry 'id' and 'timestamp' columns")
    require(!schema.fieldNames.contains("_graft_dk"),
      "schema must not contain the reserved column '_graft_dk'")
    store.ensureTable(table)
    val src = spark.readStream.schema(schema).json(sourceDir)
    val deduped = derivedKey match {
      case None => src
        .withWatermark("timestamp", watermark)
        .dropDuplicatesWithinWatermark("id")
      case Some(key) => src
        .withColumn("_graft_dk", key)
        .withWatermark("timestamp", watermark)
        .dropDuplicatesWithinWatermark("_graft_dk")
        .drop("_graft_dk")
    }
    deduped.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val dated = batch.withColumn("date", to_date(col("timestamp")))
          val sid = streamId(checkpoint)
          commitBatch(table, sid, batchId, dated,
            legacySids = Seq(legacyStreamId(checkpoint)))
          // subscribers see the SURVIVING records (post-dedup)
          emitInsertCdc(table, sid, batchId, dated)
        }
        ()
      }
      .start()
  }

  /** Start a json ingest stream that DEDUPES by record id across
    * micro-batches (streaming state + watermark): re-sent records within
    * the watermark horizon land exactly once — the idempotent-write
    * guarantee the reference approximates with buffer-key replacement
    * (`concurrent_buffer.go:1016-1042`). */
  def startDedupedJsonIngest(
      table: String,
      sourceDir: String,
      schema: StructType,
      checkpoint: String,
      watermark: String = "1 day",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startKeyedDedupIngest(table, sourceDir, schema, checkpoint,
      s"ingest-dedup-$table", derivedKey = None, watermark, trigger)

  /** Start a json ingest stream that DEDUPES by CONTENT fingerprint
    * across micro-batches — the streaming form of the pipeline's exact
    * dedup (d01): re-sent or mirrored documents with identical content
    * in `contentCols` land exactly once within the watermark horizon,
    * regardless of their record ids. The fingerprint matches d01's
    * normalization (lower + trim per column, like
    * [[graft.functions.TextFunctions.md5Fingerprint]]) and encodes the
    * column TUPLE as JSON — unambiguous, so ("a b","c") and ("a","b c")
    * can never collide the way a separator-join would, and null vs
    * empty stay distinct. State carries one md5 per distinct content
    * within the horizon; the watermark bounds it. */
  def startContentDedupedJsonIngest(
      table: String,
      sourceDir: String,
      schema: StructType,
      checkpoint: String,
      contentCols: Seq[String],
      watermark: String = "1 day",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(contentCols.nonEmpty, "contentCols must name at least one column")
    val fp = md5(to_json(struct(
      contentCols.map(c => lower(trim(col(c).cast("string"))).as(c)): _*)).cast("binary"))
    startKeyedDedupIngest(table, sourceDir, schema, checkpoint,
      s"ingest-cdedup-$table", derivedKey = Some(fp), watermark, trigger)
  }

  /** Watermarked sliding-window aggregation over a streaming frame —
    * the reference's "hourly DATE_TRUNC" benchmark shape as a live
    * stream (SURVEY.md §2.1). Caller supplies the streaming source df
    * (e.g. readStream on the events table). */
  def windowedCounts(events: DataFrame, window_ : String = "5 minutes",
      slide: String = "1 minute", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
}
