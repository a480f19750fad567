package graft.catalog

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._

import graft.ingest.{DynRecord, DynamicSchema, IdStrategy, TableConfig}

/** Table registry + write/read path for dynamic (schemaless) tables.
  *
  * Storage layout: `<root>/<table>/date=YYYY-MM-DD/part-*.parquet` —
  * Hive-style date partitions. The reference's `table/id/date` object
  * layout (`concurrent_buffer.go:745`) creates one directory per record
  * id, which explodes into millions of prefixes at scale; here `id` is a
  * data column (predicate-pushdown + bloom filters serve point lookups)
  * and only `date` partitions. Time-partition pruning
  * (`file_pruning.go:352-605`) is [[graft.core.TimePartitionPrune]]: it
  * derives `date` bounds from `timestamp` filters on relations that
  * [[storageDf]] tags, since Catalyst alone prunes only on `date`.
  *
  * File layout: each data file holds its rows sorted by `id` (tight
  * per-file id min/max) and a parquet bloom filter on `id` sized to the
  * file's rows. [[writeLayout]] is the only writer of table files:
  * flush, the streaming batch commit and every rewrite go through it,
  * and every rewrite or drop of a `date=` directory goes through
  * [[replacePartitions]] (the reference likewise writes through one
  * parquet writer and deletes by rewriting, `query.go:1249-1413`).
  *
  * Write path: records buffer in memory per table (size/interval
  * triggers, reference `config.yaml:36-38`) and flush as one parquet
  * append per batch. Each buffered write is logged to a WAL segment
  * first (see the write-ahead log section below). This batch API
  * mirrors the reference's synchronous buffer+flush semantics including
  * hybrid visibility: [[read]] unions flushed storage with the
  * un-flushed buffer, so data is queryable immediately (reference
  * `query.go:400-427` buffer∪storage).
  *
  * Schema evolution: per-batch inference (numbers widened to double —
  * see [[DynamicSchema]]) + Spark's parquet schema merge on read gives
  * the reference's `union_by_name=true` semantics: missing columns → NULL.
  *
  * File skipping: the reference drops whole files by per-column min/max
  * before a query runs (`file_pruning.go:159-255`). Here a
  * [[FooterCache]] holds each data file's footer facts ([[FileStats]]:
  * schema, row count, min/max/null count of the flat scalar columns),
  * read once per file; flush and every partition swap read the footers
  * they wrote while they hold the table lock. A storage relation merges
  * its schema from those facts (no `mergeSchema` footer job) and lists
  * files through a [[SkippingFileIndex]], which leaves out each file the
  * stats refute and, for `id = v` / `id IN (…)`, each file whose `id`
  * bloom filter rejects every value; such files are never opened.
  * Timestamps are written as TIMESTAMP_MICROS (`GraftSession`), which
  * carries min/max; files written as INT96 have no timestamp bounds and
  * are always kept for timestamp filters.
  *
  * Storage snapshot: [[read]] reuses one resolved storage relation per
  * table (file listing + merged schema) while the table's [[version]] is
  * unchanged, so a read at an unchanged version lists nothing. This
  * relies on the contract the result cache already relies on: every
  * change to a table's storage bumps its version, also when the change
  * fails partway. A writer in another process does not bump this
  * store's versions; its files show up after the next local bump, as for
  * result-cache hits.
  */
class TableStore(val spark: SparkSession, val root: String) {

  private val configs = TrieMap[String, TableConfig]()
  private val buffers = TrieMap[String, ArrayBuffer[DynRecord]]()
  private val lastFlush = TrieMap[String, Long]()
  // WAL segments backing the current in-memory buffer, 1 per write()
  // call; snapshotted and deleted together with the buffer on flush
  private val walSegments = TrieMap[String, ArrayBuffer[org.apache.hadoop.fs.Path]]()
  private val walReplayed = TrieMap[String, Unit]()
  private val walSeq = new AtomicLong(0)
  /** Monotonic per-table version, bumped on every mutation — the result
    * cache's invalidation key (reference invalidates by table name,
    * `query_cache.go:340-412`). */
  val versions = TrieMap[String, AtomicLong]()
  private val snapshots = TrieMap[String, TableStore.Snapshot]()
  private val footers = new FooterCache(spark)

  // Per-table mutation lock. The reference takes a distributed lock per
  // mutation (`miniodb_service.go:692-705`, Redis); here all mutations
  // are driver-coordinated, so a JVM lock gives the same mutual
  // exclusion: without it two concurrent partition rewrites interleave
  // their delete/rename swaps and one writer's survivors are lost. A
  // multi-driver deployment would swap this for a storage-level lease
  // (the lock SITE stays the same). Reentrant: update = locked delete +
  // locked flush inside the update's own lock.
  private val tableLocks = TrieMap[String, java.util.concurrent.locks.ReentrantLock]()

  /** Run `f` holding `table`'s mutation lock. Every mutator of the
    * table's storage layout (flush, partition swap, compaction rewrite,
    * streaming batch commit, schema migration) must run under this. */
  def withTableLock[T](table: String)(f: => T): T = {
    val l = tableLocks.getOrElseUpdate(table, new java.util.concurrent.locks.ReentrantLock())
    l.lock()
    try f finally l.unlock()
  }

  /** Table names are path segments under `root` — an unvalidated name
    * is a path-traversal hole (`dropTable("..")` would recursively
    * delete the data root's PARENT). The reference sanitizes every
    * table identifier (`internal/security/sql_sanitizer.go`); this is
    * the equivalent chokepoint, enforced on every storage-path
    * derivation. */
  private val TableName = "^[A-Za-z0-9_][A-Za-z0-9_.-]{0,127}$".r
  private[graft] def requireValidTable(table: String): Unit =
    require(TableName.matches(table) && !table.contains("..")
        && table != "." && !table.endsWith("."),
      s"invalid table name '$table' — letters, digits, _, -, . only " +
        "(no path separators or traversal)")

  def tablePath(table: String): String = {
    requireValidTable(table)
    s"$root/$table"
  }

  def createTable(table: String, config: TableConfig = TableConfig()): Unit = {
    requireValidTable(table)
    configs.putIfAbsent(table, config)
    versions.putIfAbsent(table, new AtomicLong(0))
    // start the flush-interval clock at creation: a 0 default would make
    // elapsed ≈ epoch-now and force-flush the very first write
    lastFlush.putIfAbsent(table, System.currentTimeMillis())
  }

  /** Implicit creation on first write (reference `EnsureTableExists`). */
  def ensureTable(table: String): TableConfig = {
    createTable(table)
    configs(table)
  }

  /** Force-set a table's config (createTable keeps an existing entry —
    * restore must overwrite it with the backed-up one). */
  def setConfig(table: String, config: TableConfig): Unit = {
    createTable(table, config)
    configs(table) = config
  }

  /** Drop all in-memory buffer/WAL state for `table` WITHOUT flushing —
    * for callers that replace the table's storage wholesale (restore):
    * pre-restore un-flushed rows must not union into, or later flush
    * onto, the restored data, and their WAL segments die with the
    * replaced table path. */
  def discardBuffer(table: String): Unit = withTableLock(table) {
    buffers.get(table).foreach(b => b.synchronized {
      b.clear()
      walSegments.get(table).foreach(_.clear())
    })
    walReplayed.put(table, ()) // the replaced path's segments are gone
    snapshots.remove(table)
  }

  def listTables(): Seq[String] = configs.keys.toSeq.sorted

  def config(table: String): Option[TableConfig] = configs.get(table)

  /** Runs under the table lock: an unlocked drop races a concurrent
    * flush/compaction whose WAL append or tmp-dir rename would
    * resurrect the dropped path as a ghost directory. */
  def dropTable(table: String): Unit = withTableLock(table) {
    configs.remove(table)
    buffers.remove(table)
    walSegments.remove(table)
    walReplayed.remove(table) // segments die with tablePath below
    recordedTypes.remove(table) // a recreated table must not inherit the old schema
    snapshots.remove(table)
    footers.drop(table)
    bumpVersion(table)
    val p = new org.apache.hadoop.fs.Path(tablePath(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  def bumpVersion(table: String): Long =
    versions.getOrElseUpdate(table, new AtomicLong(0)).incrementAndGet()

  def version(table: String): Long =
    versions.get(table).map(_.get).getOrElse(0L)

  // ------------------------------------------------- schema registry
  // Per-batch inference alone is not enough: a field flushed as num in
  // one batch and str in a later batch yields parquet files whose
  // schemas mergeSchema CANNOT reconcile (double vs string) — the table
  // would become permanently unreadable. The registry records each
  // field's type at first observation; a later conflicting batch widens
  // the field to string AND migrates the already-written files once
  // (the reference lets files diverge and leans on DuckDB's
  // union_by_name auto-casting, which Spark does not have).

  private val recordedTypes = TrieMap[String, Map[String, DynamicSchema.VType]]()

  private def schemaFilePath(table: String) = new org.apache.hadoop.fs.Path(
    tablePath(table), "_graft_schema.json")

  private def typeTag(t: DynamicSchema.VType): String = t match {
    case DynamicSchema.VBool => "bool"
    case DynamicSchema.VNum => "num"
    case DynamicSchema.VStr => "str"
    case DynamicSchema.VJson => "json"
  }

  private def tagType(s: String): DynamicSchema.VType = s match {
    case "bool" => DynamicSchema.VBool
    case "num" => DynamicSchema.VNum
    case "str" => DynamicSchema.VStr
    case _ => DynamicSchema.VJson
  }

  /** Drop any in-memory schema-registry state for `table` (needed after
    * out-of-band changes to storage, e.g. ServiceFacade.restore). */
  def invalidateSchemaCache(table: String): Unit = {
    recordedTypes.remove(table)
    snapshots.remove(table)
    footers.drop(table)
  }

  private def loadRecorded(table: String): Map[String, DynamicSchema.VType] =
    recordedTypes.getOrElseUpdate(table, {
      val p = schemaFilePath(table)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) {
        val in = fs.open(p)
        val txt = try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        finally in.close()
        // flat {"col":"tag",...} — hand-parsed, no JSON dep
        "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> tagType(m.group(2))).toMap
      } else if (hasStorage(table)) {
        // bootstrap from existing parquet: tables written before the
        // registry existed (or via StreamingIngest) must still get
        // conflict-widening instead of unreconcilable schema merges
        val derived = storageDf(table).schema.fields.collect {
          case f if !DynamicSchema.SystemColumns.contains(f.name) =>
            f.name -> (f.dataType match {
              case org.apache.spark.sql.types.BooleanType => DynamicSchema.VBool
              case t if t.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
                DynamicSchema.VNum
              case _ => DynamicSchema.VStr
            })
        }.toMap
        recordedTypes(table) = derived
        persistRecorded(table)
        derived
      } else Map.empty
    })

  private def persistRecorded(table: String): Unit = {
    val p = schemaFilePath(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val txt = recordedTypes.getOrElse(table, Map.empty)
      .map { case (k, v) => s""""$k": "${typeTag(v)}"""" }.mkString("{", ", ", "}")
    val out = fs.create(p, true)
    out.write(txt.getBytes("UTF-8")); out.close()
  }

  /** Reconcile a batch's inferred types with the recorded table schema.
    * Returns the effective types; columns whose parquet type must change
    * (non-string → string) are migrated in existing storage first. */
  private def reconcileTypes(table: String,
      batchTypes: Map[String, DynamicSchema.VType],
      readOnly: Boolean = false): Map[String, DynamicSchema.VType] = {
    val recorded = loadRecorded(table)
    val effective = scala.collection.mutable.Map[String, DynamicSchema.VType]()
    val toMigrate = scala.collection.mutable.ArrayBuffer[String]()
    batchTypes.foreach { case (name, bt) =>
      recorded.get(name) match {
        case None => effective(name) = bt
        case Some(rt) if rt == bt => effective(name) = rt
        case Some(rt) =>
          val widened = DynamicSchema.widen(rt, bt)
          effective(name) = widened
          if (rt.spark != widened.spark) toMigrate += name
      }
    }
    if (!readOnly) {
      if (toMigrate.nonEmpty) migrateColumnsToString(table, toMigrate.toSeq)
      recordedTypes(table) = recorded ++ effective
      persistRecorded(table)
    }
    effective.toMap
  }

  /** One-time widening of columns to string in already-written storage
    * (rare: only on a cross-batch type conflict): every partition is
    * rewritten through [[replacePartitions]]. */
  private def migrateColumnsToString(table: String, cols: Seq[String]): Unit = {
    if (!hasStorage(table)) return
    val df = storageDf(table)
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) return
    val casted = present.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("string")))
    replacePartitions(table, Some(casted), partitionDirs(table))
  }

  // ----------------------------------------------------------- file layout

  /** Writes `df` as table files under `path` in the file layout of the
    * class doc: sorted by (`date`, `id`) within each task — a partitioned
    * write needs `date` order, and without it Spark adds its own sort and
    * drops the id order — partitioned by `date`, with an `id` bloom
    * filter. Without a size hint parquet 1.16 gives every file a filter
    * of `parquet.bloom.filter.max.bytes` (1 MB): a 100-row file is
    * 1,050,161 bytes, against 1,837 with the filter sized to 100 ids.
    * The adaptive filter sizes each file's filter to the ids that file
    * holds, which no caller knows before the write: one batch over 30
    * days writes 30 files, each with a thirtieth of the ids. */
  private[graft] def writeLayout(df: DataFrame, mode: String, path: String): Unit =
    df.sortWithinPartitions(Seq("date", "id").filter(df.columns.contains).map(col): _*)
      .write
      .mode(mode)
      .partitionBy("date")
      .option("parquet.bloom.filter.enabled#id", "true")
      // the adaptive key is file-wide but applies only to columns with a
      // filter (id). Its candidates halve from max.bytes: the default 5
      // stop at 64 KB, 11 reach 1 KB
      .option("parquet.bloom.filter.adaptive.enabled", "true")
      .option("parquet.bloom.filter.candidates.number#id", "11")
      .parquet(path)

  /** Names of `table`'s `date=` partition directories. */
  private[graft] def partitionDirs(table: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(tablePath(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName).filter(_.startsWith("date="))
  }

  /** Replaces the `partitions` (`date=…` directory names) of `table` with
    * `rows`: the rows are written through [[writeLayout]] into one
    * sibling tmp dir, outside the table root so that no read discovers it
    * as a partition; then each listed partition's live directory is
    * deleted and its rewritten one, if any, renamed in. A partition left
    * with no rows (or every partition, when `rows` is None) is dropped.
    * The swap is per partition, so a crash loses at most the partition
    * mid-swap. The version is bumped even when the swap throws partway:
    * storage has changed, so cached results and storage snapshots of the
    * old version must not be served. Never an overwrite of a path being
    * read (Spark forbids self-overwrite). */
  private[graft] def replacePartitions(table: String, rows: Option[DataFrame],
      partitions: Seq[String]): Unit = withTableLock(table) {
    val rootP = new org.apache.hadoop.fs.Path(tablePath(table))
    val tmpP = new org.apache.hadoop.fs.Path(tablePath(table) + "__rewrite_tmp")
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tmpP)) fs.delete(tmpP, true)
    rows.foreach(writeLayout(_, "overwrite", tmpP.toString))
    try partitions.foreach { name =>
      val dst = new org.apache.hadoop.fs.Path(rootP, name)
      val src = new org.apache.hadoop.fs.Path(tmpP, name)
      if (fs.exists(dst)) fs.delete(dst, true)
      if (fs.exists(src)) fs.rename(src, dst)
    } finally {
      bumpVersion(table)
      if (fs.exists(tmpP)) fs.delete(tmpP, true)
    }
    cacheFooters(table)
  }

  // ----------------------------------------------------- write-ahead log
  // The reference WALs every buffered write and replays on startup
  // (`internal/wal/wal.go:214-310`, `concurrent_buffer.go:257-359`);
  // without an equivalent, a driver crash loses up to bufferSize
  // un-flushed rows per table. Layout: one `w-<millis>-<seq>.bin`
  // segment per write() call under `<table>/_graft_wal/` (leading
  // underscore → invisible to parquet partition discovery), containing
  // the Java-serialized record batch. Segments die with the flush that
  // persists their rows; a fresh TableStore over the same root replays
  // surviving segments into the buffer before first use. A torn segment
  // (crash mid-append) deserializes with an exception and is dropped —
  // safe, because write() only returns after BOTH the segment and the
  // buffer append, so a torn segment's write was never acknowledged.
  //
  // Durability class: at-least-once. A crash BETWEEN the flush's parquet
  // commit and its segment deletion replays already-persisted rows on
  // restart (same window the reference's WAL truncation has,
  // `wal.go:214-310`); callers needing exactly-once under crash use the
  // streaming path, whose checkpointed commit protocol dedups replays.

  private def walDir(table: String) =
    new org.apache.hadoop.fs.Path(tablePath(table), "_graft_wal")

  private def walAppend(table: String, records: Seq[DynRecord]): org.apache.hadoop.fs.Path = {
    val dir = walDir(table)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seg = new org.apache.hadoop.fs.Path(dir,
      f"w-${System.currentTimeMillis()}%013d-${walSeq.incrementAndGet()}%06d.bin")
    val fsOut = fs.create(seg, true)
    val out = new java.io.ObjectOutputStream(fsOut)
    try {
      out.writeObject(records.toVector)
      out.flush()
      // hsync before acknowledging (the reference WAL fsyncs appends,
      // `wal.go`). It syncs to stable storage only where the stream is
      // Syncable (HDFS, a raw local stream). On `file:` the checksummed
      // stream is not (`hasCapability("hsync")` is false): its hsync()
      // neither throws nor syncs, it only flushes, so the catch below
      // never runs there and an ack survives a process crash, not a
      // machine crash
      try fsOut.hsync() catch { case _: UnsupportedOperationException => fsOut.hflush() }
    } finally out.close()
    seg
  }

  /** Replay surviving WAL segments into the in-memory buffer (once per
    * table per store instance, before first buffer use). */
  private def maybeReplayWal(table: String): Unit =
    if (!walReplayed.contains(table)) withTableLock(table) {
      if (!walReplayed.contains(table)) {
        val dir = walDir(table)
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(dir)) {
          val buf = buffers.getOrElseUpdate(table, ArrayBuffer.empty)
          val segs = walSegments.getOrElseUpdate(table, ArrayBuffer.empty)
          fs.listStatus(dir).filter(_.getPath.getName.startsWith("w-"))
            .sortBy(_.getPath.getName).foreach { st =>
              scala.util.Try {
                val in = new java.io.ObjectInputStream(fs.open(st.getPath))
                try in.readObject().asInstanceOf[Vector[DynRecord]] finally in.close()
              } match {
                case scala.util.Success(recs) => buf.synchronized {
                  buf ++= recs; segs += st.getPath
                }
                case scala.util.Failure(_) => // torn, never acknowledged
                  fs.delete(st.getPath, false)
              }
            }
        }
        walReplayed.put(table, ())
      }
    }

  // ---------------------------------------------------------------- write

  /** Buffered write; flushes when the table's buffer-size trigger fires
    * or `flushIntervalMs` has elapsed since the last flush. Durable
    * before return: the batch is WAL-appended, then buffered. The
    * append is hsync'd, which survives a machine crash only where the
    * stream is Syncable (HDFS); on `file:` the checksummed stream's
    * hsync only flushes, so an ack there survives a process crash
    * only. Runs under the table mutation lock — a write straddling a
    * wholesale storage replacement (restore) would otherwise land its
    * WAL segment under the about-to-be-deleted path while its buffered
    * rows leaked past the restore's buffer discard. */
  def write(table: String, records: Seq[DynRecord]): Unit = {
    val cfg = ensureTable(table)
    withTableLock(table) {
      maybeReplayWal(table)
      val seg = walAppend(table, records)
      val buf = buffers.getOrElseUpdate(table, ArrayBuffer.empty)
      val due = buf.synchronized {
        buf ++= records
        walSegments.getOrElseUpdate(table, ArrayBuffer.empty) += seg
        val elapsed = System.currentTimeMillis() - lastFlush.getOrElse(table, 0L)
        buf.size >= cfg.bufferSize || (buf.nonEmpty && elapsed >= cfg.flushIntervalMs)
      }
      if (due) flush(table) // reentrant: same thread already holds the lock
    }
    bumpVersion(table)
  }

  /** Flush the in-memory buffer to a date-partitioned parquet append;
    * the WAL segments backing the flushed rows are deleted only after
    * the parquet append commits. */
  def flush(table: String): Unit = withTableLock(table) {
    maybeReplayWal(table)
    val buf = buffers.getOrElseUpdate(table, ArrayBuffer.empty)
    // SNAPSHOT, don't drain: concurrent readers take no lock, so the
    // rows must stay visible in the buffer until the parquet append
    // COMMITS — draining first opened a window (the whole multi-second
    // write) where acknowledged rows were in neither buffer nor
    // storage, violating the hybrid read's read-your-writes guarantee.
    // Writers are excluded by the table lock, so the buffer cannot
    // change underneath; a failed append now leaves buffer and WAL
    // untouched (no re-buffer dance). The price is the commit window
    // itself: a reader racing the job commit may see a flushed row in
    // both storage and buffer for the moment before the clear below —
    // transient duplicates beat transient loss. That transient can be
    // PINNED by the ResultCache (a result planned in the window caches
    // at the pre-bump version until this flush's bumpVersion below
    // invalidates it) — accepted because the window is one job-commit
    // wide and mutation verbs re-read; consumers needing exactly-once
    // visibility should dedup on id read-side or re-read when the
    // table version moved mid-query.
    val batch = buf.synchronized(buf.toVector)
    if (batch.nonEmpty) {
      lastFlush(table) = System.currentTimeMillis()
      writeLayout(flattenBatch(batch, Some(table)).withColumn("date", to_date(col("timestamp"))),
        "append", tablePath(table))
      // storage changed: bump before the buffer clear too, so a reader
      // that sees the cleared buffer also sees a version whose storage
      // snapshot holds this append
      bumpVersion(table)
      val segs = buf.synchronized {
        buf.clear()
        walSegments.get(table).map(w => { val v = w.toVector; w.clear(); v })
          .getOrElse(Vector.empty)
      }
      val fs = walDir(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
      segs.foreach(p => fs.delete(p, false))
      bumpVersion(table)
      cacheFooters(table)
    }
  }

  /** Flatten a record batch to a typed DataFrame per the reference's
    * dynamic-schema rules (see [[DynamicSchema]]). When `table` is given,
    * batch types are reconciled against the table's recorded schema
    * (`readOnlySchema=false` additionally widens the registry and
    * migrates storage on conflicts — the flush path; bufferDf passes
    * readOnly so hybrid reads never mutate storage). */
  def flattenBatch(batch: Seq[DynRecord], table: Option[String] = None,
      readOnlySchema: Boolean = false): DataFrame = {
    // stable first-appearance order of payload keys across the batch
    val keyOrder = ArrayBuffer[String]()
    val seen = scala.collection.mutable.Set[String]()
    batch.foreach(_.payload.keys.foreach { k =>
      if (!seen(k)) { seen += k; keyOrder += k }
    })
    val names = DynamicSchema.assignNames(keyOrder.toSeq)
    // widened type per field (within the batch)
    val vtypesRaw: Map[String, DynamicSchema.VType] =
      keyOrder.flatMap { k =>
        val ts = batch.flatMap(r => r.payload.get(k).flatMap(DynamicSchema.typeOf))
        ts.reduceOption(DynamicSchema.widen).map(k -> _)
      }.toMap
    // reconcile with the table's recorded schema (cross-batch widening)
    val byCol = keyOrder.toSeq.collect {
      case k if vtypesRaw.contains(k) => names(k) -> vtypesRaw(k)
    }.toMap
    val colTypes: Map[String, DynamicSchema.VType] =
      table.map(t => reconcileTypes(t, byCol, readOnlySchema)).getOrElse(byCol)
    val payloadFields = keyOrder.toSeq.collect {
      case k if colTypes.contains(names(k)) =>
        (k, StructField(names(k), colTypes(names(k)).spark, nullable = true))
    }
    val schema = StructType(
      StructField("id", StringType, nullable = false) +:
        StructField("timestamp", TimestampType, nullable = false) +:
        payloadFields.map(_._2))
    val rows = batch.map { r =>
      Row.fromSeq(
        r.id +: r.timestamp +: payloadFields.map { case (k, _) =>
          r.payload.get(k).map(DynamicSchema.convert(_, colTypes(names(k)))).orNull
        })
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, math.max(1, rows.size / 5000)),
      schema)
  }

  /** Conform an arbitrary-schema batch DataFrame (e.g. a per-micro-batch
    * inferred JSON frame) to the table's dynamic-schema rules and
    * recorded registry: payload names sanitized/suffixed, numbers →
    * double, nested structs/arrays → JSON text, cross-batch type
    * conflicts widened to string WITH one-time storage migration — the
    * same guarantees the DynRecord path gets from [[flattenBatch]], for
    * callers that already hold a DataFrame (streaming ingest of
    * schemaless payloads; reference `ingest.go:124-152`). Returns the
    * conformed frame with a `date` partition column. */
  def conformDynamicBatch(table: String, parsed: DataFrame): DataFrame = {
    require(parsed.columns.contains("id") && parsed.columns.contains("timestamp"),
      s"dynamic batch for '$table' must carry id and timestamp columns")
    val payload = parsed.schema.fields.filter(f =>
      f.name != "id" && f.name != "timestamp").toSeq
    val names = DynamicSchema.assignNames(payload.map(_.name))
    def vtypeOf(dt: DataType): DynamicSchema.VType = dt match {
      case BooleanType => DynamicSchema.VBool
      case _: NumericType => DynamicSchema.VNum
      case StringType => DynamicSchema.VStr
      case _ => DynamicSchema.VJson
    }
    val batchTypes = payload.map(f => names(f.name) -> vtypeOf(f.dataType)).toMap
    val effective = reconcileTypes(table, batchTypes)
    val cols = Seq(
      parsed("id").cast(StringType).as("id"),
      to_timestamp(parsed("timestamp")).as("timestamp")) ++
      payload.map { f =>
        val c = parsed(f.name)
        val conv = f.dataType match {
          case _: StructType | _: ArrayType | _: MapType => to_json(c)
          case _ => c.cast(effective(names(f.name)).spark)
        }
        conv.as(names(f.name))
      }
    parsed.select(cols: _*).withColumn("date", to_date(col("timestamp")))
  }

  // ----------------------------------------------------------------- read

  private def emptyDf: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("id", StringType), StructField("timestamp", TimestampType))))

  /** Is `table` known to this store (registered, or present in storage)?
    * Uses the Hadoop FileSystem of the root path, so it is correct for
    * s3a/hdfs roots, not just local files. */
  def knownTable(table: String): Boolean =
    configs.contains(table) || hasStorage(table)

  // _SUCCESS markers survive partition deletion — only date= dirs count
  private def hasStorage(table: String): Boolean = partitionDirs(table).nonEmpty

  /** Flushed storage only, freshly listed, with the file skipping of the
    * class doc. The relation carries
    * [[graft.core.TimePartitionPrune.RelationTag]], which lets that rule
    * prune `date` partitions by `timestamp` filters. */
  def storageDf(table: String): DataFrame =
    if (hasStorage(table)) storageRelation(table) else emptyDf

  /** `table`'s data files, freshly listed, with its `date` partitions. */
  private def listing(table: String): InMemoryFileIndex =
    new InMemoryFileIndex(spark, Seq(new org.apache.hadoop.fs.Path(tablePath(table))),
      Map("basePath" -> tablePath(table)), None)

  /** Reads the footers a commit just wrote, under the writer's table
    * lock, so that the next read finds them all cached. */
  private def cacheFooters(table: String): Unit =
    if (hasStorage(table)) footers(table, listing(table).allFiles())

  /** A fresh listing as a relation tagged for TimePartitionPrune, its
    * files skipped by their footer stats. The schema is what
    * `mergeSchema=true` gives: the footers' schemas merged in path
    * order. A listing without data files is the empty relation. */
  private def storageRelation(table: String): DataFrame = {
    val listed = listing(table)
    val stats = footers(table, listed.allFiles())
    PlanBridge.mergeSchemas(spark, stats.keys.toSeq.sorted.map(stats(_).schema)) match {
      case Some(schema) =>
        val index = new SkippingFileIndex(listed, stats, spark.sparkContext.hadoopConfiguration,
          PlanBridge.sqlConf(spark).caseSensitiveAnalysis)
        PlanBridge.parquetRelation(spark, index, schema, Map("basePath" -> tablePath(table),
          graft.core.TimePartitionPrune.RelationTag -> "true"))
      case None => emptyDf
    }
  }

  /** The table's storage at its current version: reused while the
    * version is unchanged, else listed once. The version is read BEFORE
    * listing, so a listing is never stored under a version newer than
    * the storage it saw. */
  private def storageSnapshot(table: String): TableStore.Snapshot = {
    val v = version(table)
    snapshots.get(table).filter(_.version == v).getOrElse {
      val has = hasStorage(table)
      val snap = TableStore.Snapshot(v, has, if (has) storageRelation(table) else emptyDf)
      snapshots.put(table, snap)
      snap
    }
  }

  /** Un-flushed buffer as a DataFrame (hybrid visibility). */
  def bufferDf(table: String): DataFrame = {
    maybeReplayWal(table)
    val buf = buffers.get(table).map(b => b.synchronized(b.toVector)).getOrElse(Vector.empty)
    if (buf.isEmpty) emptyDf
    else flattenBatch(buf, Some(table), readOnlySchema = true)
      .withColumn("date", to_date(col("timestamp")))
  }

  /** Hybrid read: storage ∪ buffer, by name with missing columns → NULL
    * (the reference's `union_by_name=true`). Emptiness is decided from
    * driver-side state (no Spark job) so the common all-flushed path is
    * a plain partitioned scan. The storage half is the version-keyed
    * snapshot (see the class doc); the buffer half is read fresh. */
  def read(table: String): DataFrame = {
    maybeReplayWal(table)
    val bufEmpty = buffers.get(table).forall(b => b.synchronized(b.isEmpty))
    val snap = storageSnapshot(table)
    (snap.hasStorage, bufEmpty) match {
      case (true, true) => snap.df
      case (true, false) =>
        snap.df.unionByName(bufferDf(table), allowMissingColumns = true)
      case (false, false) => bufferDf(table)
      case (false, true) => emptyDf
    }
  }
}

object TableStore {
  /** [[TableStore.read]]'s storage half, valid while `version` is the
    * table's version; `df` is the `storageDf` relation when `hasStorage`. */
  private final case class Snapshot(version: Long, hasStorage: Boolean, df: DataFrame)
}
