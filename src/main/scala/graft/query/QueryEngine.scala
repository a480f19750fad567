package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
import org.apache.spark.sql.graft.{ColumnBridge, PlanBridge}

import graft.catalog.TableStore

/** SQL query execution over a [[TableStore]] — the Spark shape of the
  * reference's `Querier.ExecuteQuery` (`internal/query/query.go:277-375`).
  *
  * Lifecycle (vs SURVEY.md §3.1): validate (one parse, CTEs substituted)
  * → extract tables → cache lookup → bind each table the gated plan reads
  * to its hybrid buffer∪storage read (whose storage half is the store's
  * version-keyed snapshot, so a miss at an unchanged version lists no
  * files) → analyze the bound plan → encode → cache store. The binding is
  * private to the query, like the reference's per-query view
  * (`prepareTableDataWithPruning`, `query.go:1584-1679`): no session
  * catalog entry is made, so engines over different stores share one
  * SparkSession safely. Pruning is Catalyst's, plus
  * [[graft.core.TimePartitionPrune]], which turns `timestamp` bounds into
  * `date` partition bounds (the reference's time-partition pruning), and
  * the store's [[graft.catalog.SkippingFileIndex]], which drops files by
  * footer min/max (the reference's file pruning).
  * LIMIT injection and cursor pagination mirror
  * `miniodb_service.go:624-626` / `StreamQuery` (`:1276-1377`).
  *
  * @param defaultTable when set, the legacy relation name `table`
  *        resolves to this table in this engine's queries (the reference
  *        rewrites `FROM table` to its configured default table,
  *        `miniodb_service.go:663-681`); a real table named `table` wins. */
class QueryEngine(store: TableStore, cache: ResultCache = new ResultCache(),
    defaultTable: Option[String] = None,
    maxStreamBytes: Long = QueryEngine.DefaultMaxStreamBytes) {

  final case class QueryResult(df: DataFrame, tables: Seq[String])

  /** Server-side row cap applied when the caller passes no limit — the
    * reference appends `LIMIT n` unconditionally
    * (`miniodb_service.go:624-626`); without it an unbounded SELECT is a
    * driver OOM at the JSON-encode collect. */
  val DefaultLimit = 10000

  /** Row cap for a paginated stream's materialized snapshot. */
  val MaxStreamRows = 100000

  /** One-pass name resolution: which referenced names the store knows
    * (each check may cost an FS listStatus, so it runs ONCE per query —
    * the planner and the cache-key logic both consume this) and whether
    * the legacy `table` alias applies. */
  private final case class Resolution(known: Seq[String], alias: Option[String]) {
    /** Tables whose versions gate caching (alias target included: its
      * mutations must invalidate alias-query results too). */
    def versioned: Seq[String] = (known ++ alias).distinct
  }

  private def resolve(referenced: Seq[String]): Resolution = {
    val (known, unknown) = referenced.partition(store.knownTable)
    val alias = defaultTable.filter(d =>
      unknown.contains("table") && store.knownTable(d))
    Resolution(known, alias)
  }

  /** Reference-API compat: the documented query surface addresses
    * dynamic fields BOTH flat (`age > 20`) and payload-qualified
    * (`payload.age > 20`, `u.payload.name` — reference
    * `docs/SOLUTION.md:836-849`). Storage here is flattened
    * ([[graft.ingest.DynamicSchema]]), so each bound table additionally
    * exposes a synthesized `payload` struct over the dynamic columns —
    * a minIODB user can paste either spelling. When a query never
    * touches `payload`, Catalyst's column pruning drops the struct
    * before the scan (pinned in ReferenceCompatSpec), so the compat
    * column costs nothing. A flattened field literally named
    * `payload` keeps the name (no synthesis over it). */
  private def withPayloadStruct(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, struct}
    val dyn = df.columns.filterNot(Set("id", "timestamp", "date"))
    if (dyn.isEmpty || dyn.contains("payload")) df
    else df.withColumn("payload", struct(dyn.map(col): _*))
  }

  /** Bind the gated plan's relations and analyze it. Each name the
    * store knows (registered table or existing storage — checked via the
    * store's Hadoop FS, so non-local roots work) is read once and swapped
    * in as an alias over its analyzed read, and so is `table` when the
    * default-table alias applies. Other names stay unresolved: a typo'd
    * or dropped table fails analysis with TABLE_OR_VIEW_NOT_FOUND instead
    * of serving old data. */
  private def plan(gated: SqlGate.Gated, res: Resolution): Either[String, QueryResult] =
    scala.util.Try {
      def bind(name: String, table: String) =
        name -> SubqueryAlias(name, withPayloadStruct(store.read(table)).queryExecution.analyzed)
      val bound = (res.known.map(t => bind(t, t)) ++ res.alias.map(bind("table", _))).toMap
      PlanBridge.dataFrame(store.spark, gated.plan.transformUpWithSubqueries {
        case r @ UnresolvedRelation(Seq(name), _, _) => bound.getOrElse(name.toLowerCase, r)
      })
    } match {
      case scala.util.Success(df) => Right(QueryResult(df, res.known))
      case scala.util.Failure(e) => Left(s"analysis error: ${e.getMessage}")
    }

  /** `df`'s rows as the JSON documents `toJSON` writes, at most `limit`
    * of them. The encoding is a projection under the limit, so the limit
    * is the plan's root and plans as `CollectLimitExec` (or
    * `TakeOrderedAndProjectExec` under an ORDER BY). Encoding above the
    * limit (`df.limit(n).toJSON`) plans it as a local limit, a
    * single-partition exchange and a global limit: one more job. */
  private def jsonRows(df: DataFrame, limit: Int): Dataset[String] = {
    import org.apache.spark.sql.functions.{struct, to_json}
    val row = struct(df.queryExecution.analyzed.output.map(ColumnBridge.column): _*)
    df.select(to_json(row)).limit(limit).as(Encoders.STRING)
  }

  /** Validate + plan a query DataFrame (no execution yet). */
  def query(sql: String, limit: Int = 0): Either[String, QueryResult] =
    SqlGate.validate(store.spark, sql).flatMap(g => plan(g, resolve(g.tables))).map(qr =>
      if (limit > 0) qr.copy(df = qr.df.limit(limit)) else qr)

  /** Execute and return JSON rows (reference returns a JSON array
    * string). Result-cached keyed on exact SQL + table versions; the
    * cache probe happens BEFORE any planning (a hit must not pay table
    * binding / parquet schema listing). Runtime failures come back
    * as Left, never as thrown exceptions. */
  def executeJson(sql: String, limit: Int = 0, useCache: Boolean = true): Either[String, String] =
    SqlGate.validate(store.spark, sql).flatMap { gated =>
      val eff = if (limit > 0) limit else DefaultLimit
      val res = resolve(gated.tables)
      val known = res.versioned
      val k = cache.key(sql + s"|limit=$eff", known)
      val versions = known.map(t => t -> store.version(t)).toMap
      (if (useCache && known.nonEmpty) cache.get(k, versions) else None) match {
        case Some(hit) => Right(hit)
        case None =>
          plan(gated, res).flatMap { qr =>
            scala.util.Try(jsonRows(qr.df, eff).collect().mkString("[", ",", "]")) match {
              case scala.util.Success(json) =>
                // only table-backed results are cacheable: with no known
                // tables the version map is empty and the entry could
                // never be invalidated
                if (useCache && known.nonEmpty) cache.put(k, json, versions)
                Right(json)
              case scala.util.Failure(e) => Left(s"execution error: ${e.getMessage}")
            }
          }
      }
    }

  // Materialized stream snapshots for cursor pagination, LRU-bounded and
  // keyed by an OPAQUE per-stream id (allocated at cursor 0, carried in
  // the cursor's high 32 bits). Keying by SQL text let a second client
  // opening the same SQL at cursor 0 replace another client's snapshot
  // mid-stream, after which the first client's later cursors silently
  // re-executed — for queries without a total ORDER BY the fresh
  // snapshot may order differently, duplicating or dropping rows. With
  // per-stream ids, each stream pages its own immutable point-in-time
  // snapshot (the query executes ONCE, like the reference's materialized
  // StreamQuery) and an evicted stream is an explicit error, never a
  // silent re-execution.
  // Eviction is BYTES-accounted, not entry-counted: MaxStreamRows rows
  // of wide JSON made the old 16-entry count bound gigabytes of driver
  // heap. Bytes = DRIVER-HEAP cost — 2/char of in-heap JSON rows (the
  // same accounting ResultCache uses), or just the 8-byte-per-row offset
  // index for a disk-spilled snapshot; eviction drops
  // least-recently-paged streams until the total fits. A snapshot whose
  // rows exceed the budget is NOT rejected: it spills to a local temp
  // file ([[DiskSnapshot]] — the reference paginates any result,
  // `miniodb_service.go:1276-1377`) and pages from disk by offset, so
  // only its offset index ever counts against driver heap.
  private sealed trait Snapshot {
    def bytes: Long // accounted driver-heap cost
    def rowCount: Int
    /** Largest page end for a page starting at `from` with the client's
      * requested row count — lets a disk snapshot additionally bound a
      * single page's HEAP materialization by the byte budget (a giant
      * pageSize over a giant spilled snapshot must not re-create the
      * unbounded collect this machinery exists to prevent). */
    def pageEnd(from: Int, maxRows: Int): Int
    def slice(from: Int, until: Int): Array[String]
    def close(): Unit
  }
  private final case class HeapSnapshot(rows: Array[String], bytes: Long)
      extends Snapshot {
    def rowCount: Int = rows.length
    def pageEnd(from: Int, maxRows: Int): Int =
      math.min(rows.length.toLong, from.toLong + maxRows).toInt
    def slice(from: Int, until: Int): Array[String] = rows.slice(from, until)
    def close(): Unit = ()
  }
  /** Rows spilled to a local temp file as newline-delimited UTF-8 JSON
    * (`to_json` emits single-line documents, so '\n' is a safe row
    * terminator); `offsets(i)` = byte offset of row i, plus a final
    * end-of-data sentinel. Heap cost is the offset index alone. */
  private final class DiskSnapshot(file: java.io.File, offsets: Array[Long],
      pageByteCap: Long) extends Snapshot {
    val bytes: Long = offsets.length.toLong * 8
    def rowCount: Int = offsets.length - 1
    def pageEnd(from: Int, maxRows: Int): Int = {
      val reqEnd = math.min(rowCount.toLong, from.toLong + maxRows).toInt
      var hi = from
      // always make ≥1 row of progress, even a single over-cap row —
      // a row can't split, and zero progress would loop the client
      while (hi < reqEnd &&
          (hi == from || offsets(hi + 1) - offsets(from) <= pageByteCap))
        hi += 1
      hi
    }
    def slice(from: Int, until: Int): Array[String] = {
      val lo = math.max(0, from); val hi = math.min(rowCount, until)
      if (hi <= lo) return Array.empty
      val raf = new java.io.RandomAccessFile(file, "r")
      try {
        val buf = new Array[Byte]((offsets(hi) - offsets(lo)).toInt)
        raf.seek(offsets(lo)); raf.readFully(buf)
        val out = new Array[String](hi - lo)
        var i = lo
        while (i < hi) {
          out(i - lo) = new String(buf, (offsets(i) - offsets(lo)).toInt,
            (offsets(i + 1) - 1 - offsets(i)).toInt, "UTF-8") // -1 drops '\n'
          i += 1
        }
        out
      } finally raf.close()
    }
    def close(): Unit = { file.delete(); () }
  }
  private val streams = new java.util.LinkedHashMap[Long, Snapshot](32, 0.75f, true)
  private var streamBytes = 0L
  // private[query] so the sid-collision spec can wind the allocator back
  // (a real collision needs 2^31 opens)
  private[query] val nextStreamId = new java.util.concurrent.atomic.AtomicLong(0)

  private[query] def accountedStreamBytes: Long = streams.synchronized(streamBytes)

  private[query] def admitStream(sid: Long, snap: Snapshot): Unit = streams.synchronized {
    // a replaced live entry (sid collision after 2^31 streams) must give
    // its bytes back — and release its disk file — or the budget leaks
    val prev = streams.put(sid, snap)
    if (prev != null) { streamBytes -= prev.bytes; prev.close() }
    streamBytes += snap.bytes
    // access-ordered map: eldest (least-recently-paged) first; the
    // just-admitted sid sits at the tail and is never evicted here
    val it = streams.entrySet().iterator()
    while (streamBytes > maxStreamBytes && it.hasNext) {
      val e = it.next()
      if (e.getKey != sid) {
        streamBytes -= e.getValue.bytes; e.getValue.close(); it.remove()
      }
    }
  }

  private def packCursor(sid: Long, offset: Int): Long = (sid << 32) | offset.toLong

  /** Materialize a plan into a snapshot WITHOUT ever holding an
    * over-budget result in driver heap: rows stream in one partition at
    * a time (`toLocalIterator`), accumulate on-heap only while under
    * the byte budget, and the moment the budget is crossed everything
    * drains to a local temp file instead — heap stays bounded by
    * budget + one partition regardless of result width. */
  private def openSnapshot(json: Dataset[String]): Snapshot = {
    val it = json.toLocalIterator()
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    var heapBytes = 0L
    while (it.hasNext && heapBytes <= maxStreamBytes) {
      val r = it.next(); rows += r; heapBytes += r.length.toLong * 2
    }
    if (heapBytes <= maxStreamBytes) HeapSnapshot(rows.toArray, heapBytes)
    else {
      val file = java.io.File.createTempFile("graft-stream-", ".jsonl")
      file.deleteOnExit() // backstop; eviction/replacement deletes eagerly
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(file), 1 << 20)
      val offsets = scala.collection.mutable.ArrayBuffer.empty[Long]
      var pos = 0L
      def emit(r: String): Unit = {
        val b = r.getBytes("UTF-8")
        offsets += pos; out.write(b); out.write('\n'); pos += b.length + 1
      }
      try {
        rows.foreach(emit); rows.clear()
        while (it.hasNext) emit(it.next())
      } finally out.close()
      offsets += pos // end-of-data sentinel
      new DiskSnapshot(file, offsets.toArray, maxStreamBytes)
    }
  }

  /** Cursor pagination for server-streaming results (StreamQuery):
    * cursor 0 opens a stream — executes the plan once into a capped
    * snapshot (`MaxStreamRows`, disk-spilled when over the heap
    * budget) under a fresh opaque stream id — and every returned
    * cursor encodes that id, so later pages are pure driver-side
    * slices of the SAME snapshot (-1 = exhausted). A cursor for an
    * evicted/unknown stream fails explicitly; clients restart at
    * cursor 0. */
  def executePage(sql: String, cursor: Long, pageSize: Int): Either[String, (Array[String], Long)] = {
    if (cursor < 0)
      return Left(s"invalid cursor $cursor")
    SqlGate.validate(store.spark, sql).flatMap { gated =>
      if (cursor == 0) {
        val res = resolve(gated.tables)
        plan(gated, res).flatMap { qr =>
          scala.util.Try(openSnapshot(jsonRows(qr.df, MaxStreamRows))) match {
            case scala.util.Success(snap) =>
              // sid stays in [1, 2^31): positive cursors, no offset overlap
              val sid = nextStreamId.updateAndGet(s => (s % (Int.MaxValue - 1)) + 1)
              admitStream(sid, snap)
              Right(slicePage(sid, snap, 0, pageSize))
            case scala.util.Failure(e) => Left(s"execution error: ${e.getMessage}")
          }
        }
      } else {
        val sid = cursor >>> 32
        val from = (cursor & 0xFFFFFFFFL).toInt
        // offsets are only ever packed ≤ MaxStreamRows; a forged cursor
        // with high offset bits sign-extends negative here — reject it
        if (from < 0) return Left(s"invalid cursor $cursor")
        streams.synchronized(Option(streams.get(sid))) match {
          case Some(snap) =>
            // the snapshot can be EVICTED between the map lookup and
            // the slice (admitStream on another request closes it and
            // deletes a disk-spilled snapshot's file) — surface that as
            // the documented expired-cursor error, not an uncaught
            // FileNotFoundException → 500
            try Right(slicePage(sid, snap, from, pageSize))
            catch { case _: java.io.IOException | _: IllegalStateException =>
              Left(s"unknown or expired stream cursor $cursor — " +
                "restart at cursor 0")
            }
          case None => Left(
            s"unknown or expired stream cursor $cursor — restart at cursor 0")
        }
      }
    }
  }

  private def slicePage(sid: Long, snap: Snapshot, from: Int,
      pageSize: Int): (Array[String], Long) = {
    // long arithmetic inside pageEnd: a client-controlled pageSize near
    // Int.MaxValue must not wrap from+pageSize negative (which would
    // both pass the end-of-stream check and sign-extend over the sid
    // bits in the packed cursor); clamp to ≥1 so a non-positive size
    // cannot loop
    val ps = math.max(1, pageSize)
    val end = snap.pageEnd(from, ps)
    val page = snap.slice(from, end)
    if (end < snap.rowCount) (page, packCursor(sid, end))
    else (page, -1L)
  }

  def cacheStats: (Long, Long, Int, Long) = cache.stats
}

object QueryEngine {
  /** Default driver-heap budget for all live pagination snapshots. */
  val DefaultMaxStreamBytes: Long = 64L << 20
}
