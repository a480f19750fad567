package graft.serve

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.hadoop.fs.Path

import graft.catalog.TableStore
import graft.ingest.{DynRecord, IdGen, IdStrategy, TableConfig}
import graft.maintain.Compaction
import graft.mutate.Mutations
import graft.query.QueryEngine

/** Transport-agnostic facade mapping the reference's service verbs
  * (gRPC `MinIODBService`, `miniodb.proto:12-39`; REST `/v1/...`) onto the
  * engine. A gRPC/REST layer would be a thin codec around these calls —
  * no network deps exist in this environment, so the surface stops at
  * typed methods with the same semantics:
  *
  *   WriteData → [[writeData]]       QueryData → [[queryData]]
  *   UpdateData → [[updateData]]     DeleteData → [[deleteData]]
  *   StreamQuery → [[streamQuery]]   CreateTable → [[createTable]]
  *   ListTables → [[listTables]]     GetTable → [[getTable]]
  *   DeleteTable → [[deleteTable]]   Backup/Restore → [[backup]]/[[restore]]
  *   HealthCheck → [[healthCheck]]   GetMetrics → [[metrics]]
  *   AuthService.GetToken → [[getToken]]  RefreshToken → [[refreshToken]]
  *   RevokeToken → [[revokeToken]]  (JWT validation → [[validateToken]])
  *
  * @param authSecret HMAC secret enabling the auth verbs; None = auth
  *                   disabled (reference `auth.enabled: false` mode)
  * @param defaultTable when set, legacy `FROM table` queries resolve to
  *                     this table (reference `miniodb_service.go:663-681`)
  * @param auditPath when set, every mutation verb appends a JSONL audit
  *                  entry — success AND failure, with error text and
  *                  duration — to this file (reference
  *                  `internal/audit/audit.go:87-158`; None = audit
  *                  disabled, the reference's `audit.enabled: false`)
  * @param apiSecret the CLIENT-presented mint credential for
  *                  [[getToken]] — the reference separates the
  *                  `api_key/secret` credential from the token-signing
  *                  key (`internal/config`), so a client authorized to
  *                  mint tokens need not hold the HMAC signing key
  *                  (which could forge arbitrary tokens and bypass
  *                  revocation). None = the documented single-secret
  *                  mode, falling back to `authSecret` as before. */
class ServiceFacade(store: TableStore, authSecret: Option[String] = None,
    defaultTable: Option[String] = None, auditPath: Option[String] = None,
    apiSecret: Option[String] = None) {

  val engine = new QueryEngine(store, defaultTable = defaultTable.map(canon))
  private val auth = authSecret.map(new AuthService(_))
  private def authOr[T](f: AuthService => T): T =
    f(auth.getOrElse(throw new IllegalStateException("auth is not enabled")))

  /** GetToken (reference `GetTokenRequest{api_key, secret}` →
    * `ValidateCredentials`, `internal/transport/grpc/server.go:654-665`):
    * the caller must present the deployment's shared API secret before
    * a token is minted — an OPEN token mint would make bearer auth on
    * every other route decorative (any caller could name any subject).
    * Timing-safe compare against the DISTINCT `apiSecret` when
    * configured (clients then never hold the signing key); falls back
    * to `authSecret` in single-secret mode. */
  def getToken(subject: String, secret: String): AuthService#TokenPair =
    authOr { a =>
      require(subject != null && subject.nonEmpty, "subject is required")
      val ok = secret != null && apiSecret.orElse(authSecret).exists(s =>
        java.security.MessageDigest.isEqual(
          s.getBytes("UTF-8"), secret.getBytes("UTF-8")))
      require(ok, "invalid credentials")
      a.issue(subject)
    }

  def validateToken(token: String): Either[String, AuthService#Claims] =
    authOr(_.validate(token))

  def refreshToken(refreshTok: String): Either[String, AuthService#TokenPair] =
    authOr(_.refresh(refreshTok))

  def revokeToken(token: String): Either[String, Unit] = authOr(_.revoke(token))

  /** Whether the auth verbs are enabled (transport layers gate requests
    * on this — reference `auth.enabled` config). */
  def authEnabled: Boolean = auth.isDefined
  private val mutations = new Mutations(store)
  private val compactor = new Compaction(store)

  // ----------------------------------------------------------------- audit
  private val audit = auditPath.map(new AuditLog(_))

  def auditEnabled: Boolean = audit.isDefined

  private def auditLog(action: String, table: String, recordId: String,
      success: Boolean, error: String, t0: Long): Unit =
    audit.foreach(_.log(action, table, recordId, success, error,
      (System.nanoTime() - t0) / 1000000L))

  /** Run a mutation verb under the audit trail: one entry per ATTEMPT
    * (the CDC log records only applied facts — denied/failed attempts
    * exist only here, the reference's audit semantics). */
  private def audited[T](action: String, table: String,
      recordId: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try { val r = f; auditLog(action, table, recordId, success = true, null, t0); r }
    catch { case e: Throwable =>
      auditLog(action, table, recordId, success = false,
        String.valueOf(e.getMessage), t0)
      throw e
    }
  }

  // QueryStats mirror (reference `query.go:124-138`)
  private val totalQueries = new LongAdder
  private val failedQueries = new LongAdder
  private val totalWrites = new LongAdder
  private val totalLatencyNs = new LongAdder
  private val slowQueries = new AtomicLong(0)
  val SlowQueryMs = 1000L

  /** Table names, the default table's included, are canonicalized to
    * lowercase at the service boundary: SQL identifiers are
    * case-insensitive in Spark (and `SqlGate` lowercases the relation
    * names it collects from the substituted plan), so without this a
    * table created as "Events" over REST would be unqueryable as
    * `SELECT * FROM Events` — the store's maps and paths are
    * case-sensitive. One convention at the one place every transport
    * funnels through. */
  private def canon(table: String): String =
    if (table == null) table else table.toLowerCase(java.util.Locale.ROOT)

  final case class WriteResult(id: String, table: String)

  /** WriteData: id resolution per table strategy + buffered ingest.
    * Audited with the RESOLVED id on success (a generated id must be
    * traceable from the trail alone), the submitted one on failure. */
  def writeData(tableRaw: String, record: DynRecord): WriteResult = {
    val table = canon(tableRaw)
    val t0 = System.nanoTime()
    try {
      val cfg = store.ensureTable(table)
      val id =
        if (record.id != null && record.id.nonEmpty) {
          require(IdGen.validate(record.id, cfg.idPattern), s"invalid id '${record.id}'")
          record.id
        } else IdGen.generate(cfg.idStrategy match {
          case IdStrategy.UserProvided => IdStrategy.Uuid // must generate something
          case s => s
        })
      store.write(table, Seq(record.copy(id = id)))
      totalWrites.increment()
      auditLog("write", table, id, success = true, null, t0)
      WriteResult(id, table)
    } catch { case e: Throwable =>
      auditLog("write", table, String.valueOf(record.id), success = false,
        String.valueOf(e.getMessage), t0)
      throw e
    }
  }

  /** QueryData: SQL in, JSON rows out, optional limit (reference appends
    * `LIMIT n`, `miniodb_service.go:624-626`). */
  def queryData(sql: String, limit: Int = 0): Either[String, String] = {
    val t0 = System.nanoTime()
    val res = engine.executeJson(sql, limit)
    val ns = System.nanoTime() - t0
    totalQueries.increment(); totalLatencyNs.add(ns)
    if (res.isLeft) failedQueries.increment()
    if (ns / 1000000 > SlowQueryMs) slowQueries.incrementAndGet()
    res
  }

  /** StreamQuery: cursor-paginated result batches (default 100, max
    * 10000 — reference `miniodb_service.go:1276-1377`). */
  def streamQuery(sql: String, cursor: Long = 0,
      pageSize: Int = 100): Either[String, (Array[String], Long)] =
    engine.executePage(sql, cursor, math.min(math.max(pageSize, 1), 10000))

  def updateData(tableRaw: String, record: DynRecord): Long = {
    val table = canon(tableRaw)
    audited("update", table, String.valueOf(record.id)) {
      // same id gate as writeData: an update with an empty or
      // pattern-violating id would otherwise write exactly the
      // empty-id garbage cleanupEmptyIds exists to purge (updates are
      // id-KEYED, so unlike writeData there is no generate fallback)
      val cfg = store.ensureTable(table)
      require(record.id != null && record.id.nonEmpty &&
          graft.ingest.IdGen.validate(record.id, cfg.idPattern),
        s"invalid id '${record.id}' for update")
      mutations.updateById(table, record)
    }
  }

  def deleteData(table: String, id: String): Long =
    audited("delete", canon(table), id) { mutations.deleteById(canon(table), id) }

  /** Purge rows whose id is empty/blank (reference
    * `POST /v1/data/cleanup-empty-ids`). */
  def cleanupEmptyIds(table: String): Long =
    audited("cleanup_empty_ids", canon(table), "") {
      mutations.cleanupEmptyIds(canon(table))
    }

  // ------------------------------------------------------- subscriptions

  /** Poll a consumer group's CDC events (reference Subscribe verbs,
    * `internal/subscription/manager.go`): up to `limit` events strictly
    * newer than the group's committed cursor, oldest first, plus the
    * high-water mark (micros) OF THE RETURNED SLICE — the value a
    * stateless client passes to [[commitEvents]]. At-least-once:
    * uncommitted polls re-deliver.
    *
    * The page is [[graft.streaming.CdcConsumer.pending]] cut to `limit`
    * and collected as (JSON, emitted_at) in one job, so the mark comes
    * from the rows delivered and nothing stays pinned. */
  def pollEvents(table: String, group: String,
      limit: Int = 1000): (Array[String], Long) = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    val page = new graft.streaming.CdcConsumer(store, canon(table), group).pending()
      .limit(math.min(math.max(limit, 1), 10000))
      .select(to_json(struct(col("*"))), col("emitted_at"))
      .collect()
    (page.map(_.getString(0)),
      page.lastOption.map(r => graft.streaming.CdcLog.toMicros(r.getTimestamp(1))).getOrElse(0L))
  }

  /** Advance a consumer group's cursor to an explicit high-water mark
    * from a previous poll (never moves backwards). */
  def commitEvents(table: String, group: String, highWater: Long): Unit =
    new graft.streaming.CdcConsumer(store, canon(table), group).commitAt(highWater)

  def createTable(table: String, config: TableConfig = TableConfig()): Unit =
    audited("create_table", canon(table), "") { store.createTable(canon(table), config) }

  def listTables(): Seq[String] = store.listTables()

  def getTable(table: String): Option[TableConfig] = store.config(canon(table))

  def deleteTable(table: String): Unit =
    audited("delete_table", canon(table), "") { store.dropTable(canon(table)) }

  def compactTable(table: String): (Int, Int, Int) = compactor.compact(canon(table))

  // ---------------------------------------------------------------- backup

  // serialize/parse TableConfig as flat k=v lines (dependency-free, like
  // the schema registry's hand-rolled JSON)
  private def configText(cfg: TableConfig): String = {
    val idStrat = cfg.idStrategy match {
      case IdStrategy.Uuid => "uuid"
      case IdStrategy.Snowflake => "snowflake"
      case IdStrategy.CustomPrefix(p) => s"custom:$p"
      case IdStrategy.UserProvided => "user"
    }
    s"bufferSize=${cfg.bufferSize}\nflushIntervalMs=${cfg.flushIntervalMs}\n" +
      s"retentionDays=${cfg.retentionDays}\nidStrategy=$idStrat\n" +
      s"idPattern=${cfg.idPattern.getOrElse("")}\n"
  }

  private def parseConfig(txt: String): TableConfig = {
    val kv = txt.linesIterator.flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v); case _ => None
    }).toMap
    TableConfig(
      bufferSize = kv.get("bufferSize").flatMap(_.toIntOption).getOrElse(5000),
      flushIntervalMs = kv.get("flushIntervalMs").flatMap(_.toLongOption).getOrElse(15000L),
      retentionDays = kv.get("retentionDays").flatMap(_.toIntOption).getOrElse(0),
      idStrategy = kv.getOrElse("idStrategy", "uuid") match {
        case "snowflake" => IdStrategy.Snowflake
        case "user" => IdStrategy.UserProvided
        case s if s.startsWith("custom:") => IdStrategy.CustomPrefix(s.stripPrefix("custom:"))
        case _ => IdStrategy.Uuid
      },
      idPattern = kv.get("idPattern").filter(_.nonEmpty))
  }

  /** Backup: consistent snapshot of a table's parquet (flush first) plus
    * its table-config metadata into `<dest>/<table>` (reference Backup →
    * MinIO bucket copy + metadata backup). */
  def backup(tableRaw: String, dest: String): Long = {
    val table = canon(tableRaw)
    audited("backup", table, dest) { store.withTableLock(table) {
      // under the table lock: a mutation rewriting partitions mid-copy
      // would yield a torn snapshot
      store.flush(table)
      val conf = store.spark.sparkContext.hadoopConfiguration
      val src = new Path(store.tablePath(table))
      val dst = new Path(s"$dest/$table")
      // source and destination may live on DIFFERENT filesystems
      // (s3a store → local backup dir and vice versa): every dst
      // operation must go through dst's own FileSystem or Hadoop
      // throws "Wrong FS"
      val fs = src.getFileSystem(conf)
      val dstFs = dst.getFileSystem(conf)
      if (!fs.exists(src)) 0L
      else {
        if (dstFs.exists(dst)) dstFs.delete(dst, true)
        org.apache.hadoop.fs.FileUtil.copy(fs, src, dstFs, dst, false, conf)
        store.config(table).foreach { cfg =>
          val out = dstFs.create(new Path(dst, "_graft_config.txt"), true)
          out.write(configText(cfg).getBytes("UTF-8")); out.close()
        }
        dstFs.getContentSummary(dst).getFileCount
      }
    } }
  }

  /** Restore a backup into the live table path (replaces current data
    * and, when the backup carries one, the table config). */
  def restore(tableRaw: String, from: String): Long = {
    val table = canon(tableRaw)
    audited("restore", table, from) { store.withTableLock(table) {
    // lock: restore replaces the table directory wholesale — a flush or
    // batch commit interleaving with the delete+copy would either leak
    // files into the restored table or lose acknowledged rows
    val conf = store.spark.sparkContext.hadoopConfiguration
    val src = new Path(s"$from/$table")
    val dst = new Path(store.tablePath(table))
    // src (backup) and dst (store) may live on different filesystems —
    // address each through its own (the backup() convention)
    val fs = src.getFileSystem(conf)
    val dstFs = dst.getFileSystem(conf)
    require(fs.exists(src), s"no backup for $table at $from")
    // pre-restore un-flushed rows must not survive into the restored
    // table (their WAL segments die with the replaced path)
    store.discardBuffer(table)
    // the version bump runs even when the copy throws: storage has
    // been replaced either way
    try {
      if (dstFs.exists(dst)) dstFs.delete(dst, true)
      org.apache.hadoop.fs.FileUtil.copy(fs, src, dstFs, dst, false, conf)
    } finally store.bumpVersion(table)
    val metaP = new Path(dst, "_graft_config.txt")
    if (dstFs.exists(metaP)) {
      val in = dstFs.open(metaP)
      val txt = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
      store.setConfig(table, parseConfig(txt))
      dstFs.delete(metaP, false) // metadata is registry state, not table data
    } else store.ensureTable(table)
    store.invalidateSchemaCache(table) // registry must re-read the restored snapshot
    dstFs.getContentSummary(dst).getFileCount
  } }
  }

  final case class BackupStatus(table: String, files: Long, bytes: Long,
      modifiedAt: Long, hasMetadata: Boolean)

  /** Default backup destination for the DEST-LESS metadata verbs
    * (gRPC `BackupMetadata`/`RestoreMetadata`/`ListBackups`,
    * `miniodb.proto:30-32`): the reference reads its destination from
    * node config (a fixed MinIO bucket), so the wire requests carry
    * none. A DOT-prefixed child of the store root: `requireValidTable`
    * rejects a leading dot, so the name can NEVER be a user table —
    * a plain-word child (`_meta_backups` is a valid table name) would
    * collide with a table of that name and write snapshots into its
    * live data directory, while a concatenated sibling path breaks on
    * degenerate roots (`/`, `s3a://bucket` → a different bucket). REST
    * keeps the explicit `dest=` form for ad-hoc targets. */
  val metadataBackupDest: String =
    s"${store.root.stripSuffix("/")}/.meta_backups"

  /** ListBackups: tables present under a backup destination. */
  def listBackups(dest: String): Seq[String] = {
    val p = new Path(dest)
    val fs = p.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }

  /** Backup status for one table at a destination (reference
    * GetBackupStatus/metadata verbs). */
  def backupStatus(dest: String, table: String): Option[BackupStatus] = {
    val p = new Path(s"$dest/$table")
    val fs = p.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val sum = fs.getContentSummary(p)
      Some(BackupStatus(table, sum.getFileCount, sum.getLength,
        fs.getFileStatus(p).getModificationTime,
        fs.exists(new Path(p, "_graft_config.txt"))))
    }
  }

  // --------------------------------------------------------------- health

  final case class Health(ok: Boolean, tables: Int, sparkActive: Boolean)

  def healthCheck(): Health =
    Health(ok = !store.spark.sparkContext.isStopped,
      tables = store.listTables().size,
      sparkActive = !store.spark.sparkContext.isStopped)

  final case class Status(
      ok: Boolean, uptimeMs: Long, tables: Seq[String],
      sparkVersion: String, defaultParallelism: Int, executors: Int)

  private val startedAt = System.currentTimeMillis()

  /** GetStatus (reference node/system status verb): liveness plus the
    * engine topology a client would introspect. */
  def getStatus(): Status = {
    val sc = store.spark.sparkContext
    Status(
      ok = !sc.isStopped,
      uptimeMs = System.currentTimeMillis() - startedAt,
      tables = store.listTables(),
      sparkVersion = store.spark.version,
      defaultParallelism = if (sc.isStopped) 0 else sc.defaultParallelism,
      executors = if (sc.isStopped) 0 else sc.statusTracker.getExecutorInfos.length)
  }

  final case class Metrics(
      totalQueries: Long, failedQueries: Long, slowQueries: Long,
      totalWrites: Long, avgQueryMs: Double,
      cacheHits: Long, cacheMisses: Long)

  def metrics(): Metrics = {
    val q = totalQueries.sum
    val (h, m, _, _) = engine.cacheStats
    Metrics(q, failedQueries.sum, slowQueries.get, totalWrites.sum,
      if (q == 0) 0.0 else totalLatencyNs.sum / 1e6 / q, h, m)
  }
}
