package graft.serve

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.ingest.{DynRecord, IdStrategy, TableConfig}
import ProtoWire._

/** gRPC verb codecs for the reference's protobuf service surface
  * (`miniodb.proto:12-46`), kept apart from [[GrpcServer]]'s HTTP/2
  * framing: request message in, response message out, field numbers
  * cited per verb. The two streaming verbs are the exception —
  * [[streamQueryIterator]] yields one message per page and
  * [[StreamWriteFold]] folds request messages as they arrive; the
  * server intercepts both before it calls [[unary]].
  *
  * Errors are [[GrpcDispatch.GrpcStatus]] exceptions carrying the
  * public gRPC status code; the server maps them onto its trailers. */
private[serve] final class GrpcDispatch(facade: ServiceFacade) {
  import GrpcDispatch._

  private val mapper = new ObjectMapper()

  /** Route one unary call to its response message. */
  def unary(service: String, method: String, req: PMsg): Array[Byte] =
    service match {
      case "miniodb.v1.MinIODBService" => miniodb(method, req)
      case "miniodb.v1.AuthService" => auth(method, req)
      case other => fail(Unimplemented, s"unknown service $other")
    }

  /** True when `method` must present a bearer token (HealthCheck stays
    * open; AuthService verbs carry their own credentials). */
  def needsBearer(service: String, method: String): Boolean =
    service == "miniodb.v1.MinIODBService" && method != "HealthCheck"

  /** Validate a bearer token when the facade has auth enabled. */
  def requireBearer(token: Option[String]): Unit =
    if (facade.authEnabled) {
      val tok = token.getOrElse(fail(Unauthenticated, "missing bearer token"))
      facade.validateToken(tok) match {
        case Left(err) => fail(Unauthenticated, err)
        case Right(_) => ()
      }
    }

  /** Server-streaming StreamQuery (`miniodb.proto:21`, `returns (stream
    * StreamQueryResponse)`) as a LAZY pull: each `next()` fetches and
    * encodes exactly one page, a StreamQueryResponse{records=1 repeated
    * DataRecord, has_more=2, cursor=3}. Every frame carries the resume
    * cursor, so an interrupted client re-enters mid-stream with
    * request.cursor; rows ride as DataRecord payload Structs. The server
    * drives this from write-completion callbacks, so a slow reader
    * exerts genuine backpressure — no page is fetched until the previous
    * frame's bytes left the flow controller. */
  def streamQueryIterator(req: PMsg): Iterator[Array[Byte]] = {
    val cursor = str(req, 3) match {
      case "" => 0L
      case s => try s.toLong
        catch { case _: NumberFormatException => fail(InvalidArgument, "bad cursor") }
    }
    val sql = str(req, 1)
    val batch = math.max(1, i32(req, 2))
    new Iterator[Array[Byte]] {
      private var cur = cursor
      private var more = true
      def hasNext: Boolean = more
      def next(): Array[Byte] =
        facade.streamQuery(sql, cur, batch) match {
          case Left(err) => fail(InvalidArgument, err)
          case Right((rows, nxt)) =>
            val resp = w
            rows.foreach { rowJson =>
              val m = jsonToMap(mapper.readTree(rowJson))
              val rec = w
              m.get("id").collect { case s: String => rec.string(1, s) }
              rec.msg(3, writeStruct(m))
              resp.msg(1, rec)
            }
            resp.bool(2, nxt > 0).string(3, if (nxt > 0) nxt.toString else "")
            // rows.isEmpty guards a facade that reports progress on an
            // empty page — the stream must terminate regardless
            more = nxt > 0 && rows.nonEmpty
            cur = nxt
            resp.bytes
        }
    }
  }

  /** The CLIENT-STREAMING verb (`miniodb.proto:20`): every
    * StreamWriteRequest{records=1 repeated DataRecord, table=2} of the
    * stream folds into one StreamWriteResponse{success=1,
    * records_count=2, errors=3}. The server feeds each request message
    * AS IT COMPLETES on the wire, so a long-running client stream holds
    * O(1 message) transport memory — only the running count and the
    * (bounded) error list persist. Per-record failures collect instead
    * of aborting the stream (the reference's batch-write semantics). */
  final class StreamWriteFold {
    private var count = 0L
    private val errors = Seq.newBuilder[String]
    private var nErrors = 0

    /** Records applied so far — surfaced in the error trailer when the
      * client's stream ends mid-message, so the partial effect of a
      * truncated stream is reconcilable. */
    def records: Long = count

    def add(m: PMsg): Unit = {
      val table = str(m, 2)
      subs(m, 1).foreach { rec =>
        try { facade.writeData(table, record(rec)); count += 1 }
        catch { case e: Exception =>
          nErrors += 1
          // bound the retained list: an adversarial all-failing stream
          // must not grow driver memory with the stream's length
          if (nErrors <= 64) errors += s"${str(rec, 1)}: ${e.getMessage}"
        }
      }
    }

    def finish(): Array[Byte] = {
      val errs = errors.result()
      val resp = w.bool(1, nErrors == 0, keep = true).int64(2, count)
      errs.foreach(e => resp.string(3, e))
      if (nErrors > errs.size)
        resp.string(3, s"... and ${nErrors - errs.size} more")
      resp.bytes
    }
  }
  // --------------------------------------------------- MinIODBService

  private def miniodb(method: String, req: PMsg): Array[Byte] =
    method match {
      // WriteDataRequest{table=1, data=2: DataRecord{id=1, timestamp=2,
      // payload=3}} -> WriteDataResponse{success=1, message=2, node_id=3}
      case "WriteData" =>
        val data = sub(req, 2).getOrElse(fail(InvalidArgument, "data is required"))
        val r = facade.writeData(str(req, 1), record(data))
        w.bool(1, true).string(2, r.id).string(3, "local").bytes
      // QueryDataRequest{sql=1, limit=2} ->
      // QueryDataResponse{result_json=1, has_more=2, next_cursor=3}
      case "QueryData" =>
        facade.queryData(str(req, 1), i32(req, 2)) match {
          case Right(json) => w.string(1, json).bytes
          case Left(err) => fail(InvalidArgument, err)
        }
      // UpdateDataRequest{table=1, id=2, payload=3, timestamp=4} ->
      // UpdateDataResponse{success=1, message=2, node_id=3}
      case "UpdateData" =>
        val ts = sub(req, 4).map(readTimestamp)
          .getOrElse(new java.sql.Timestamp(System.currentTimeMillis()))
        val payload = sub(req, 3).map(readStruct).getOrElse(Map.empty)
        val n = facade.updateData(str(req, 1),
          DynRecord(str(req, 2), ts, payload))
        w.bool(1, n > 0).string(2, s"updated=$n").string(3, "local").bytes
      // DeleteDataRequest{table=1, id=2, soft_delete=3 (rewrite engine:
      // hard delete only)} -> DeleteDataResponse{success=1, message=2,
      // deleted_count=3}
      case "DeleteData" =>
        val n = facade.deleteData(str(req, 1), str(req, 2))
        w.bool(1, n > 0).string(2, s"deleted=$n").int32(3, n.toInt).bytes
      // CreateTableRequest{table_name=1, config=2: TableConfig{
      // buffer_size=1, flush_interval_seconds=2, retention_days=3,
      // id_strategy=6, id_prefix=7, id_validation=9{pattern=2}},
      // if_not_exists=3} -> CreateTableResponse{success=1, message=2}
      case "CreateTable" =>
        val name = str(req, 1)
        if (!bool(req, 3) && facade.getTable(name).isDefined)
          fail(InvalidArgument, s"table $name already exists")
        facade.createTable(name, sub(req, 2).map(tableConfig).getOrElse(TableConfig()))
        w.bool(1, true).string(2, name).bytes
      // ListTablesRequest{pattern=1} -> ListTablesResponse{tables=1
      // repeated TableInfo, total=2}
      case "ListTables" =>
        val pat = str(req, 1)
        val names = facade.listTables().filter(n => pat.isEmpty || n.contains(pat))
        val resp = w
        names.foreach(n => resp.msg(1, tableInfo(n)))
        resp.int32(2, names.size).bytes
      // GetTableRequest{table_name=1} -> GetTableResponse{table_info=1}
      case "GetTable" =>
        val name = str(req, 1)
        if (facade.getTable(name).isEmpty) fail(NotFound, s"no such table $name")
        w.msg(1, tableInfo(name)).bytes
      // DeleteTableRequest{table_name=1, if_exists=2} ->
      // DeleteTableResponse{success=1, message=2, files_deleted=3}
      case "DeleteTable" =>
        val name = str(req, 1)
        if (facade.getTable(name).isEmpty) {
          if (bool(req, 2)) w.bool(1, false).string(2, "absent").bytes
          else fail(NotFound, s"no such table $name")
        } else {
          facade.deleteTable(name)
          w.bool(1, true).string(2, name).bytes
        }
      // HealthCheckResponse{status=1, timestamp=2, version=3, details=4}
      case "HealthCheck" =>
        val h = facade.healthCheck()
        w.string(1, if (h.ok) "healthy" else "unhealthy")
          .msg(2, writeTimestamp(new java.sql.Timestamp(System.currentTimeMillis())))
          .string(3, "graft")
          .msg(4, w.string(1, "tables").string(2, h.tables.toString))
          .msg(4, w.string(1, "spark_active").string(2, h.sparkActive.toString))
          .bytes
      // GetStatusResponse{timestamp=1, buffer_stats=2 map<string,int64>,
      // nodes=5, total_nodes=6}
      case "GetStatus" =>
        val s = facade.getStatus()
        val resp = w
          .msg(1, writeTimestamp(new java.sql.Timestamp(System.currentTimeMillis())))
          .msg(2, w.string(1, "uptime_ms").int64(2, s.uptimeMs, keep = true))
          .msg(2, w.string(1, "tables").int64(2, s.tables.size.toLong, keep = true))
          .msg(2, w.string(1, "parallelism").int64(2, s.defaultParallelism.toLong, keep = true))
        resp.msg(5, w.string(1, "local").string(2, if (s.ok) "up" else "down")
          .string(3, "spark").string(4, s"spark-${s.sparkVersion}"))
        resp.int32(6, 1).bytes
      // GetMetricsResponse{timestamp=1, performance_metrics=2
      // map<string,double>, resource_usage=3 map<string,int64>}
      case "GetMetrics" =>
        val m = facade.metrics()
        w.msg(1, writeTimestamp(new java.sql.Timestamp(System.currentTimeMillis())))
          .msg(2, w.string(1, "avg_query_ms").double(2, m.avgQueryMs, keep = true))
          .msg(3, w.string(1, "total_queries").int64(2, m.totalQueries, keep = true))
          .msg(3, w.string(1, "failed_queries").int64(2, m.failedQueries, keep = true))
          .msg(3, w.string(1, "total_writes").int64(2, m.totalWrites, keep = true))
          .msg(3, w.string(1, "cache_hits").int64(2, m.cacheHits, keep = true))
          .bytes
      // BackupMetadataRequest{force=1} -> BackupMetadataResponse{
      // success=1, message=2, backup_id=3, timestamp=4}. Dest-less on
      // the wire (the reference reads its bucket from node config):
      // snapshots EVERY table — data + `_graft_config.txt` metadata —
      // into the facade's fixed metadataBackupDest. `force` is
      // honored trivially: the engine's backup() always overwrites
      // the previous snapshot (there is no freshness short-circuit to
      // skip), which is force semantics for both values.
      case "BackupMetadata" =>
        val now = System.currentTimeMillis()
        val tables = facade.listTables()
        tables.foreach(t => facade.backup(t, facade.metadataBackupDest))
        w.bool(1, true).string(2, s"backed_up=${tables.size}")
          .string(3, s"meta-$now")
          .msg(4, writeTimestamp(new java.sql.Timestamp(now))).bytes
      // RestoreMetadataRequest{backup_file=1, from_latest=2, dry_run=3}
      // -> RestoreMetadataResponse{success=1, message=2, backup_file=3,
      // entries_total=4, entries_ok=5, entries_skipped=6,
      // entries_error=7, duration=8}. backup_file names one backed-up
      // table (the engine's backup objects are per-table directories);
      // empty + from_latest restores every table present in the
      // snapshot. dry_run counts without touching the store.
      case "RestoreMetadata" =>
        val t0 = System.nanoTime()
        val dest = facade.metadataBackupDest
        val named = str(req, 1)
        val targets =
          if (named.nonEmpty) Seq(named)
          else if (bool(req, 2)) facade.listBackups(dest)
          else fail(InvalidArgument,
            "backup_file or from_latest=true is required")
        if (targets.isEmpty) fail(NotFound, s"no backups at $dest")
        val dryRun = bool(req, 3)
        var ok = 0; var err = 0
        val errors = Seq.newBuilder[String]
        targets.foreach { t =>
          try {
            if (!dryRun) facade.restore(t, dest)
            else if (facade.backupStatus(dest, t).isEmpty)
              sys.error(s"no backup for $t at $dest")
            ok += 1
          } catch { case e: Exception => err += 1; errors += s"$t: ${e.getMessage}" }
        }
        val resp = w.bool(1, err == 0)
          .string(2, if (dryRun) "dry_run" else "restored")
          .string(3, named)
          .int32(4, targets.size)
          .int32(5, if (dryRun) 0 else ok)
          .int32(6, if (dryRun) ok else 0)
          .int32(7, err)
          .string(8, s"${(System.nanoTime() - t0) / 1000000} ms")
        errors.result().foreach(e => resp.string(9, e))
        resp.bytes
      // ListBackupsRequest{days=1} -> ListBackupsResponse{backups=1
      // repeated BackupInfo{object_name=1, node_id=2, timestamp=3,
      // size=4, last_modified=5}, total=2}
      case "ListBackups" =>
        val dest = facade.metadataBackupDest
        val days = i32(req, 1)
        val cutoff =
          if (days <= 0) 0L
          else System.currentTimeMillis() - days * 86400000L
        val infos = facade.listBackups(dest)
          .flatMap(t => facade.backupStatus(dest, t))
          .filter(_.modifiedAt >= cutoff)
        val resp = w
        infos.foreach { b =>
          resp.msg(1, w.string(1, b.table).string(2, "local")
            .msg(3, writeTimestamp(new java.sql.Timestamp(b.modifiedAt)))
            .int64(4, b.bytes)
            .msg(5, writeTimestamp(new java.sql.Timestamp(b.modifiedAt))))
        }
        resp.int32(2, infos.size).bytes
      // GetMetadataStatusRequest{} -> GetMetadataStatusResponse{
      // node_id=1, backup_status=2 map<string,string>, last_backup=3,
      // next_backup=4 (unset — the engine has no backup scheduler;
      // proto3 absent-message reads as "none"), health_status=5}
      case "GetMetadataStatus" =>
        val dest = facade.metadataBackupDest
        val statuses = facade.listBackups(dest)
          .flatMap(t => facade.backupStatus(dest, t))
        val resp = w.string(1, "local")
        statuses.foreach(b => resp.msg(2,
          w.string(1, b.table).string(2, s"bytes=${b.bytes} files=${b.files}")))
        statuses.map(_.modifiedAt).maxOption.foreach(ts =>
          resp.msg(3, writeTimestamp(new java.sql.Timestamp(ts))))
        resp.string(5,
          if (facade.healthCheck().ok) "healthy" else "unhealthy").bytes
      case other => fail(Unimplemented, s"method $other")
    }

  // ------------------------------------------------------- AuthService

  private def auth(method: String, req: PMsg): Array[Byte] = method match {
    // GetTokenRequest{api_key=1, secret=2} -> GetTokenResponse{
    // access_token=1, refresh_token=2, expires_in=3, token_type=4}
    case "GetToken" =>
      val t = facade.getToken(str(req, 1), str(req, 2))
      tokenResponse(t.accessToken, t.refreshToken, t.expiresAt)
    // RefreshTokenRequest{refresh_token=1} -> RefreshTokenResponse
    case "RefreshToken" =>
      facade.refreshToken(str(req, 1)) match {
        case Right(t) => tokenResponse(t.accessToken, t.refreshToken, t.expiresAt)
        case Left(err) => fail(Unauthenticated, err)
      }
    // RevokeTokenRequest{token=1} -> RevokeTokenResponse{success=1,
    // message=2} — self-credentialed: the token being revoked IS the
    // credential (it must still validate to be revocable)
    case "RevokeToken" =>
      facade.revokeToken(str(req, 1)) match {
        case Right(_) => w.bool(1, true).string(2, "revoked").bytes
        case Left(err) => fail(Unauthenticated, err)
      }
    case other => fail(Unimplemented, s"method $other")
  }

  private def tokenResponse(access: String, refresh: String,
      expiresAt: Long): Array[Byte] =
    w.string(1, access).string(2, refresh)
      .int64(3, math.max(0L, (expiresAt - System.currentTimeMillis()) / 1000L))
      .string(4, "Bearer").bytes

  // --------------------------------------------------------- converters

  /** DataRecord{id=1, timestamp=2, payload=3} -> DynRecord; an absent
    * timestamp stamps ingest time (the write path's convention). */
  private def record(m: PMsg): DynRecord =
    DynRecord(
      id = str(m, 1),
      timestamp = sub(m, 2).map(readTimestamp)
        .getOrElse(new java.sql.Timestamp(System.currentTimeMillis())),
      payload = sub(m, 3).map(readStruct).getOrElse(Map.empty))

  private def tableConfig(m: PMsg): TableConfig = {
    val strat = str(m, 6) match {
      case "snowflake" => IdStrategy.Snowflake
      case "user_provided" | "user" => IdStrategy.UserProvided
      case "custom" => IdStrategy.CustomPrefix(str(m, 7))
      case _ => IdStrategy.Uuid
    }
    val base = TableConfig(idStrategy = strat,
      idPattern = sub(m, 9).map(v => str(v, 2)).filter(_.nonEmpty))
    val buf = i32(m, 1)
    val flush = i32(m, 2)
    val ret = i32(m, 3)
    base.copy(
      bufferSize = if (buf > 0) buf else base.bufferSize,
      flushIntervalMs = if (flush > 0) flush * 1000L else base.flushIntervalMs,
      retentionDays = if (ret > 0) ret else base.retentionDays)
  }

  /** TableInfo{name=1, config=2, status=5} for one table. */
  private def tableInfo(name: String): W = {
    val cfg = facade.getTable(name).getOrElse(TableConfig())
    val strat = cfg.idStrategy match {
      case IdStrategy.Uuid => ("uuid", "")
      case IdStrategy.Snowflake => ("snowflake", "")
      case IdStrategy.CustomPrefix(p) => ("custom", p)
      case IdStrategy.UserProvided => ("user_provided", "")
    }
    val cw = w.int32(1, cfg.bufferSize)
      .int32(2, (cfg.flushIntervalMs / 1000L).toInt)
      .int32(3, cfg.retentionDays)
      .string(6, strat._1).string(7, strat._2)
    cfg.idPattern.foreach(p => cw.msg(9, w.string(2, p)))
    w.string(1, name).msg(2, cw).string(5, "active")
  }

  /** Jackson JsonNode -> the Struct-compatible Map[String, Any]. */
  private def jsonToMap(n: JsonNode): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    n.properties().asScala.map(e => e.getKey -> jsonToAny(e.getValue)).toMap
  }

  private def jsonToAny(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isTextual) n.asText()
    else if (n.isBoolean) n.asBoolean()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isArray) {
      import scala.jdk.CollectionConverters._
      n.elements().asScala.map(jsonToAny).toSeq
    }
    else if (n.isObject) jsonToMap(n)
    else n.asText()
}

private[serve] object GrpcDispatch {
  // public gRPC status codes (grpc.io status codes — the transport
  // maps them onto its trailer encoding)
  val OK = 0
  val InvalidArgument = 3
  val NotFound = 5
  val Unimplemented = 12
  val Internal = 13
  val Unauthenticated = 16

  final class GrpcStatus(val code: Int, msg: String)
      extends RuntimeException(msg)
  def fail(code: Int, msg: String): Nothing =
    throw new GrpcStatus(code, msg)
}
