package graft.serve

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.ingest.{DynRecord, TableConfig}

/** REST transport for the service surface — the reference serves
  * `/v1/...` over gin (`internal/transport/rest/server.go:470-521`); this
  * is the same route map over the JDK's built-in `com.sun.net.httpserver`
  * (zero added dependencies; JSON via the Jackson already on Spark's
  * classpath). Each route is a thin codec around one [[ServiceFacade]]
  * verb — no engine logic lives here.
  *
  * Routes (reference parity):
  * {{{
  *   POST   /v1/auth/token               getToken        (open)
  *   POST   /v1/auth/refresh             refreshToken    (open)
  *   DELETE /v1/auth/token               revokeToken     (bearer)
  *   GET    /v1/health                   healthCheck     (open)
  *   POST   /v1/data                     writeData       (bearer)
  *   POST   /v1/query                    queryData       (bearer)
  *   POST   /v1/stream-query             streamQuery     (bearer)
  *   PUT    /v1/data                     updateData      (bearer)
  *   DELETE /v1/data                     deleteData      (bearer)
  *   POST   /v1/data/cleanup-empty-ids   cleanupEmptyIds (bearer)
  *   GET    /v1/cdc/{table}?group=&limit= pollEvents     (bearer)
  *   POST   /v1/cdc/{table}/commit       commitEvents    (bearer)
  *   POST   /v1/tables                   createTable     (bearer)
  *   GET    /v1/tables                   listTables      (bearer)
  *   GET    /v1/tables/{name}            getTable        (bearer)
  *   DELETE /v1/tables/{name}            deleteTable     (bearer)
  *   POST   /v1/metadata/backup          backup          (bearer)
  *   POST   /v1/metadata/restore         restore         (bearer)
  *   GET    /v1/metadata/backups?dest=   listBackups     (bearer)
  *   GET    /v1/metadata/status?dest=&table= backupStatus (bearer)
  *   GET    /v1/status                   getStatus       (bearer)
  *   GET    /v1/metrics                  metrics         (bearer)
  * }}}
  *
  * Auth: when the facade has auth enabled, every bearer route requires
  * `Authorization: Bearer <access-token>` and validates it through the
  * facade's [[AuthService]]; when disabled, routes are open (reference
  * `auth.enabled: false` mode). The server is a transport codec only:
  * an invalid token is 401, a facade `Left` is 400, an unexpected
  * exception is 500 — all as `{"error": msg}`.
  *
  * @param host bind address — loopback by default; a deployment fronting
  *             real clients passes its service address explicitly
  * @param port 0 = ephemeral (bound port comes back from [[start]]) */
class RestServer(facade: ServiceFacade, host: String = "127.0.0.1", port: Int = 0) {

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _

  /** Start serving; returns the bound port.
    *
    * `sendResponseHeaders` flushes the headers as one TCP send and the
    * body goes out as a second. With Nagle's algorithm on, the body waits
    * for the client's delayed ACK — 40 ms on Linux, on every response.
    * The JDK turns Nagle off on its accepted sockets only when
    * `sun.net.httpserver.nodelay` is true, and it reads that property
    * once, in `sun.net.httpserver.ServerConfig`'s static initializer; so
    * it is set before `HttpServer.create`. */
  def start(): Int = synchronized {
    require(server == null, "already started")
    System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new java.net.InetSocketAddress(host, port), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    // small fixed pool: handlers run Spark driver-side actions, which
    // parallelize internally — concurrency here is for slow clients,
    // not compute
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) {
      server.stop(0)
      server.getExecutor.asInstanceOf[java.util.concurrent.ExecutorService].shutdown()
      server = null
    }
  }

  // ------------------------------------------------------------ dispatch

  private def handle(ex: HttpExchange): Unit = {
    val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
    try {
      (ex.getRequestMethod, segs) match {
        // open routes
        case ("GET", List("v1", "health")) =>
          val h = facade.healthCheck()
          val o = obj("ok" -> h.ok, "tables" -> h.tables, "spark_active" -> h.sparkActive)
          respond(ex, if (h.ok) 200 else 503, o)
        case ("POST", List("v1", "auth", "token")) =>
          // open route, but NOT an open mint: the reference requires
          // api_key+secret (GetTokenRequest, miniodb.proto:379-381)
          val b = body(ex)
          val t = facade.getToken(text(b, "subject"), text(b, "secret"))
          respond(ex, 200, obj("access_token" -> t.accessToken,
            "refresh_token" -> t.refreshToken, "expires_at" -> t.expiresAt))
        case ("POST", List("v1", "auth", "refresh")) =>
          facade.refreshToken(text(body(ex), "refresh_token")) match {
            case Right(t) => respond(ex, 200, obj("access_token" -> t.accessToken,
              "refresh_token" -> t.refreshToken, "expires_at" -> t.expiresAt))
            case Left(err) => respond(ex, 401, obj("error" -> err))
          }
        case ("DELETE", List("v1", "auth", "token")) =>
          bearer(ex) match {
            case Some(tok) => facade.revokeToken(tok) match {
              case Right(_) => respond(ex, 200, obj("revoked" -> true))
              case Left(err) => respond(ex, 401, obj("error" -> err))
            }
            case None => respond(ex, 401, obj("error" -> "missing bearer token"))
          }
        // bearer routes
        case (method, path) => withAuth(ex) { secured(ex, method, path) }
      }
    } catch {
      case e: IllegalArgumentException =>
        respond(ex, 400, obj("error" -> safeMsg(e)))
      case e: IllegalStateException =>
        respond(ex, 400, obj("error" -> safeMsg(e)))
      case e: Throwable =>
        respond(ex, 500, obj("error" -> safeMsg(e)))
    } finally ex.close()
  }

  private def secured(ex: HttpExchange, method: String, path: List[String]): Unit =
    (method, path) match {
      case ("POST", List("v1", "data")) =>
        val b = body(ex)
        val w = facade.writeData(text(b, "table"), record(b.get("record")))
        respond(ex, 200, obj("id" -> w.id, "table" -> w.table))
      case ("POST", List("v1", "query")) =>
        val b = body(ex)
        val limit = Option(b.get("limit")).map(_.asInt(0)).getOrElse(0)
        facade.queryData(text(b, "sql"), limit) match {
          case Right(rows) => respondRaw(ex, 200, rows) // already a JSON array
          case Left(err) => respond(ex, 400, obj("error" -> err))
        }
      case ("POST", List("v1", "stream-query")) =>
        val b = body(ex)
        val cursor = Option(b.get("cursor")).map(_.asLong(0L)).getOrElse(0L)
        val pageSize = Option(b.get("page_size")).map(_.asInt(100)).getOrElse(100)
        facade.streamQuery(text(b, "sql"), cursor, pageSize) match {
          case Right((rows, next)) =>
            respondRaw(ex, 200,
              s"""{"rows":${rows.mkString("[", ",", "]")},"next_cursor":$next}""")
          case Left(err) => respond(ex, 400, obj("error" -> err))
        }
      case ("PUT", List("v1", "data")) =>
        val b = body(ex)
        val n = facade.updateData(text(b, "table"), record(b.get("record")))
        respond(ex, 200, obj("updated" -> n))
      case ("DELETE", List("v1", "data")) =>
        // gin binds a JSON body on DELETE; query params also accepted
        // for clients that won't send DELETE bodies
        val raw = bodyString(ex)
        val (table, id) =
          if (raw.nonEmpty) { val b = mapper.readTree(raw); (text(b, "table"), text(b, "id")) }
          else { val q = queryParams(ex); (param(q, "table"), param(q, "id")) }
        respond(ex, 200, obj("deleted" -> facade.deleteData(table, id)))
      case ("POST", List("v1", "data", "cleanup-empty-ids")) =>
        val n = facade.cleanupEmptyIds(text(body(ex), "table"))
        respond(ex, 200, obj("cleaned" -> n))
      case ("GET", List("v1", "cdc", table)) =>
        val q = queryParams(ex)
        val limit = q.get("limit").flatMap(_.toIntOption).getOrElse(1000)
        val (events, hw) = facade.pollEvents(table, param(q, "group"), limit)
        respondRaw(ex, 200,
          s"""{"events":${events.mkString("[", ",", "]")},"high_water":$hw}""")
      case ("POST", List("v1", "cdc", table, "commit")) =>
        val b = body(ex)
        val hwNode = b.get("high_water")
        require(hwNode != null && hwNode.isNumber, "field 'high_water' required")
        facade.commitEvents(table, text(b, "group"), hwNode.asLong)
        respond(ex, 200, obj("committed" -> hwNode.asLong))
      case ("POST", List("v1", "tables")) =>
        val b = body(ex)
        facade.createTable(text(b, "table"), tableConfig(b.get("config")))
        respond(ex, 201, obj("created" -> text(b, "table")))
      case ("GET", List("v1", "tables")) =>
        val arr = mapper.createArrayNode()
        facade.listTables().foreach(arr.add)
        val o = mapper.createObjectNode(); o.set[JsonNode]("tables", arr)
        respond(ex, 200, o)
      case ("GET", List("v1", "tables", name)) =>
        facade.getTable(name) match {
          case Some(cfg) => respond(ex, 200, configJson(name, cfg))
          case None => respond(ex, 404, obj("error" -> s"table '$name' not found"))
        }
      case ("DELETE", List("v1", "tables", name)) =>
        facade.deleteTable(name)
        respond(ex, 200, obj("deleted" -> name))
      case ("POST", List("v1", "metadata", "backup")) =>
        val b = body(ex)
        val files = facade.backup(text(b, "table"), text(b, "dest"))
        respond(ex, 200, obj("files" -> files))
      case ("POST", List("v1", "metadata", "restore")) =>
        val b = body(ex)
        val files = facade.restore(text(b, "table"), text(b, "from"))
        respond(ex, 200, obj("files" -> files))
      case ("GET", List("v1", "metadata", "backups")) =>
        val arr = mapper.createArrayNode()
        facade.listBackups(param(queryParams(ex), "dest")).foreach(arr.add)
        val o = mapper.createObjectNode(); o.set[JsonNode]("backups", arr)
        respond(ex, 200, o)
      case ("GET", List("v1", "metadata", "status")) =>
        val q = queryParams(ex)
        facade.backupStatus(param(q, "dest"), param(q, "table")) match {
          case Some(s) => respond(ex, 200, obj("table" -> s.table, "files" -> s.files,
            "bytes" -> s.bytes, "modified_at" -> s.modifiedAt,
            "has_metadata" -> s.hasMetadata))
          case None => respond(ex, 404, obj("error" -> "no backup found"))
        }
      case ("GET", List("v1", "status")) =>
        val s = facade.getStatus()
        val tables = mapper.createArrayNode(); s.tables.foreach(tables.add)
        val o = obj("ok" -> s.ok, "uptime_ms" -> s.uptimeMs,
          "spark_version" -> s.sparkVersion,
          "default_parallelism" -> s.defaultParallelism, "executors" -> s.executors)
        o.set[JsonNode]("tables", tables)
        respond(ex, 200, o)
      case ("GET", List("v1", "metrics")) =>
        val m = facade.metrics()
        respond(ex, 200, obj("total_queries" -> m.totalQueries,
          "failed_queries" -> m.failedQueries, "slow_queries" -> m.slowQueries,
          "total_writes" -> m.totalWrites, "avg_query_ms" -> m.avgQueryMs,
          "cache_hits" -> m.cacheHits, "cache_misses" -> m.cacheMisses))
      case _ => respond(ex, 404, obj("error" -> "not found"))
    }

  // ---------------------------------------------------------------- auth

  private def bearer(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Authorization"))
      .filter(_.startsWith("Bearer ")).map(_.stripPrefix("Bearer "))

  private def withAuth(ex: HttpExchange)(f: => Unit): Unit =
    if (!facade.authEnabled) f
    else bearer(ex) match {
      case Some(tok) => facade.validateToken(tok) match {
        case Right(_) => f
        case Left(err) => respond(ex, 401, obj("error" -> err))
      }
      case None => respond(ex, 401, obj("error" -> "missing bearer token"))
    }

  // --------------------------------------------------------------- codecs

  private def bodyString(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def body(ex: HttpExchange): JsonNode = {
    val raw = bodyString(ex)
    require(raw.nonEmpty, "request body required")
    mapper.readTree(raw)
  }

  private def text(node: JsonNode, field: String): String = {
    val v = node.get(field)
    require(v != null && v.isTextual && v.asText.nonEmpty, s"field '$field' required")
    v.asText
  }

  /** `{id?, timestamp, payload{...}}` → [[DynRecord]]. Timestamp: epoch
    * millis number, or ISO-8601 / `yyyy-MM-dd HH:mm:ss` text. */
  private def record(node: JsonNode): DynRecord = {
    require(node != null && node.isObject, "field 'record' required")
    val id = Option(node.get("id")).map(_.asText("")).getOrElse("")
    val tsNode = node.get("timestamp")
    require(tsNode != null, "record.timestamp required")
    val ts =
      if (tsNode.isNumber) new java.sql.Timestamp(tsNode.asLong)
      else {
        // zone-aware forms FIRST: stripping the Z and feeding
        // Timestamp.valueOf would silently reinterpret a UTC instant as
        // server-local wall-clock (hours of shift + wrong date partition)
        val s = tsNode.asText
        scala.util.Try(java.sql.Timestamp.from(java.time.Instant.parse(s)))
          // space-separated UTC form ("yyyy-MM-dd HH:mm:ssZ"): normalize
          // to ISO and parse as the UTC instant it denotes
          .orElse(scala.util.Try(java.sql.Timestamp.from(
            java.time.Instant.parse(s.replace(' ', 'T')))))
          .orElse(scala.util.Try(java.sql.Timestamp.from(
            java.time.OffsetDateTime.parse(s).toInstant)))
          .getOrElse(java.sql.Timestamp.valueOf(s.replace('T', ' ')))
      }
    val payload = Option(node.get("payload")).filter(_.isObject).map { p =>
      val it = p.properties().iterator()
      val b = Map.newBuilder[String, Any]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> fromJson(e.getValue) }
      b.result()
    }.getOrElse(Map.empty[String, Any])
    DynRecord(id, ts, payload)
  }

  /** JSON value → the payload `Any` domain [[graft.ingest.DynamicSchema]]
    * types from (numbers all → double, like proto-Struct). */
  private def fromJson(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isBoolean) n.asBoolean
    else if (n.isNumber) n.asDouble
    else if (n.isTextual) n.asText
    else if (n.isArray) {
      val it = n.elements(); val b = List.newBuilder[Any]
      while (it.hasNext) b += fromJson(it.next())
      b.result()
    } else {
      val it = n.properties().iterator(); val b = Map.newBuilder[String, Any]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> fromJson(e.getValue) }
      b.result()
    }

  private def tableConfig(node: JsonNode): TableConfig = {
    if (node == null || !node.isObject) return TableConfig()
    val base = TableConfig()
    TableConfig(
      bufferSize = Option(node.get("buffer_size")).map(_.asInt(base.bufferSize))
        .getOrElse(base.bufferSize),
      flushIntervalMs = Option(node.get("flush_interval_ms"))
        .map(_.asLong(base.flushIntervalMs)).getOrElse(base.flushIntervalMs),
      retentionDays = Option(node.get("retention_days")).map(_.asInt(0)).getOrElse(0),
      idStrategy = Option(node.get("id_strategy")).map(_.asText("uuid")).getOrElse("uuid") match {
        case "snowflake" => graft.ingest.IdStrategy.Snowflake
        case "user" => graft.ingest.IdStrategy.UserProvided
        case s if s.startsWith("custom:") =>
          graft.ingest.IdStrategy.CustomPrefix(s.stripPrefix("custom:"))
        case _ => graft.ingest.IdStrategy.Uuid
      },
      idPattern = Option(node.get("id_pattern")).map(_.asText).filter(_.nonEmpty))
  }

  private def configJson(name: String, cfg: TableConfig): ObjectNode = {
    val strat = cfg.idStrategy match {
      case graft.ingest.IdStrategy.Uuid => "uuid"
      case graft.ingest.IdStrategy.Snowflake => "snowflake"
      case graft.ingest.IdStrategy.CustomPrefix(p) => s"custom:$p"
      case graft.ingest.IdStrategy.UserProvided => "user"
    }
    obj("table" -> name, "buffer_size" -> cfg.bufferSize,
      "flush_interval_ms" -> cfg.flushIntervalMs,
      "retention_days" -> cfg.retentionDays, "id_strategy" -> strat,
      "id_pattern" -> cfg.idPattern.getOrElse(""))
  }

  private def obj(fields: (String, Any)*): ObjectNode = {
    val o = mapper.createObjectNode()
    fields.foreach {
      case (k, v: String) => o.put(k, v)
      case (k, v: Boolean) => o.put(k, v)
      case (k, v: Int) => o.put(k, v)
      case (k, v: Long) => o.put(k, v)
      case (k, v: Double) => o.put(k, v)
      case (k, v: ArrayNode) => o.set[JsonNode](k, v)
      case (k, v) => o.put(k, String.valueOf(v))
    }
    o
  }

  /** Exception text can embed engine internals (paths, plan fragments);
    * keep the first line only, or the class name when that is empty. */
  private def safeMsg(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption()).filter(_.nonEmpty)
      .getOrElse(e.getClass.getSimpleName)

  private def respond(ex: HttpExchange, code: Int, node: ObjectNode): Unit =
    respondRaw(ex, code, mapper.writeValueAsString(node))

  private def respondRaw(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  /** Required query parameter — a 400 (IllegalArgumentException), not a
    * NoSuchElementException that the handler would report as a 500. */
  private def param(q: Map[String, String], name: String): String =
    q.getOrElse(name, throw new IllegalArgumentException(
      s"query parameter '$name' required"))

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map(
      _.split("&").flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(
          java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }).toMap).getOrElse(Map.empty)
}
