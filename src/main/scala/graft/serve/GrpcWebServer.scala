package graft.serve

import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import GrpcDispatch._
import ProtoWire._

/** gRPC-Web transport for the reference's protobuf service surface
  * (`api/proto/miniodb/v1/miniodb.proto:12-46` — `MinIODBService` +
  * `AuthService`), dependency-free.
  *
  * Native gRPC needs an HTTP/2 server and a protobuf runtime; this
  * environment ships neither, which is why earlier rounds carried the
  * gRPC codec as environment-blocked. gRPC-Web is the PUBLIC,
  * standard member of the gRPC protocol family that runs over
  * HTTP/1.1 — `POST /<package.Service>/<Method>`, content-type
  * `application/grpc-web+proto`, body = 5-byte-framed protobuf
  * messages (1 flag byte + 4-byte big-endian length), response =
  * data frame(s) + a trailer frame (flag 0x80) carrying
  * `grpc-status`/`grpc-message` — BOTH protocol modes: binary
  * `application/grpc-web+proto` and the base64 `grpc-web-text` mode
  * stock browser stubs default to (request body base64-decoded,
  * response body base64-encoded, keyed on Content-Type), with CORS
  * preflight + headers for cross-origin browser clients. Wire codec:
  * [[ProtoWire]] (hand-rolled proto3, field numbers cited per
  * message below).
  *
  * Methods served (field numbers = the reference .proto) — every
  * unary verb, 19 of the reference's 20:
  *  - MinIODBService: WriteData, QueryData, UpdateData, DeleteData,
  *    StreamQuery (server-streaming: one DataRecord batch per frame),
  *    CreateTable, ListTables, GetTable, DeleteTable, BackupMetadata,
  *    RestoreMetadata, ListBackups, GetMetadataStatus (the metadata
  *    verbs ride the engine's table+dest backup surface at a fixed
  *    default destination — the reference's shapes are bound to its
  *    Redis metadata store and carry no dest on the wire), HealthCheck,
  *    GetStatus, GetMetrics.
  *  - AuthService: GetToken, RefreshToken, RevokeToken.
  *  - NOT served, by protocol: StreamWrite (client-streaming —
  *    gRPC-Web cannot express it; the native HTTP/2 transport
  *    ([[GrpcServer]]) and REST POST /v1/data cover the verb).
  *
  * Verb semantics live in the shared [[GrpcDispatch]] — this class is
  * ONLY the gRPC-Web framing; [[GrpcServer]] is the same dispatch
  * under native gRPC/HTTP/2 framing.
  *
  * Auth mirrors [[RestServer]]: when the facade has auth enabled,
  * every MinIODBService method except HealthCheck requires
  * `Authorization: Bearer <token>` (gRPC-Web passes ordinary HTTP
  * headers); AuthService methods are open — they carry their own
  * credentials in the request message. Errors surface as gRPC status
  * codes in the trailer (INVALID_ARGUMENT for bad input / facade
  * rejections, UNAUTHENTICATED for auth, NOT_FOUND for absent
  * tables, UNIMPLEMENTED for unknown methods, INTERNAL otherwise) —
  * the HTTP status stays 200, per the gRPC-Web spec.
  *
  * CORS: `allowedOrigins` defaults to the open `Seq("*")` — safe ONLY
  * because auth rides the Authorization header, never cookies, so a
  * foreign origin cannot ride ambient credentials. An operator who
  * wants origin restriction passes an explicit allowlist; matching
  * requests get their own Origin echoed back (the form that also
  * composes with credentialed requests, which the `*` wildcard never
  * can), non-matching ones get no CORS grant at all. */
class GrpcWebServer(facade: ServiceFacade, host: String = "127.0.0.1",
    port: Int = 0, allowedOrigins: Seq[String] = Seq("*")) {

  private val dispatch = new GrpcDispatch(facade)
  private var server: HttpServer = _

  def start(): Int = synchronized {
    require(server == null, "already started")
    server = JdkHttpServer.create(host, port)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
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

  // ------------------------------------------------------------- framing

  /** First data frame (flag 0x00) of a gRPC-Web request body. */
  private def requestMessage(body: Array[Byte]): PMsg = {
    var i = 0
    while (i + 5 <= body.length) {
      val flag = body(i) & 0xff
      val len = ((body(i + 1) & 0xff) << 24) | ((body(i + 2) & 0xff) << 16) |
        ((body(i + 3) & 0xff) << 8) | (body(i + 4) & 0xff)
      // overflow-free bounds (the MediaCodecs.walk form): a crafted
      // negative length would make `i += 5 + len` loop forever, and a
      // large POSITIVE one would wrap `i + 5 + len` negative and slip
      // past a naive `> body.length` test into an out-of-bounds read
      if (len < 0 || len > body.length - i - 5)
        fail(InvalidArgument, "truncated frame")
      if ((flag & 0x80) == 0)
        return parse(java.util.Arrays.copyOfRange(body, i + 5, i + 5 + len))
      i += 5 + len
    }
    parse(Array.emptyByteArray) // empty request message (HealthCheck etc.)
  }

  private def frame(flag: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](5 + payload.length)
    out(0) = flag.toByte
    out(1) = (payload.length >>> 24).toByte
    out(2) = (payload.length >>> 16).toByte
    out(3) = (payload.length >>> 8).toByte
    out(4) = payload.length.toByte
    System.arraycopy(payload, 0, out, 5, payload.length)
    out
  }

  private def respond(ex: HttpExchange, messages: Seq[Array[Byte]],
      status: Int, statusMsg: String, textMode: Boolean = false): Unit = {
    val trailer = {
      val sb = new StringBuilder(s"grpc-status: $status\r\n")
      if (statusMsg.nonEmpty)
        // the gRPC spec requires percent-encoding; URLEncoder emits
        // '+' for spaces, which spec-compliant clients (decoding only
        // %XX escapes) would render literally
        sb.append("grpc-message: ")
          .append(java.net.URLEncoder.encode(statusMsg, "UTF-8")
            .replace("+", "%20"))
          .append("\r\n")
      sb.toString.getBytes(UTF_8)
    }
    val body = new java.io.ByteArrayOutputStream()
    messages.foreach(m => body.write(frame(0x00, m)))
    body.write(frame(0x80, trailer))
    val b = body.toByteArray
    val h = ex.getResponseHeaders
    h.set("Content-Type",
      if (textMode) "application/grpc-web-text+proto"
      else "application/grpc-web+proto")
    corsGrant(ex).foreach(h.set("Access-Control-Allow-Origin", _))
    h.set("Access-Control-Expose-Headers", "grpc-status, grpc-message")
    if (textMode) {
      // one base64 blob of the whole framed stream (the stock JS
      // streaming decoder accepts any chunking, including a single
      // chunk), STREAMED through the encoder — computing the encoded
      // length arithmetically avoids a second full copy of the body
      ex.sendResponseHeaders(200, 4L * ((b.length + 2) / 3))
      val enc = java.util.Base64.getEncoder.wrap(ex.getResponseBody)
      enc.write(b)
      enc.close()
    } else {
      ex.sendResponseHeaders(200, b.length.toLong)
      ex.getResponseBody.write(b)
    }
  }

  // ------------------------------------------------------------ dispatch

  private def handle(ex: HttpExchange): Unit = {
    // grpcwebtext mode (what stock browser stubs default to): request
    // body arrives base64-encoded, response body leaves base64-encoded,
    // content-type application/grpc-web-text[+proto]. Decided up front
    // so the error paths answer in the caller's own encoding.
    val textMode = Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .exists(_.startsWith("application/grpc-web-text"))
    try {
      try {
        if (ex.getRequestMethod == "OPTIONS") { corsPreflight(ex); return }
        if (ex.getRequestMethod != "POST") fail(Unimplemented, "POST only")
        val path = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
        val raw = ex.getRequestBody.readAllBytes()
        // a malformed base64 body throws IllegalArgumentException →
        // INVALID_ARGUMENT, per the never-500 contract
        val body =
          if (textMode)
            b64DecodeChunks(new String(raw, UTF_8).filterNot(_.isWhitespace))
          else raw
        val req = requestMessage(body)
        val out: Seq[Array[Byte]] = path match {
          case List(service, method) =>
            if (dispatch.needsBearer(service, method))
              dispatch.requireBearer(
                Option(ex.getRequestHeaders.getFirst("Authorization"))
                  .filter(_.startsWith("Bearer "))
                  .map(_.stripPrefix("Bearer ")))
            dispatch.unary(service, method, req)
          case other => fail(Unimplemented, s"unknown service ${other.mkString("/")}")
        }
        respond(ex, out, OK, "", textMode)
      } catch {
        case g: GrpcStatus => respond(ex, Nil, g.code, g.getMessage, textMode)
        case e: IllegalArgumentException =>
          respond(ex, Nil, InvalidArgument, String.valueOf(e.getMessage), textMode)
        case e: IllegalStateException =>
          respond(ex, Nil, InvalidArgument, String.valueOf(e.getMessage), textMode)
        case e: Throwable =>
          respond(ex, Nil, Internal, e.getClass.getSimpleName, textMode)
      }
    } finally ex.close()
  }

  /** Decode a grpc-web-text body that may be a CONCATENATION of
    * independently padded base64 chunks (the protocol streams each
    * frame as its own chunk, so '=' padding can appear mid-body; the
    * strict single-blob decoder rejects it, and the MIME decoder
    * treats the first '=' as end-of-data and silently drops the
    * rest). Splits after each padding run and decodes chunk-wise. */
  private def b64DecodeChunks(s: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var start = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '=') {
        var j = i
        while (j < s.length && s.charAt(j) == '=') j += 1
        out.write(java.util.Base64.getDecoder.decode(s.substring(start, j)))
        start = j
        i = j
      } else i += 1
    }
    if (start < s.length)
      out.write(java.util.Base64.getDecoder.decode(s.substring(start)))
    out.toByteArray
  }

  /** CORS preflight for browser clients (the stock grpc-web stub's
    * first request on a cross-origin call). */
  private def corsPreflight(ex: HttpExchange): Unit = {
    val h = ex.getResponseHeaders
    corsGrant(ex).foreach(h.set("Access-Control-Allow-Origin", _))
    h.set("Access-Control-Allow-Methods", "POST, OPTIONS")
    h.set("Access-Control-Allow-Headers",
      "content-type, x-grpc-web, x-user-agent, authorization")
    h.set("Access-Control-Max-Age", "86400")
    ex.sendResponseHeaders(204, -1L)
  }

  /** The Access-Control-Allow-Origin value for this request: `*` when
    * the allowlist is open; the request's own Origin echoed back when
    * it matches; None otherwise — no grant header at all, so the
    * browser refuses the cross-origin read. In allowlist mode EVERY
    * response carries `Vary: Origin` — including mismatched or
    * absent-Origin ones — so a shared cache never stores a grant-less
    * response under the bare URL and replays it to an allowlisted
    * origin (which would break that origin's CORS reads). */
  private def corsGrant(ex: HttpExchange): Option[String] =
    if (allowedOrigins.contains("*")) Some("*")
    else {
      ex.getResponseHeaders.set("Vary", "Origin")
      Option(ex.getRequestHeaders.getFirst("Origin"))
        .filter(allowedOrigins.contains)
    }

}
