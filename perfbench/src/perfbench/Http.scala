package perfbench

import java.io.{BufferedInputStream, InputStream}
import java.net.{InetAddress, ServerSocket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** One closed-loop client: a JDK HTTP/1.1 client, which keeps one
  * loopback connection alive between calls. */
final class HttpConn(port: Int) extends AutoCloseable {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port"

  /** Sends one request; returns (status, body). */
  def call(method: String, path: String, body: String = ""): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/json")
      .method(method, if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofString(body))
      .build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }

  def close(): Unit = client match {
    case c: AutoCloseable => c.close() // JDK 21+
    case _ => ()
  }
}

/** Loopback endpoint that answers every request with `[]` in one write
  * and does no other work: the floor the load generator itself adds to
  * a round trip. One thread per connection. */
final class NoopServer extends AutoCloseable {
  private val ss = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
  val port: Int = ss.getLocalPort
  private val reply = ("HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n" +
    "Content-Length: 2\r\n\r\n[]").getBytes(UTF_8)
  private val acceptor = new Thread(() => {
    try while (true) {
      val s = ss.accept()
      s.setTcpNoDelay(true)
      val th = new Thread(() => {
        val in = new BufferedInputStream(s.getInputStream)
        val out = s.getOutputStream
        try while (NoopServer.readRequest(in)) { out.write(reply); out.flush() }
        catch { case _: java.io.IOException => () }
        finally s.close()
      })
      th.setDaemon(true); th.start()
    } catch { case _: java.io.IOException => () }
  })
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = ss.close()
}

object NoopServer {
  private def line(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  /** Reads one request (headers + Content-Length body); false on EOF. */
  def readRequest(in: InputStream): Boolean =
    try {
      line(in)
      var len = 0
      var h = line(in)
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length"))
          len = h.substring(i + 1).trim.toInt
        h = line(in)
      }
      in.readNBytes(len)
      true
    } catch { case _: java.io.IOException => false }
}
