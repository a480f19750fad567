package graft.serve

import java.net.InetSocketAddress

import com.sun.net.httpserver.HttpServer

/** The one way the HTTP/1.1 transports ([[RestServer]], [[GrpcWebServer]])
  * make their JDK `HttpServer`.
  *
  * `sendResponseHeaders` flushes the headers as one TCP send and the body
  * goes out as a second. With Nagle's algorithm on, the body waits for the
  * client's delayed ACK — 40 ms on Linux, on every response. The JDK turns
  * Nagle off on its accepted sockets only when `sun.net.httpserver.nodelay`
  * is true, and it reads that property once, in
  * `sun.net.httpserver.ServerConfig`'s static initializer; so it is set
  * here, before `HttpServer.create`, and every JDK server in the process
  * must come from [[create]]. */
object JdkHttpServer {

  def create(host: String, port: Int): HttpServer = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress(host, port), 0)
  }
}
