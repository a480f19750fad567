package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSpec
import graft.catalog.TableStore

/** A cheap verb must round-trip in about a millisecond on a kept-alive
  * connection. A transport whose JDK server was made without
  * [[JdkHttpServer]] sends each response body behind Nagle's algorithm and
  * waits out the client's delayed ACK: 40 ms or more per round trip. The
  * property that decides this is read once per JVM, so the spec runs in
  * the shared test JVM, after whatever server the other suites built. */
class TransportLatencySpec extends SparkSpec {

  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def medianMs(req: HttpRequest): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() == 200)
      (System.nanoTime() - t0) / 1e6
    }
    (1 to 5).foreach(_ => once()) // connect, warm the code path
    val ms = Seq.fill(50)(once()).sorted
    ms(ms.size / 2)
  }

  private def facade() = new ServiceFacade(new TableStore(spark, tmpDir("latency")))

  test("REST GET /v1/health: median round trip under 20 ms") {
    val srv = new RestServer(facade())
    val port = srv.start()
    try {
      val ms = medianMs(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/v1/health")).GET().build())
      assert(ms < 20.0, f"median $ms%.1f ms")
    } finally srv.stop()
  }

  test("gRPC-Web HealthCheck: median round trip under 20 ms") {
    val srv = new GrpcWebServer(facade())
    val port = srv.start()
    try {
      val ms = medianMs(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/miniodb.v1.MinIODBService/HealthCheck"))
        .header("Content-Type", "application/grpc-web+proto")
        .POST(HttpRequest.BodyPublishers.ofByteArray(Array[Byte](0, 0, 0, 0, 0))).build())
      assert(ms < 20.0, f"median $ms%.1f ms")
    } finally srv.stop()
  }
}
