package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSpec
import graft.catalog.TableStore
import H2TestClient.grpcFrame

/** A cheap verb must round-trip in about a millisecond on a kept-alive
  * connection. A transport that sends each response body behind Nagle's
  * algorithm waits out the client's delayed ACK: 40 ms or more per round
  * trip. For [[RestServer]] the property that decides this is read once
  * per JVM, so the spec runs in the shared test JVM, after whatever
  * server the other suites built. */
class TransportLatencySpec extends SparkSpec {

  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** Median of 50 runs of `call`, after 5 that connect and warm up. */
  private def medianMs(call: => Unit): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      call
      (System.nanoTime() - t0) / 1e6
    }
    (1 to 5).foreach(_ => once())
    val ms = Seq.fill(50)(once()).sorted
    ms(ms.size / 2)
  }

  private def facade() = new ServiceFacade(new TableStore(spark, tmpDir("latency")))

  test("REST GET /v1/health: median round trip under 20 ms") {
    val srv = new RestServer(facade())
    val port = srv.start()
    try {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v1/health")).GET().build()
      val ms = medianMs {
        assert(client.send(req, HttpResponse.BodyHandlers.ofByteArray()).statusCode() == 200)
      }
      assert(ms < 20.0, f"median $ms%.1f ms")
    } finally srv.stop()
  }

  test("native gRPC HealthCheck: median round trip under 20 ms") {
    val srv = new GrpcServer(facade())
    val c = new H2TestClient(srv.start())
    try {
      val ms = medianMs {
        val r = c.call("miniodb.v1.MinIODBService", "HealthCheck", Seq(grpcFrame(Array.emptyByteArray)))
        assert(r.grpcStatus == 0)
      }
      assert(ms < 20.0, f"median $ms%.1f ms")
    } finally { c.close(); srv.stop() }
  }
}
