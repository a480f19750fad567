package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

object Json {
  val mapper = new ObjectMapper()
  def str(s: String): String = mapper.writeValueAsString(s)
}

object Stats {
  /** Percentile by linear interpolation between closest ranks; 0 for no
    * samples. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val v = xs.toArray.sorted
    if (v.isEmpty) 0.0
    else {
      val r = p / 100.0 * (v.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, v.length - 1)
      v(lo) + (v(hi) - v(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** One client request as the client saw it. */
final case class Op(kind: String, start: Double, end: Double, ok: Boolean) {
  def ms: Double = end - start
}

/** What a workload hands back to [[Main]]. `e2e` and `layers` must carry
  * every metric named in BENCHMARK.json; `record` is free-form detail
  * for the run record. */
final case class Outcome(attempted: Long, failed: Long, wrong: Long,
    problems: Seq[String], e2e: Map[String, Double], layers: Map[String, Double],
    record: Map[String, Any])

object Load {
  /** Median round trip of `n` requests from one client to a no-op
    * loopback endpoint. */
  def clientFloorMs(n: Int): Double = {
    val srv = new NoopServer
    try {
      val c = new HttpConn(srv.port)
      try {
        val body = """{"sql":"SELECT 1"}"""
        (0 until 200).foreach(_ => c.call("POST", "/v1/query", body)) // warm
        Stats.median((0 until n).map { _ =>
          val t0 = System.nanoTime(); c.call("POST", "/v1/query", body)
          (System.nanoTime() - t0) / 1e6
        })
      } finally c.close()
    } finally srv.close()
  }
}
