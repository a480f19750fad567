package perfbench

import java.sql.Timestamp
import java.time.{Instant, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import com.fasterxml.jackson.databind.JsonNode

import graft.ingest.DynRecord

/** One generated event. `ts` is epoch milliseconds (UTC). */
final case class Ev(id: String, ts: Long, user: Int, etype: String, value: Int,
    region: String) {
  def record: DynRecord = DynRecord(id, new Timestamp(ts), Map(
    "user_id" -> user.toDouble, "event_type" -> etype,
    "value" -> value.toDouble, "region" -> region))
  /** The `record` object of a REST write. */
  def json: String =
    s"""{"id":"$id","timestamp":$ts,"payload":{"user_id":$user,""" +
      s""""event_type":"$etype","value":$value,"region":"$region"}}"""
}

object Events {
  val Day0: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val DayMs: Long = 86400000L
  val HourMs: Long = 3600000L
  val Types: Array[String] = Array("view", "click", "cart", "buy", "error")
  val Regions: Array[String] = Array.tabulate(8)(i => s"r$i")

  /** Event of id `id`, stamped uniformly in [from, from + spanMs). */
  def draw(rng: java.util.SplittableRandom, id: String, from: Long, spanMs: Long,
      users: Int): Ev = {
    // skewed event types: views dominate, errors are rare
    val u = rng.nextDouble()
    val t = if (u < 0.5) 0 else if (u < 0.75) 1 else if (u < 0.88) 2 else if (u < 0.97) 3 else 4
    Ev(id, from + rng.nextLong(spanMs), rng.nextInt(users), Types(t),
      rng.nextInt(1000), Regions(rng.nextInt(Regions.length)))
  }

  def gen(seed: Long, n: Int, days: Int, users: Int): Array[Ev] = {
    val rng = new java.util.SplittableRandom(seed)
    Array.tabulate(n)(i => draw(rng, f"e$i%07d", Day0, days * DayMs, users))
  }

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  def lit(ms: Long): String = s"TIMESTAMP '${fmt.format(Instant.ofEpochMilli(ms))}'"

  /** Spark's JSON timestamp text → epoch ms. */
  def parseTs(s: String): Long = OffsetDateTime.parse(s).toInstant.toEpochMilli
}

/** A typed expected cell: compared against one JSON field. */
sealed trait Cell
final case class LongCell(v: Long) extends Cell
final case class NumCell(v: Double) extends Cell
final case class StrCell(v: String) extends Cell
final case class TsCell(ms: Long) extends Cell

/** Answers computed directly from the generated events, independent of
  * the engine. */
final class Oracle(evs: Array[Ev]) {
  private val byTs = evs.sortBy(_.ts)
  private val tsArr = byTs.map(_.ts)
  private val byId = evs.iterator.map(e => e.id -> e).toMap

  private def lower(ms: Long): Int = {
    var lo = 0; var hi = tsArr.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (tsArr(m) < ms) lo = m + 1 else hi = m }
    lo
  }
  private def range(a: Long, b: Long): Iterator[Ev] =
    (lower(a) until lower(b)).iterator.map(byTs)

  def count(a: Long, b: Long): Long = (lower(b) - lower(a)).toLong

  def hourly(a: Long, b: Long, etype: Option[String]): Seq[Seq[(String, Cell)]] =
    range(a, b).filter(e => etype.forall(_ == e.etype)).toSeq
      .groupBy(e => e.ts - Math.floorMod(e.ts, Events.HourMs)).toSeq.sortBy(_._1)
      .map { case (h, es) => Seq("h" -> TsCell(h), "u" -> LongCell(es.map(_.user).distinct.size.toLong)) }

  def distinctUsers(etype: String, minValue: Int): Long =
    evs.iterator.filter(e => e.etype == etype && e.value >= minValue).map(_.user).toSet.size.toLong

  def point(id: String): Seq[Seq[(String, Cell)]] = byId.get(id).toSeq.map { e =>
    Seq("id" -> StrCell(e.id), "timestamp" -> TsCell(e.ts), "user_id" -> NumCell(e.user),
      "event_type" -> StrCell(e.etype), "value" -> NumCell(e.value), "region" -> StrCell(e.region))
  }

  def byType(region: String, a: Long, b: Long): Seq[Seq[(String, Cell)]] =
    range(a, b).filter(_.region == region).toSeq.groupBy(_.etype).toSeq.sortBy(_._1)
      .map { case (t, es) => Seq("t" -> StrCell(t), "n" -> LongCell(es.size.toLong),
        "s" -> NumCell(es.map(_.value.toLong).sum.toDouble)) }
}

object Oracle {
  /** Does a JSON array of row objects equal the expected rows, in order? */
  def matches(body: String, expected: Seq[Seq[(String, Cell)]]): Boolean =
    scala.util.Try {
      val arr: JsonNode = Json.mapper.readTree(body)
      arr.isArray && arr.size == expected.size && expected.zipWithIndex.forall { case (row, i) =>
        val o = arr.get(i)
        o.size == row.size && row.forall { case (k, cell) =>
          val n = o.get(k)
          n != null && (cell match {
            case LongCell(v) => n.isIntegralNumber && n.asLong == v
            case NumCell(v) => n.isNumber && n.asDouble == v
            case StrCell(v) => n.isTextual && n.asText == v
            case TsCell(ms) => n.isTextual && Events.parseTs(n.asText) == ms
          })
        }
      }
    }.getOrElse(false)
}

/** One query text of the served pool, with the shape it belongs to and
  * its expected answer (computed on first use). */
final case class Query(shape: String, sql: String, expect: () => Seq[Seq[(String, Cell)]])

object Queries {
  val Shapes: Seq[String] = Seq("window_count", "hourly_distinct", "distinct_30d",
    "point", "payload_group")

  /** Query `k` of a shape over table `table`; `pick` draws parameters. */
  def make(shape: String, table: String, rng: java.util.SplittableRandom,
      evs: Array[Ev], days: Int, o: Oracle): Query = {
    import Events._
    def day() = Day0 + rng.nextInt(days) * DayMs
    shape match {
      case "window_count" =>
        val a = day() + rng.nextInt(24) * HourMs
        val b = a + (1 + rng.nextInt(72)) * HourMs
        Query(shape, s"SELECT COUNT(*) AS n FROM $table WHERE timestamp >= ${lit(a)} AND timestamp < ${lit(b)}",
          () => Seq(Seq("n" -> LongCell(o.count(a, b)))))
      case "hourly_distinct" =>
        val a = day() + rng.nextInt(4) * 6 * HourMs; val b = a + (1 + rng.nextInt(3)) * DayMs
        val t = if (rng.nextInt(6) == 0) None else Some(Types(rng.nextInt(Types.length)))
        val f = t.map(x => s" AND event_type = '$x'").getOrElse("")
        Query(shape, s"SELECT date_trunc('hour', timestamp) AS h, COUNT(DISTINCT user_id) AS u " +
          s"FROM $table WHERE timestamp >= ${lit(a)} AND timestamp < ${lit(b)}$f " +
          "GROUP BY date_trunc('hour', timestamp) ORDER BY h",
          () => o.hourly(a, b, t))
      case "distinct_30d" =>
        val t = Types(rng.nextInt(Types.length)); val v = rng.nextInt(1000)
        Query(shape, s"SELECT COUNT(DISTINCT user_id) AS u FROM $table WHERE event_type = '$t' AND value >= $v",
          () => Seq(Seq("u" -> LongCell(o.distinctUsers(t, v)))))
      case "point" =>
        val id = evs(rng.nextInt(evs.length)).id
        Query(shape, s"SELECT id, timestamp, user_id, event_type, value, region FROM $table WHERE id = '$id'",
          () => o.point(id))
      case "payload_group" =>
        val r = Regions(rng.nextInt(Regions.length))
        val a = day() + rng.nextInt(4) * 6 * HourMs; val b = a + (1 + rng.nextInt(3)) * DayMs
        Query(shape, s"SELECT payload.event_type AS t, COUNT(*) AS n, SUM(payload.value) AS s " +
          s"FROM $table WHERE payload.region = '$r' AND timestamp >= ${lit(a)} AND timestamp < ${lit(b)} " +
          "GROUP BY payload.event_type ORDER BY t",
          () => o.byType(r, a, b))
    }
  }

  /** `n` distinct query texts; rank `r` has shape `r % 5`, so every
    * popularity band holds the same mix of shapes. */
  def pool(seed: Long, n: Int, table: String, evs: Array[Ev], days: Int, o: Oracle): Vector[Query] = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5eed0f00dL)
    val seen = scala.collection.mutable.HashSet[String]()
    (0 until n).map { r =>
      var q = make(Shapes(r % Shapes.size), table, rng, evs, days, o)
      while (!seen.add(q.sql)) q = make(Shapes(r % Shapes.size), table, rng, evs, days, o)
      q
    }.toVector
  }
}

/** Zipf(s) over ranks 0 until n. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  def draw(rng: java.util.SplittableRandom): Int = {
    val u = rng.nextDouble()
    var lo = 0; var hi = n - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
    lo
  }
}
