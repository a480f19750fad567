package perfbench

import java.util.concurrent.{ConcurrentHashMap, CyclicBarrier, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.ingest.TableConfig

/** `serve`: REST traffic in rounds on two tables of one served store.
  *
  * Set-up loads `events` (read-only: `StaticRecords` events over `Days`
  * daily partitions, `StaticFlushes` flushes, so Days × StaticFlushes
  * parquet files) and `live` (`LiveRecords` events in one flush, then
  * count-triggered flushes at `bufferSize = clients × (WritesPerClient −
  * Buffered)`, interval trigger off) through `TableStore.write` +
  * `flush`, and starts the REST server. Set-up runs `SetUps` times on
  * fresh stores; the last one is served.
  *
  * A run is `Rounds(seconds)` rounds; every client takes part in each
  * stage of a round and waits for the others before the next stage:
  *  1. write: each client sends `WritesPerClient` single-record writes to
  *     `live`: one count-triggered flush, and clients × `Buffered` rows
  *     left in the buffer (the maintain stage's rewrites flush them);
  *  2. query: each client sends `StaticQueriesPerClient` queries on
  *     `events`, drawn Zipf(`ZipfS`) from `PoolSize` distinct texts (4× the
  *     result cache's 1024 entries; nothing invalidates them, so repeats
  *     hit), and `LiveQueriesPerClient` on `live` (a point lookup or an
  *     hour-window count; every write bumped the version, so these miss
  *     and read buffer ∪ storage);
  *  3. maintain: the last client alone updates (even rounds) or deletes
  *     (odd rounds) one written id, polls and commits a CDC consumer
  *     group, and every `CompactEvery` rounds calls `compactTable`.
  *
  * A stage runs by itself: no query overlaps a flush or a partition
  * swap. The program has two races there (a query that overlaps the
  * delete + rename of a mutation or compaction fails on a file that is
  * gone; the hybrid read lists storage before it snapshots the buffer,
  * so a query racing a flush can miss its rows). They make the number of
  * failed requests vary from run to run, so the workload keeps them
  * apart; see README.md.
  *
  * Checks: every `events` answer equals the one computed from the
  * generated records; every `live` answer equals the one computed from
  * the base records plus the acknowledged writes, updates and deletes;
  * write acknowledgements carry the written id; the end state holds
  * every acknowledged write with its latest value, no deleted id and no
  * duplicate; CDC events name mutated ids only. */
object Serve {
  val Static = "events"
  val Live = "live"
  val StaticRecords = 15000
  val StaticFlushes = 3
  val LiveRecords = 3000
  val Days = 30
  val Users = 20000
  val PoolSize = 4096
  /** The top of the range Breslau et al. measured on six web-proxy
    * request traces ("Web Caching and Zipf-like Distributions: Evidence
    * and Implications", INFOCOM 1999: α from 0.64 to 0.83). The
    * reference service publishes no query-popularity data. */
  val ZipfS = 0.83
  val SetUps = 3
  val MaxClients = 8
  val WritesPerClient = 12
  val Buffered = 2
  val StaticQueriesPerClient = 3
  val LiveQueriesPerClient = 1
  val CompactEvery = 3
  /** Seconds of `--seconds` per measured round: about one round's
    * length on a 4-core host. */
  val RoundSeconds = 7.5
  def Rounds(seconds: Double): Int = math.max(1, math.round(seconds / RoundSeconds).toInt)
  val Group = "bench"
  /** New writes are stamped within the last `RecentDays` days. */
  val RecentDays = 2
  private val recentFrom = Events.Day0 + (Days - RecentDays) * Events.DayMs

  /** One request as its client saw it; `key` is its SQL text or record id. */
  final case class Sent(key: String, op: Op)

  final class Client(val i: Int, seed: Long, popularity: Long) {
    val rng = new java.util.SplittableRandom(seed)
    /** Draws ranks of the query pool: the same sequence for every seed
      * (the seed picks the data and the text at each rank), so runs
      * differ in inputs but not in how many distinct texts they meet. */
    val zrng = new java.util.SplittableRandom(popularity)
    val sent = ArrayBuffer[Sent]()
    var n = 0
    var wrong = 0
  }

  /** The `live` table as the clients know it: id → latest acknowledged
    * event; deleted ids are removed and remembered. */
  final class LiveState(base: Array[Ev]) {
    val current = new ConcurrentHashMap[String, Ev]()
    base.foreach(e => current.put(e.id, e))
    val deleted = ConcurrentHashMap.newKeySet[String]()
    val mutated = ConcurrentHashMap.newKeySet[String]()
    /** Acknowledged writes not yet mutated: mutation targets. */
    val writes = ArrayBuffer[String]()
    def snapshot(): Array[Ev] = current.values.asScala.toArray.sortBy(_.id)
  }

  def run(ctx: Ctx): Outcome = {
    val nClients = math.min(ctx.nproc, MaxClients)
    val bufferSize = nClients * (WritesPerClient - Buffered)
    val liveConfig = TableConfig(bufferSize = bufferSize, flushIntervalMs = Long.MaxValue)
    val staticEvs = Events.gen(ctx.seed, StaticRecords, Days, Users)
    val liveBase = Events.gen(ctx.seed ^ 0x1f0e5L, LiveRecords, Days, Users)
    val oracle = new Oracle(staticEvs)
    val pool = Queries.pool(ctx.seed, PoolSize, Static, staticEvs, Days, oracle)
    val poolSql = pool.map(_.sql).toSet
    val zipf = new Zipf(PoolSize, ZipfS)
    val expected = new ConcurrentHashMap[String, Seq[Seq[(String, Cell)]]]()
    def expect(q: Query) = expected.computeIfAbsent(q.sql, _ => q.expect())

    val setups = (0 until SetUps).map { k =>
      val t0 = System.nanoTime()
      val svc = new Service(ctx, s"${ctx.work}/store$k")
      svc.load(Static, TableConfig(bufferSize = Int.MaxValue, flushIntervalMs = Long.MaxValue),
        staticEvs, StaticFlushes)
      svc.load(Live, liveConfig, liveBase, 1)
      svc.start()
      val s = (System.nanoTime() - t0) / 1e9
      Main.progress(f"set-up $k: $s%.2f s")
      (svc, s)
    }
    setups.init.foreach(_._1.stop())
    val svc = setups.last._1
    val setupS = Stats.median(setups.map(_._2))

    try {
      val state = new LiveState(liveBase)
      val cdcIds = ArrayBuffer[String]()
      val compactions = ArrayBuffer[Double]()
      val wrng = new java.util.SplittableRandom(ctx.seed * 7919 + 1)
      /** A text of `shape` outside the pool, so warming leaves the cache as it was. */
      def outside(shape: String): Query = {
        var q = Queries.make(shape, Static, wrng, staticEvs, Days, oracle)
        while (poolSql(q.sql)) q = Queries.make(shape, Static, wrng, staticEvs, Days, oracle)
        q
      }

      // Traced runs only: a single-client pass per shape, twice (job and
      // stage counts per shape, which must agree), and a fixed
      // single-threaded ingest prologue on its own table.
      ctx.tracer.on = ctx.trace
      val shapeRounds = if (!ctx.trace) Seq.empty else {
        val conn = new HttpConn(svc.port)
        try (0 until 2).map { _ =>
          Queries.Shapes.map { sh =>
            val q = outside(sh)
            val req = ctx.tracer.newReq()
            ctx.tracer.expect(q.sql, req)
            val (st, body) = conn.call("POST", "/v1/query", queryBody(q.sql))
            sh -> (req, st == 200 && Oracle.matches(body, q.expect()))
          }
        } finally conn.close()
      }
      val prologue = if (ctx.trace) runPrologue(ctx, svc, liveConfig) else Prologue(0, 0, 0, ok = true)
      ctx.tracer.on = false
      org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
      val shapeSpans = ctx.tracer.all
      val shapeCounts: Seq[(String, Seq[JobTotals])] = if (!ctx.trace) Seq.empty else
        Queries.Shapes.map { sh =>
          sh -> shapeRounds.map { r =>
            val req = r.toMap.apply(sh)._1
            val roots = shapeSpans.filter(s => s.req == req && s.parent == 0 && s.name == "facade.query")
            JobTotals.of(roots.flatMap(r => ctx.jobs.byRoot.getOrElse(r.id, Vector.empty)))
          }
        }
      ctx.tracer.spans.clear()

      /** `rounds` rounds; with `warm` the static queries are texts outside
        * the pool, one shape after another. */
      def phase(traced: Boolean, tag: Int, rounds: Int, warm: Boolean): (Vector[Client], Double) = {
        ctx.tracer.on = traced
        val clients = Vector.tabulate(nClients)(i =>
          new Client(i, ctx.seed * 1000003L + i * 17 + tag, 1000003L * (i + 1) + tag * 500))
        val conns = Vector.fill(nClients)(new HttpConn(svc.port))
        val maintainer = nClients - 1
        var stage = -1
        var stop = false
        var liveOracle: Oracle = null
        var liveIds: Array[String] = null
        val barrier = new CyclicBarrier(nClients, () => {
          stage += 1
          if (stage % 3 == 0) stop = stage / 3 >= rounds
          else if (stage % 3 == 1) {
            val snap = state.snapshot()
            liveOracle = new Oracle(snap); liveIds = snap.map(_.id)
          }
        })
        def sync(): Unit = barrier.await(90, TimeUnit.SECONDS)

        def timed(c: Client, kind: String, key: String, shape: String = "")(f: => (Int, String)): (Int, String) = {
          val req = ctx.tracer.newReq()
          if (key != null) ctx.tracer.expect(key, req)
          val a = ctx.tracer.now()
          val (st, body) = scala.util.Try(f).recover { case e => (-1, e.toString) }.get
          val b = ctx.tracer.now()
          if (st != 200) Main.progress(s"$kind failed: $st ${body.take(300)}")
          ctx.tracer.client(req, s"client.$kind", a, b, if (shape.isEmpty) Map.empty else Map("shape" -> shape))
          c.sent += Sent(key, Op(kind, a, b, st == 200))
          (st, body)
        }
        def wrong(c: Client, what: String): Unit = { c.wrong += 1; Main.progress(s"wrong answer: $what") }

        def write(c: Client): Unit = {
          val e = Events.draw(c.rng, s"w${tag}c${c.i}n${c.n}", recentFrom, RecentDays * Events.DayMs, Users)
          c.n += 1
          val (st, body) = timed(c, "write", e.id)(conns(c.i).call("POST", "/v1/data",
            s"""{"table":"$Live","record":${e.json}}"""))
          if (st == 200) {
            if (!body.contains(s""""id":"${e.id}"""")) wrong(c, s"write ack $body")
            state.current.put(e.id, e)
            state.writes.synchronized(state.writes += e.id)
          }
        }
        def staticQuery(c: Client, k: Int): Unit = {
          val q = if (warm) outside(Queries.Shapes((c.i + k * nClients) % Queries.Shapes.size))
            else pool(zipf.draw(c.zrng))
          val (st, body) = timed(c, "query", q.sql, q.shape)(conns(c.i).call("POST", "/v1/query", queryBody(q.sql)))
          if (st == 200 && !Oracle.matches(body, expect(q))) wrong(c, s"${q.sql} -> ${body.take(300)}")
        }
        def liveQuery(c: Client): Unit = {
          val (sql, exp) =
            if (c.rng.nextBoolean()) {
              val id = liveIds(c.rng.nextInt(liveIds.length))
              (s"SELECT id, timestamp, user_id, event_type, value, region FROM $Live WHERE id = '$id'",
                liveOracle.point(id))
            } else {
              val a = recentFrom + c.rng.nextInt(RecentDays * 24) * Events.HourMs
              val b = a + (1 + c.rng.nextInt(6)) * Events.HourMs
              (s"SELECT COUNT(*) AS n FROM $Live WHERE timestamp >= ${Events.lit(a)} AND timestamp < ${Events.lit(b)}",
                Seq(Seq("n" -> LongCell(liveOracle.count(a, b)))))
            }
          val (st, body) = timed(c, "live_query", sql)(conns(c.i).call("POST", "/v1/query", queryBody(sql)))
          if (st == 200 && !Oracle.matches(body, exp)) wrong(c, s"$sql -> ${body.take(300)}")
        }
        def mutate(c: Client, update: Boolean): Unit = {
          val pick = state.writes.synchronized {
            if (state.writes.isEmpty) None
            else Some(state.writes.remove(c.rng.nextInt(state.writes.size)))
          }
          pick.foreach { id =>
            val e = state.current.get(id)
            state.mutated.add(id)
            if (update) {
              val upd = e.copy(value = (e.value + 1 + c.rng.nextInt(998)) % 1000)
              val (st, _) = timed(c, "mutate", id)(conns(c.i).call("PUT", "/v1/data",
                s"""{"table":"$Live","record":${upd.json}}"""))
              if (st == 200) state.current.put(id, upd)
            } else {
              val (st, _) = timed(c, "mutate", id)(conns(c.i).call("DELETE", "/v1/data",
                s"""{"table":"$Live","id":"$id"}"""))
              if (st == 200) { state.current.remove(id); state.deleted.add(id) }
            }
          }
        }
        def cdc(c: Client): Unit = {
          val (st, body) = timed(c, "cdc", s"poll:$Group")(conns(c.i).call("GET",
            s"/v1/cdc/$Live?group=$Group&limit=1000"))
          if (st == 200) {
            val js = Json.mapper.readTree(body)
            js.get("events").elements().asScala.foreach(ev => cdcIds.synchronized(cdcIds += ev.get("id").asText))
            val hw = js.get("high_water").asLong
            if (hw > 0) timed(c, "cdc", s"commit:$Group")(conns(c.i).call("POST",
              s"/v1/cdc/$Live/commit", s"""{"group":"$Group","high_water":$hw}"""))
          }
        }

        val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val p0 = System.nanoTime()
        val threads = clients.map { c =>
          val th = new Thread(() => {
            try {
              sync()
              while (!stop) {
                val round = stage / 3
                (0 until WritesPerClient).foreach(_ => write(c))
                sync()
                (0 until StaticQueriesPerClient).foreach(k => staticQuery(c, k))
                (0 until LiveQueriesPerClient).foreach(_ => liveQuery(c))
                sync()
                if (c.i == maintainer) {
                  mutate(c, update = round % 2 == 0)
                  cdc(c)
                  if (round % CompactEvery == 0) {
                    val a = System.nanoTime()
                    svc.facade.compactTable(Live) // no REST route: called in-process
                    compactions.synchronized(compactions += (System.nanoTime() - a) / 1e6)
                  }
                }
                sync()
              }
            } catch {
              case e: Throwable =>
                errors.add(e)
                // break the barrier, so that no other client waits for this one
                scala.util.Try(barrier.await(0, TimeUnit.NANOSECONDS))
            }
          }, s"client-${c.i}")
          th.start(); th
        }
        threads.foreach(_.join())
        conns.foreach(_.close())
        ctx.tracer.on = false
        if (!errors.isEmpty) throw errors.peek()
        (clients, (System.nanoTime() - p0) / 1e9)
      }

      val rounds = Rounds(ctx.seconds)
      val (cw, _) = phase(traced = false, tag = 9, rounds = 1, warm = true)
      Main.progress(s"warm-up round: ${cw.map(_.sent.size).sum} requests")
      val (hA0, mA0, _, _) = svc.facade.engine.cacheStats
      val (ca, wallA) = phase(traced = false, tag = 0, rounds = rounds, warm = false)
      val (hA1, mA1, _, _) = svc.facade.engine.cacheStats
      Main.progress(f"measured $rounds rounds: ${ca.map(_.sent.size).sum} requests in $wallA%.1f s")
      val b = if (ctx.trace) {
        val before = svc.facade.engine.cacheStats
        val r = phase(traced = true, tag = 1, rounds = rounds, warm = false)
        Some((r, before, svc.facade.engine.cacheStats))
      } else None
      val everyClient = cw ++ ca ++ b.map(_._1._1).getOrElse(Vector.empty)

      // End state: every acknowledged write readable with its latest
      // value, deleted ids gone, no duplicates, base rows intact.
      svc.store.flush(Live)
      val rows = svc.store.read(Live).select("id", "value").collect()
        .map(r => r.getString(0) -> r.getDouble(1))
      val got = rows.groupBy(_._1)
      val dupIds = got.count(_._2.length > 1)
      val endWrong = state.current.values.asScala.count(e =>
        !got.get(e.id).exists(_.headOption.exists(_._2 == e.value.toDouble))) +
        state.deleted.asScala.count(got.contains)
      val extra = rows.length - state.current.size
      val cdcForeign = cdcIds.count(id => !state.mutated.contains(id))
      val shapeOk = shapeRounds.flatten.forall(_._2._2)
      val problems = Seq(
        if (endWrong > 0) Some(s"$endWrong ids wrong in the end state") else None,
        if (dupIds > 0) Some(s"$dupIds duplicate ids in the end state") else None,
        if (extra != 0) Some(s"end state has $extra rows more than expected") else None,
        if (cdcForeign > 0) Some(s"$cdcForeign CDC events for ids never mutated") else None,
        if (!prologue.ok) Some("prologue end state wrong") else None,
        if (!shapeOk) Some("a per-shape query answer was wrong or failed") else None).flatten
      val wrongAnswers = everyClient.map(_.wrong).sum

      val opsA = ca.flatMap(_.sent)
      def ms(xs: Seq[Sent], kind: String) = xs.filter(s => s.op.kind == kind && s.op.ok).map(_.op.ms)
      /** Client-side hit/miss split of the `events` queries: a request is
        * a hit when an earlier request for the same text had completed. */
      def split(xs: Seq[Sent]): (Seq[Sent], Seq[Sent]) = {
        val qs = xs.filter(_.op.kind == "query")
        val firstDone = qs.groupBy(_.key).map { case (k, v) => k -> v.map(_.op.end).min }
        qs.partition(s => s.op.start > firstDone(s.key))
      }
      val (hitsA, missesA) = split(opsA)
      val lat = opsA.map(_.op.ms)
      val e2e = Map(
        "p50_ms" -> Stats.median(lat),
        "p90_ms" -> Stats.pct(lat, 90),
        "ops_per_s" -> opsA.size / wallA,
        "setup_s" -> setupS)

      val layers = if (!ctx.trace) Map.empty[String, Double] else {
        val ((cb, wallB), (h0, m0, _, _), (h1, m1, _, _)) = b.get
        org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
        val spans = ctx.tracer.all
        val roots = spans.filter(s => s.parent == 0 && s.name.startsWith("facade."))
        val clientSpans = spans.filter(_.name.startsWith("client."))
        val opsB = cb.flatMap(_.sent)
        val hitsN = (h1 - h0).toDouble; val missN = (m1 - m0).toDouble
        val staticFiles = svc.partitionFiles(Static)
        Layers.served(roots, spans, clientSpans, ctx.jobs.byRoot,
          n => n == "client.query" || n == "client.write") ++
          Layers.storage(staticFiles, staticEvs.map(_.json.length.toDouble).sum) ++
          Map(
            "query.cache_hits" -> hitsN,
            "query.cache_misses" -> missN,
            "query.cache_hit_ratio" -> (if (hitsN + missN == 0) 0.0 else hitsN / (hitsN + missN)),
            "query.wrong_answers" -> wrongAnswers.toDouble,
            "split.query_hit_p50_ms" -> Stats.median(ms(hitsA, "query")),
            "split.query_hit_p95_ms" -> Stats.pct(ms(hitsA, "query"), 95),
            "split.query_miss_p50_ms" -> Stats.median(ms(missesA, "query")),
            "split.query_miss_p95_ms" -> Stats.pct(ms(missesA, "query"), 95),
            "split.query_rps" -> opsA.count(_.op.kind == "query") / wallA,
            "split.live_query_p50_ms" -> Stats.median(ms(opsA, "live_query")),
            "split.write_p50_ms" -> Stats.median(ms(opsA, "write")),
            "split.write_p95_ms" -> Stats.pct(ms(opsA, "write"), 95),
            "split.write_rps" -> opsA.count(s => s.op.kind == "write" && s.op.ok) / wallA,
            "split.mutate_p50_ms" -> Stats.median(ms(opsA, "mutate")),
            "trace.overhead_ms" -> (Stats.median(ms(opsB, "write")) - Stats.median(ms(opsA, "write"))),
            "trace.spans" -> spans.size.toDouble,
            "counts.ingest_flushes" -> prologue.flushes.toDouble,
            "counts.ingest_files_written" -> prologue.filesWritten.toDouble,
            "counts.ingest_bytes_rewritten" -> prologue.bytesRewritten.toDouble) ++
          shapeCounts.flatMap { case (sh, rs) =>
            Seq(s"counts.jobs.$sh" -> rs.head.jobs.toDouble, s"counts.stages.$sh" -> rs.head.stages.toDouble)
          }
      }
      val exactCounts: Map[String, Any] = if (!ctx.trace) Map.empty else
        shapeCounts.map { case (sh, rs) => sh -> Map("jobs" -> rs.map(_.jobs), "stages" -> rs.map(_.stages)) }.toMap ++
          Map("ingest" -> Map("flushes" -> prologue.flushes, "files_written" -> prologue.filesWritten,
            "bytes_rewritten" -> prologue.bytesRewritten))
      val countFlags = shapeCounts.collect {
        case (sh, rs) if rs.map(r => (r.jobs, r.stages)).distinct.size > 1 => s"$sh jobs/stages differ between rounds"
      }
      val attempted = everyClient.map(_.sent.size).sum + shapeRounds.flatten.size
      Outcome(
        attempted = attempted.toLong,
        failed = (everyClient.map(_.sent.count(!_.op.ok)).sum + shapeRounds.flatten.count(!_._2._2)).toLong,
        wrong = (wrongAnswers + endWrong).toLong,
        problems = problems ++ (if (wrongAnswers > 0) Seq(s"$wrongAnswers wrong answers") else Nil),
        e2e = e2e,
        layers = layers,
        record = Map(
          "static_records" -> StaticRecords, "static_flushes" -> StaticFlushes, "days" -> Days,
          "live_records" -> LiveRecords, "pool" -> PoolSize, "zipf_s" -> ZipfS,
          "clients" -> nClients, "rounds" -> rounds, "set_ups_s" -> setups.map(_._2),
          "per_round" -> Map("writes" -> nClients * WritesPerClient,
            "events_queries" -> nClients * StaticQueriesPerClient,
            "live_queries" -> nClients * LiveQueriesPerClient, "mutations" -> 1, "cdc_polls" -> 1),
          "flush_policy" -> s"count-triggered: bufferSize=$bufferSize, flushIntervalMs=Long.MaxValue",
          "compact_every_rounds" -> CompactEvery,
          "ops" -> opsA.groupBy(_.op.kind).map { case (k, v) => k -> v.size },
          "ms_pct" -> opsA.groupBy(_.op.kind).map { case (k, v) =>
            k -> Seq(10, 50, 90, 99).map(q => q -> Stats.pct(v.map(_.op.ms), q)).toMap },
          "wall_s" -> wallA,
          "cache_hits" -> (hA1 - hA0), "cache_misses" -> (mA1 - mA0),
          "cache_hit_ratio" -> (hA1 - hA0).toDouble / math.max(1L, hA1 - hA0 + mA1 - mA0),
          "hits_client_side" -> hitsA.size, "misses_client_side" -> missesA.size,
          "compactions_ms" -> compactions.toSeq,
          "failed_by_kind" -> everyClient.flatMap(_.sent).filter(!_.op.ok).groupBy(_.op.kind).map { case (k, v) => k -> v.size },
          "parquet_files" -> Map(Static -> svc.partitionFiles(Static).map(_.files).sum,
            Live -> svc.partitionFiles(Live).map(_.files).sum),
          "exact_counts" -> exactCounts, "count_flags" -> countFlags))
    } finally svc.stop()
  }

  private def queryBody(sql: String): String =
    Json.mapper.writeValueAsString(java.util.Map.of("sql", sql))

  final case class Prologue(flushes: Long, filesWritten: Long, bytesRewritten: Long, ok: Boolean)

  /** 3 × bufferSize writes (so three count-triggered flushes), one
    * update, one delete and one compaction on table `probe`, through the
    * facade, one call at a time. */
  def runPrologue(ctx: Ctx, svc: Service, cfg: TableConfig): Prologue = {
    val t = "probe"
    svc.store.createTable(t, cfg)
    val rng = new java.util.SplittableRandom(ctx.seed ^ 0x9e3779b9L)
    val evs = (0 until 3 * cfg.bufferSize).map(k =>
      Events.draw(rng, s"p$k", recentFrom, RecentDays * Events.DayMs, Users))
    val seen = scala.collection.mutable.HashSet[String]()
    def files(): Set[String] = {
      val root = new org.apache.hadoop.fs.Path(svc.store.tablePath(t))
      val fs = root.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(root)) Set.empty
      else fs.listStatus(root).filter(_.getPath.getName.startsWith("date=")).flatMap(d =>
        fs.listStatus(d.getPath).map(_.getPath.getName).filter(_.endsWith(".parquet"))).toSet
    }
    var written = 0L
    def track(): Unit = files().foreach(f => if (seen.add(f)) written += 1)
    val before = ctx.tracer.all.size
    evs.foreach { e => svc.facade.writeData(t, e.record); track() }
    val upd = evs(1).copy(value = (evs(1).value + 1) % 1000)
    svc.facade.updateData(t, upd.record); track()
    svc.facade.deleteData(t, evs(2).id); track()
    svc.facade.compactTable(t); track()
    val rows = svc.store.read(t).select("id", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ok = rows.size == evs.size - 1 && !rows.contains(evs(2).id) &&
      rows.get(evs(1).id).contains(upd.value.toDouble) &&
      (evs.take(1) ++ evs.drop(3)).forall(e => rows.get(e.id).contains(e.value.toDouble))
    val spans = ctx.tracer.all.drop(before)
    Prologue(
      flushes = spans.count(s => s.name == "ingest.flatten_flush"),
      filesWritten = written,
      bytesRewritten = spans.filter(s => s.parent == 0 && s.attrs.contains("bytes_rewritten"))
        .map(_.attrs("bytes_rewritten").toString.toLong).sum,
      ok = ok)
  }
}
