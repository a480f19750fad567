package perfbench

import org.apache.spark.sql.SparkSession

import graft.catalog.TableStore
import graft.ingest.TableConfig
import graft.maintain.Compaction
import graft.serve.{RestServer, ServiceFacade}

/** What every workload gets from [[Main]]. */
final case class Ctx(spark: SparkSession, work: String, seed: Long, seconds: Double,
    trace: Boolean, nproc: Int, tracer: Tracer, jobs: JobStats)

/** The program as served: a store, the facade over it and the REST
  * server in front, built with the program's own defaults. With tracing
  * the store and facade are the span-recording subclasses. */
final class Service(ctx: Ctx, root: String) {
  val store: TableStore =
    if (ctx.trace) new TracedStore(ctx.spark, root, ctx.tracer)
    else new TableStore(ctx.spark, root)
  lazy val facade: ServiceFacade =
    if (ctx.trace) new TracedFacade(store, ctx.tracer) else new ServiceFacade(store)
  private var server: RestServer = _
  var port: Int = -1

  def load(table: String, cfg: TableConfig, evs: Array[Ev], flushes: Int): Unit = {
    store.createTable(table, cfg)
    evs.grouped(math.max(1, (evs.length + flushes - 1) / flushes)).foreach { chunk =>
      store.write(table, chunk.map(_.record).toSeq)
      store.flush(table)
    }
  }

  def start(): Unit = { server = new RestServer(facade); port = server.start() }
  def stop(): Unit = if (server != null) server.stop()

  def partitionFiles(table: String): Seq[Compaction#PartitionStats] =
    new Compaction(store).partitionStats(table)
}

/** Per-layer numbers derived from the spans and Spark jobs of a traced
  * phase. Every metric is present; a layer the phase never reached
  * reads 0. */
object Layers {
  def children(spans: Vector[Span]): Map[Long, Vector[Span]] =
    spans.filter(_.root != 0).groupBy(_.root)

  /** Per-request layer metrics for a traced served phase. `roots` are the
    * facade spans of the phase, `clients` the client spans. */
  def served(roots: Vector[Span], all: Vector[Span], clients: Vector[Span],
      jobs: Map[Long, Vector[JobStats#Job]], fastClient: String => Boolean): Map[String, Double] = {
    val kids = children(all).map { case (r, ss) => r -> ss.filter(_.id != r) }
    def under(r: Span, name: String) = kids.getOrElse(r.id, Vector.empty).filter(_.name == name)
    val queries = roots.filter(_.name == "facade.query")
    val (miss, hit) = queries.partition(q => under(q, "catalog.read").nonEmpty)
    def jobsOf(r: Span) = jobs.getOrElse(r.id, Vector.empty)
    def jobIv(r: Span) = jobsOf(r).map(j => (j.start, if (j.end < 0) r.end else j.end))
    val selfMiss = miss.map { q =>
      val cat = (under(q, "catalog.read") ++ under(q, "catalog.known")).map(s => (s.start, s.end))
      q.ms - Intervals.covered(cat ++ jobIv(q), q.start, q.end)
    }
    val nQ = math.max(1, queries.size).toDouble
    val reads = queries.flatMap(under(_, "catalog.read"))
    val knowns = queries.flatMap(under(_, "catalog.known"))
    val writes = all.filter(_.name == "catalog.write")
    val flushes = all.filter(_.name == "catalog.flush")
    val flatF = all.filter(_.name == "ingest.flatten_flush")
    val flatR = all.filter(_.name == "ingest.flatten_read")
    val flattenParents = flatF.map(_.parent).toSet
    val flushWithRows = flushes.filter(f => flattenParents(f.id))
    val flushIds = flushes.map(_.id).toSet
    val flushParents = flushes.map(_.parent).toSet
    val writeSelf = writes.filter(w => !flushParents(w.id)).map(_.ms)
    def num(s: Span, k: String) = s.attrs.get(k).map(_.toString.toDouble).getOrElse(0.0)
    val updates = roots.filter(_.name == "facade.update")
    val deletes = roots.filter(_.name == "facade.delete")
    val compacts = roots.filter(_.name == "facade.compact")
    val polls = roots.filter(_.name == "facade.poll")
    val writeClients = clients.filter(_.name == "client.write")
    val stall = writeClients.filter(w => compacts.exists(c => w.start < c.end && w.end > c.start)).map(_.ms)
    val byReq = roots.filter(_.req != 0).map(r => r.req -> r).toMap
    val overhead = clients.filter(c => fastClient(c.name)).flatMap(c => byReq.get(c.req).map(r => c.ms - r.ms))
    val allJobs = roots.flatMap(jobsOf)
    val tot = JobTotals.of(allJobs)
    val nOps = math.max(1, roots.size).toDouble
    val gaps = roots.map(r => r.ms - Intervals.covered(jobIv(r), r.start, r.end))
    val missJobs = miss.map(q => JobTotals.of(jobsOf(q)))
    Map(
      "serve.rest_overhead_ms" -> Stats.median(overhead),
      "query.facade_hit_ms" -> Stats.median(hit.map(_.ms)),
      "query.facade_miss_ms" -> Stats.median(miss.map(_.ms)),
      "query.self_miss_ms" -> Stats.median(selfMiss),
      "query.jobs_per_miss" -> Stats.mean(missJobs.map(_.jobs.toDouble)),
      "query.stages_per_miss" -> Stats.mean(missJobs.map(_.stages.toDouble)),
      "catalog.read_ms" -> Stats.median(reads.map(_.ms)),
      "catalog.read_calls_per_query" -> reads.size / nQ,
      "catalog.known_ms" -> Stats.median(knowns.map(_.ms)),
      "catalog.known_calls_per_query" -> knowns.size / nQ,
      "catalog.write_ms" -> Stats.median(writeSelf),
      "catalog.flush_ms" -> Stats.median(flushWithRows.map(_.ms)),
      "catalog.flushes" -> flushWithRows.size.toDouble,
      "catalog.flush_rows" -> flatF.filter(f => flushIds(f.parent)).map(num(_, "rows")).sum,
      "ingest.flatten_flush_ms" -> Stats.median(flatF.map(_.ms)),
      "ingest.flatten_flush_rows" -> flatF.map(num(_, "rows")).sum,
      "ingest.flatten_read_ms" -> Stats.median(flatR.map(_.ms)),
      "ingest.flatten_read_rows" -> flatR.map(num(_, "rows")).sum,
      "mutate.update_ms" -> Stats.median(updates.map(_.ms)),
      "mutate.delete_ms" -> Stats.median(deletes.map(_.ms)),
      "mutate.bytes_rewritten" -> (updates ++ deletes).map(num(_, "bytes_rewritten")).sum,
      "maintain.compact_ms" -> Stats.median(compacts.map(_.ms)),
      "maintain.files_before" -> compacts.map(num(_, "files_before")).sum,
      "maintain.files_after" -> compacts.map(num(_, "files_after")).sum,
      "maintain.bytes_rewritten" -> compacts.map(num(_, "bytes_rewritten")).sum,
      "maintain.write_stall_ms" -> Stats.mean(stall),
      "streaming.poll_ms" -> Stats.median(polls.map(_.ms)),
      "streaming.events_per_poll" -> Stats.mean(polls.map(num(_, "events"))),
      "core.spark_jobs" -> tot.jobs / nOps,
      "core.spark_stages" -> tot.stages / nOps,
      "core.spark_tasks" -> tot.tasks / nOps,
      "core.executor_run_ms" -> tot.runMs / nOps,
      "core.driver_gap_ms" -> Stats.mean(gaps),
      "core.shuffle_bytes" -> tot.shuffleBytes / nOps,
      "core.input_bytes" -> tot.inputBytes / nOps)
  }

  /** Files per date partition and stored bytes per byte of user JSON. */
  def storage(parts: Seq[Compaction#PartitionStats], userBytes: Double): Map[String, Double] =
    Map(
      "catalog.files_per_partition" -> Stats.mean(parts.map(_.files.toDouble)),
      "catalog.bytes_stored_per_user_byte" ->
        (if (userBytes <= 0) 0.0 else parts.map(_.bytes).sum / userBytes))

  /** Checkpoint blocks still pinned and the memory/disk they hold. */
  def pinned(ctx: Ctx): Map[String, Double] = {
    val infos = ctx.spark.sparkContext.getRDDStorageInfo
    Map("core.checkpoint_rdds" -> infos.length.toDouble,
      "core.storage_mb" -> infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }
}
