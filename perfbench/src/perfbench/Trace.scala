package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One finished span. Times are epoch milliseconds (fractional) so they
  * line up with Spark listener event times. `root` is the outermost
  * server-side span of the request, `req` the client request id the
  * span was matched to (0 when unmatched). */
final case class Span(id: Long, parent: Long, root: Long, req: Long,
    name: String, start: Double, end: Double, attrs: Map[String, Any]) {
  def ms: Double = end - start
}

/** In-memory span recorder. Server-side spans nest through a
  * thread-local stack; a client registers the key of the request it is
  * about to send (SQL text or record id), and the outermost server span
  * claims it, which ties both sides of one request to the same id.
  * Spans are kept in memory and written out once, at the end of a run. */
final class Tracer(sc: SparkContext) {
  @volatile var on = false
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  final class Open(val id: Long, val parent: Long, val root: Long,
      val req: Long, val start: Double) {
    val attrs = new ConcurrentHashMap[String, Any]()
    def attr(k: String, v: Any): Unit = if (id != 0) attrs.put(k, v)
  }
  private val off = new Open(0, 0, 0, 0, 0)
  private val current = new ThreadLocal[Open]
  private val pending = new ConcurrentHashMap[String, ConcurrentLinkedQueue[java.lang.Long]]()

  def newReq(): Long = ids.incrementAndGet()

  def expect(key: String, req: Long): Unit = if (on)
    pending.computeIfAbsent(key, _ => new ConcurrentLinkedQueue()).add(req)

  private def claim(key: String): Long =
    if (key == null) 0L
    else Option(pending.get(key)).flatMap(q => Option(q.poll())).map(_.longValue).getOrElse(0L)

  /** Run `f` inside a span. The outermost span on a thread also tags
    * every Spark job the thread submits with its id. */
  def span[T](name: String, key: String = null)(f: Open => T): T =
    if (!on) f(off)
    else {
      val par = current.get
      val id = ids.incrementAndGet()
      val o = new Open(id, if (par == null) 0L else par.id,
        if (par == null) id else par.root,
        if (par == null) claim(key) else par.req, now())
      current.set(o)
      val prevProp = sc.getLocalProperty(Tracer.RootProp)
      if (par == null) sc.setLocalProperty(Tracer.RootProp, id.toString)
      try f(o)
      finally {
        current.set(par)
        if (par == null) sc.setLocalProperty(Tracer.RootProp, prevProp)
        spans.add(Span(o.id, o.parent, o.root, o.req, name, o.start, now(),
          o.attrs.asScala.toMap))
      }
    }

  /** A client-side span, timed by the caller. */
  def client(req: Long, name: String, start: Double, end: Double,
      attrs: Map[String, Any]): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), 0L, 0L, req, name, start, end, attrs))

  def all: Vector[Span] = spans.asScala.toVector

  def write(path: java.nio.file.Path): Unit = {
    val m = Json.mapper
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      val o = new java.util.LinkedHashMap[String, Any]()
      o.put("id", s.id); o.put("parent", s.parent); o.put("root", s.root)
      o.put("req", s.req); o.put("name", s.name)
      o.put("start_ms", s.start); o.put("end_ms", s.end)
      o.put("attrs", s.attrs.asJava)
      w.write(m.writeValueAsString(o)); w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val RootProp = "perfbench.root"
}

/** Spark job/stage/task totals, attributed to the outermost span that
  * submitted the job (0 for jobs submitted outside any span). */
final class JobStats extends SparkListener {
  final class Job(val id: Int, val root: Long, val start: Double) {
    @volatile var end: Double = -1
    var stages = 0L; var tasks = 0L; var runMs = 0L
    var shuffleBytes = 0L; var inputBytes = 0L
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val root = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.RootProp)))
      .flatMap(_.toLongOption).getOrElse(0L)
    val j = new Job(e.jobId, root, e.time.toDouble)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }

  def all: Vector[Job] = jobs.values.asScala.toVector.sortBy(_.id)
  def byRoot: Map[Long, Vector[Job]] = all.groupBy(_.root)
}

/** Totals over a set of jobs. */
final case class JobTotals(jobs: Long, stages: Long, tasks: Long, runMs: Long,
    shuffleBytes: Long, inputBytes: Long)

object JobTotals {
  def of(js: Iterable[JobStats#Job]): JobTotals = JobTotals(js.size.toLong,
    js.map(_.stages).sum, js.map(_.tasks).sum, js.map(_.runMs).sum,
    js.map(_.shuffleBytes).sum, js.map(_.inputBytes).sum)
}

/** Length of the union of intervals, clipped to [lo, hi]. */
object Intervals {
  def covered(iv: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toVector.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
