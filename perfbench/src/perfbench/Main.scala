package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.core.GraftSession

/** Benchmark entry point: `Main <workload> <seed> <seconds> <trace> <work-dir> <out-dir> <BENCHMARK.json>`.
  * Prints a summary line, then as its last stdout line the result
  * object `{"correct","attempted","failed","metrics"}`. With trace 0 the
  * metrics are the end-to-end ones; with trace 1 the per-layer ones.
  * The full run record (host state, exact counts, spans) goes to files
  * under the out dir. */
object Main {
  private val started = System.nanoTime()
  /** A progress line on stderr, stamped with seconds since start. */
  def progress(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2f s  $msg")

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, out, spec) = args
    val load0 = loadAvg()
    val nproc = Runtime.getRuntime.availableProcessors
    val trace = traceS == "1"
    val endToEnd = metricUnits(spec, "end_to_end")
    val layerUnits = metricUnits(spec, "per_layer")
    val spark = GraftSession.builder("perfbench", nproc.toString)
      .master(s"local[$nproc]")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new JobStats
    spark.sparkContext.addSparkListener(jobs)
    val ctx = Ctx(spark, work, seedS.toLong, secondsS.toDouble, trace, nproc,
      new Tracer(spark.sparkContext), jobs)
    val o = workload match {
      case "serve" => Serve.run(ctx)
      case "batch-pipeline" => BatchPipeline.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val pinned = Layers.pinned(ctx)
    val heapMb = retainedHeapMb()
    progress("heap measured")
    val load1 = loadAvg()

    val metrics: Map[String, (Double, String)] =
      if (!trace) endToEnd.map { case (k, u) =>
        k -> ((if (k == "heap_retained_mb") heapMb else o.e2e(k)), u) }.toMap
      else {
        val all = o.layers ++ pinned ++ Map(
          "serve.client_floor_ms" -> (if (workload == "serve") Load.clientFloorMs(2000) else 0.0),
          "split.error_rate" -> (o.failed + o.wrong).toDouble / math.max(1L, o.attempted))
        layerUnits.map { case (k, u) => k -> (all.getOrElse(k, 0.0), u) }.toMap
      }

    // exact counts: flag any that differ from an earlier run of the same
    // workload and seed in this checkout
    val counts = o.record.getOrElse("exact_counts", Map.empty).asInstanceOf[Map[String, Any]]
    val countsJson = Json.mapper.writeValueAsString(deep(counts))
    val countFile = Paths.get(out, s"counts-$workload-s$seedS.json")
    val countDrift =
      if (counts.isEmpty) None
      else if (Files.exists(countFile)) {
        val prev = Files.readString(countFile)
        if (prev != countsJson) Some(s"exact counts differ from an earlier run: $prev vs $countsJson") else None
      } else { Files.writeString(countFile, countsJson); None }

    val record = o.record ++ Map(
      "workload" -> workload, "seed" -> seedS.toLong, "seconds" -> secondsS.toDouble,
      "trace" -> trace, "nproc" -> nproc,
      "load_avg_start" -> load0, "load_avg_end" -> load1,
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "heap_retained_mb" -> heapMb,
      "problems" -> o.problems, "count_drift" -> countDrift.toSeq,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    val stamp = s"$workload-s$seedS-t$traceS-${System.currentTimeMillis()}"
    Files.writeString(Paths.get(out, s"run-$stamp.json"), Json.mapper.writeValueAsString(deep(record)) + "\n")
    if (trace) ctx.tracer.write(Paths.get(out, s"spans-$stamp.jsonl"))

    (o.problems ++ countDrift).foreach(p => System.err.println(s"[perfbench] $p"))
    println(s"[perfbench] $workload seed=$seedS trace=$traceS nproc=$nproc " +
      f"load=$load0%.2f→$load1%.2f heap_max=${Runtime.getRuntime.maxMemory / 1048576}MB " +
      s"record=run-$stamp.json")
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("correct", o.problems.isEmpty && o.wrong == 0)
    result.put("attempted", o.attempted)
    result.put("failed", o.failed + o.wrong)
    result.put("metrics", deep(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) }.toMap))
    println(Json.mapper.writeValueAsString(result))
    System.out.flush()
    spark.stop()
    progress("stopped")
  }

  /** Heap in use after full GCs, repeated until it stops falling: Spark's
    * cleaner frees unpersisted blocks and broadcasts asynchronously, after
    * the GC that makes them unreachable. */
  private def retainedHeapMb(): Double = {
    def used() = { System.gc(); Thread.sleep(200); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = used()
    var n = 0
    while (prev - cur > 1.0 && n < 10) { prev = cur; cur = used(); n += 1 }
    cur
  }

  /** name → unit of every metric in one list of BENCHMARK.json. */
  private def metricUnits(spec: String, list: String): Seq[(String, String)] =
    Json.mapper.readTree(Files.readString(Paths.get(spec))).get(list).elements().asScala
      .map(n => n.get("name").asText -> n.get("unit").asText).toSeq

  /** Scala collections → Java ones, for Jackson. */
  def deep(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => j.put(k.toString, deep(x)) }
      j
    case s: Iterable[_] => s.map(deep).toSeq.asJava
    case a: Array[_] => a.map(deep).toSeq.asJava
    case Some(x) => deep(x)
    case None => null
    case x => x
  }
}
