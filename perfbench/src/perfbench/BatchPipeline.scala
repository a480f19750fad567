package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.{Caching, Tables}
import graft.operators.{Dedup, DedupPipeline, Similarity}

/** `batch-pipeline`: passes over a generated corpus (the `documents`
  * and `embeddings` tables). A pass times the DedupPipeline phase
  * `graft.Bench` times — cluster materialization, then the decision
  * joins — and the catalog entries d08 and s05, in an order drawn from
  * the seed. Set-up writes the corpus, `SetUps` times into fresh
  * directories; the last one is used. One unmeasured pass then builds
  * the s05 index and compiles the code paths, and `Passes(seconds)`
  * warm passes are measured. A traced run then runs one more untraced
  * pass and measures as many again, traced. */
object BatchPipeline {
  // Shape of the `documents` and `embeddings` tables of the sf0.1 test
  // corpus, the one `graft.Bench` times (measured; see README.md).
  val Docs = 5000
  val NearDups = 250
  val MinTokens = 10
  val MaxTokens = 99
  val Vocab: Array[String] = ("a agg batch big column customer data fast filter group hash join " +
    "key line merge order part query row scan slow small sort spark stream table the value " +
    "vector window").split(' ')
  val Sources = 20
  val Vectors = 2000
  val Dim = 64
  val Labels = 10

  val Units: Seq[String] = Seq("pipeline", "d08", "s05")
  val SetUps = 5
  /** Seconds of `--seconds` per measured pass: about one warm pass on a
    * 4-core host. */
  val PassSeconds = 14.0
  def Passes(seconds: Double): Int = math.max(1, math.round(seconds / PassSeconds).toInt)

  /** Writes `documents` and `embeddings` with the measured shape of the
    * sf0.1 corpus: token counts uniform in [10, 99] over a 30-word
    * vocabulary; 5% near-duplicates, each another document's text plus
    * the token `dup`; 40% `en`, the rest split evenly over four other
    * languages; source `src{doc_id % 20}`; unit-length Gaussian 64-d
    * embeddings with labels uniform over 10. */
  def writeCorpus(spark: SparkSession, dir: String, seed: Long): Array[Array[Float]] = {
    val rng = new java.util.SplittableRandom(seed)
    val others = Array("zh", "es", "fr", "de")
    val texts = Array.fill(Docs)(Array.fill(MinTokens + rng.nextInt(MaxTokens - MinTokens + 1))(
      Vocab(rng.nextInt(Vocab.length))).mkString(" "))
    val dupIds = scala.collection.mutable.LinkedHashSet[Int]()
    while (dupIds.size < NearDups) dupIds += rng.nextInt(Docs)
    dupIds.foreach(i => texts(i) = texts(rng.nextInt(Docs)) + " dup")
    val docs = (0 until Docs).map { i =>
      val lang = if (rng.nextDouble() < 0.4) "en" else others(rng.nextInt(others.length))
      Row(i.toLong, texts(i), lang, s"src${i % Sources}", texts(i).length.toLong)
    }
    val vectors = Array.fill(Vectors) {
      val g = Array.fill(Dim)(rng.nextGaussian())
      val norm = math.sqrt(g.map(x => x * x).sum)
      g.map(x => (x / norm).toFloat)
    }
    val embs = vectors.indices.map(i => Row(i.toLong, vectors(i).toSeq, rng.nextInt(Labels)))
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 1), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))).write.parquet(Tables.path(dir, "documents"))
    spark.createDataFrame(spark.sparkContext.parallelize(embs, 1), StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))).write.parquet(Tables.path(dir, "embeddings"))
    vectors
  }

  /** s05's top-k: the 10 nearest vectors by cosine, ties by id, the query
    * itself left out (as `Similarity.annBrute` defines them). */
  val S05K = 10

  /** Recall of s05's neighbours of each query against the exact top-k,
    * computed here from the generated vectors, as s05 reports it
    * (rounded to 2 places). */
  def exactRecalls(spark: SparkSession, dir: String, vectors: Array[Array[Float]]): Map[Long, Double] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    Similarity.annIvfPqIndexed(spark, dir).select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        val qv = vectors(q.toInt)
        val exact = vectors.indices.filter(_ != q).sortBy(j => (-cos(qv, vectors(j)), j)).take(S05K)
        q -> math.round(100.0 * (rs.map(_.getLong(1).toInt).toSet & exact.toSet).size / S05K) / 100.0
      }
  }

  final case class UnitRun(name: String, ms: Double, phases: Map[String, Double],
      rows: Map[String, Long], recalls: Map[Long, Double], aboveFloor: Boolean,
      start: Double, end: Double) {
    def recall: Option[Double] = if (recalls.isEmpty) None else Some(recalls.values.sum / recalls.size)
  }

  def runUnit(spark: SparkSession, dir: String, name: String, t: Tracer): UnitRun = {
    val a = t.now()
    def time[A](f: => A): (A, Double) = { val s = t.now(); val r = f; (r, t.now() - s) }
    val r = name match {
      case "pipeline" =>
        val docs = Tables.load(spark, dir, "documents")
        val emb = Dedup.plantedDropCorpus(Tables.load(spark, dir, "embeddings"))
        val p = DedupPipeline(docs, emb)
        // the two cluster chains run concurrently: the text wait covers
        // both, the embedding wait whatever is left of its chain
        val (tc, textMs) = time(p.textClusters.count())
        val (ec, embMs) = time(p.embClusters.count())
        val ((sv, js), decisionsMs) = time((p.survivors.count(), p.jointSurvivors.count()))
        UnitRun(name, 0, Map("text_clusters" -> textMs, "emb_clusters" -> embMs,
          "decisions" -> decisionsMs),
          Map("text_clusters" -> tc, "emb_clusters" -> ec, "survivors" -> sv, "joint_survivors" -> js),
          Map.empty, aboveFloor = true, 0, 0)
      case "d08" => rowsOnly(name, Dedup.dedupClusters(spark, dir))
      case "s05" =>
        val rows = Similarity.annIvfPqIndexedChecked(spark, dir).collect()
        UnitRun(name, 0, Map.empty, Map("s05" -> rows.length.toLong),
          rows.map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("recall")).toMap,
          rows.nonEmpty && rows.forall(_.getAs[Long]("above_floor") == 1L), 0, 0)
    }
    Caching.releaseAll(spark)
    val b = t.now()
    r.copy(ms = b - a, start = a, end = b)
  }

  private def rowsOnly(name: String, df: DataFrame): UnitRun =
    UnitRun(name, 0, Map.empty, Map(name -> df.count()), Map.empty, aboveFloor = true, 0, 0)

  final case class Pass(units: Seq[UnitRun]) {
    def ms: Double = units.map(_.ms).sum
    def rows: Map[String, Long] = units.flatMap(_.rows).toMap
    def start: Double = units.head.start
    def end: Double = units.last.end
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/corpus"
    val order = {
      val rng = new scala.util.Random(ctx.seed)
      rng.shuffle(Units)
    }
    val (setups, vectors) = (0 until SetUps).map { k =>
      val t0 = System.nanoTime()
      val v = writeCorpus(spark, s"$dir$k", ctx.seed)
      val s = (System.nanoTime() - t0) / 1e9
      Main.progress(f"set-up $k: $s%.2f s")
      (s, v)
    }.unzip
    val setupS = Stats.median(setups)
    val corpus = s"$dir${SetUps - 1}"
    def pass(): Pass = {
      val p = Pass(order.map(u => runUnit(spark, corpus, u, ctx.tracer)))
      Main.progress(f"pass ${p.ms}%.0f ms: " + p.units.map(u => f"${u.name} ${u.ms}%.0f").mkString(", "))
      p
    }
    def passes(traced: Boolean): Vector[Pass] = {
      ctx.tracer.on = traced
      val out = Vector.fill(Passes(ctx.seconds))(pass())
      ctx.tracer.on = false
      out
    }
    // warm-up, unmeasured: builds s05's index and compiles the code paths
    val warm = pass()
    val exact = exactRecalls(spark, corpus, vectors.last)
    val a = passes(traced = false)
    // traced runs: one more untraced pass, as warm as the traced ones, is
    // the reference for the tracing overhead
    val warmRef = if (ctx.trace) Some(pass()) else None
    val jobsBefore = { org.apache.spark.PerfbenchBus.drain(spark.sparkContext); ctx.jobs.all.size }
    val b = if (ctx.trace) Some(passes(traced = true)) else None

    // checks: identical row counts and recall on every pass, d08 equal
    // to the pipeline's own text clustering, s05's recall equal to that of
    // its neighbours against the exact top-k. Whether the recall clears
    // the program's 0.8 floor is recorded, not checked: that floor was set
    // on the sf0.1 corpus (0.820 there), and on generated corpora of its
    // shape the recall varies around it (0.76 to 0.96).
    val every = warm +: (a ++ warmRef ++ b.getOrElse(Vector.empty))
    val rowSets = every.map(_.rows).distinct
    val recallSets = every.map(_.units.flatMap(_.recall)).distinct
    val firstRows = every.head.rows
    val problems = Seq(
      if (rowSets.size > 1) Some(s"row counts differ between passes: $rowSets") else None,
      if (recallSets.size > 1) Some(s"s05 recall differs between passes: $recallSets") else None,
      if (firstRows.get("d08") != firstRows.get("text_clusters"))
        Some("d08 rows differ from the pipeline's text clusters") else None,
      if (every.exists(_.units.exists(u => u.name == "s05" && u.recalls != exact)))
        Some(s"s05 recall differs from the recall against the exact top-$S05K: $exact") else None,
      if (firstRows.values.exists(_ <= 0)) Some(s"empty output: $firstRows") else None).flatten
    val wrongPasses = every.count(p => p.rows != firstRows ||
      p.units.exists(u => u.name == "s05" && u.recalls != exact))

    val passMs = a.map(_.ms)
    val e2e = Map(
      "p50_ms" -> Stats.median(passMs),
      "p90_ms" -> Stats.pct(passMs, 90),
      "ops_per_s" -> a.size / (passMs.sum / 1000.0),
      "setup_s" -> setupS)
    val jobsPerPass: Vector[(Long, Long)] = b.map { ps =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val js = ctx.jobs.all.drop(jobsBefore)
      ps.map { p =>
        val in = js.filter(j => j.start >= math.floor(p.start) && j.start <= p.end)
        (in.size.toLong, in.map(_.stages).sum)
      }
    }.getOrElse(Vector.empty)
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val bp = b.get
      def unitMs(u: String) = Stats.median(bp.flatMap(_.units.filter(_.name == u).map(_.ms)))
      def phaseMs(k: String) = Stats.median(bp.flatMap(_.units.flatMap(_.phases.get(k))))
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val js = ctx.jobs.all.drop(jobsBefore)
      val tot = JobTotals.of(js)
      val n = bp.size.toDouble
      val gaps = bp.map(p => p.ms - Intervals.covered(js.map(j => (j.start, if (j.end < 0) p.end else j.end)), p.start, p.end))
      Map(
        "operators.text_clusters_s" -> phaseMs("text_clusters") / 1000,
        "operators.emb_clusters_s" -> phaseMs("emb_clusters") / 1000,
        "operators.decisions_s" -> phaseMs("decisions") / 1000,
        "operators.d08_s" -> unitMs("d08") / 1000,
        "operators.s05_s" -> unitMs("s05") / 1000,
        "operators.jobs_per_pass" -> Stats.median(jobsPerPass.map(_._1.toDouble)),
        "operators.stages_per_pass" -> Stats.median(jobsPerPass.map(_._2.toDouble)),
        "operators.s05_recall" -> every.head.units.flatMap(_.recall).headOption.getOrElse(0.0),
        "core.spark_jobs" -> tot.jobs / n,
        "core.spark_stages" -> tot.stages / n,
        "core.spark_tasks" -> tot.tasks / n,
        "core.executor_run_ms" -> tot.runMs / n,
        "core.driver_gap_ms" -> Stats.mean(gaps),
        "core.shuffle_bytes" -> tot.shuffleBytes / n,
        "core.input_bytes" -> tot.inputBytes / n,
        "split.batch_pass_s" -> Stats.median(passMs) / 1000,
        "trace.overhead_ms" -> (Stats.median(bp.map(_.ms)) - warmRef.get.ms))
    }
    Outcome(
      attempted = every.size.toLong,
      failed = 0,
      wrong = wrongPasses.toLong,
      problems = problems,
      e2e = e2e,
      layers = layers,
      record = Map(
        "docs" -> Docs, "near_dups" -> NearDups, "vectors" -> Vectors, "dim" -> Dim, "order" -> order,
        "set_ups_s" -> setups, "warm_up_pass_ms" -> warm.ms,
        "passes" -> a.size, "pass_ms" -> passMs,
        "rows" -> firstRows, "s05_recall" -> every.head.units.flatMap(_.recall).headOption,
        "s05_recall_exact" -> exact.toSeq.sortBy(_._1).map(_._2),
        "s05_above_floor" -> every.head.units.filter(_.name == "s05").map(_.aboveFloor),
        "exact_counts" -> (if (ctx.trace) Map("jobs_per_pass" -> jobsPerPass.map(_._1),
          "stages_per_pass" -> jobsPerPass.map(_._2)) else Map.empty),
        "count_flags" -> (if (jobsPerPass.map(_._1).distinct.size > 1)
          Seq("jobs per pass differ between passes") else Nil)))
  }
}
