package perfbench

import graft.index.{IndexBuilder, IndexConfig, IndexManifest, IndexReader}
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Inputs, the index build and layer arithmetic shared by the workloads. */
object Common {

  /** Corpus size. Every run sets up and measures inside a few tens of
    * seconds, so the corpus is a fifth of the 80k files the library's own
    * bench uses; the index layout (64 shards, 64 build partitions, hot terms
    * at df >= N/8, 8 salts) is the same.
    */
  val Files: Int = 16000

  /** Partitions of the stored source corpus. */
  val SrcPartitions: Int = 16

  /** `graft.Bench`'s build settings, scaled with the corpus. */
  val Config: IndexConfig = IndexConfig(tokenizerName = "TokenBigram", withPositions = true,
    nShards = 64, buildPartitions = 64, hotTermDf = Files / 8, nSalts = 8)

  val TopK = 10

  final case class Corpus(path: String, files: Long, bytes: Long, digest: Long)

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def nowMs: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  /** The seeded corpus, generated by the executors. */
  def corpusDf(ctx: Ctx, files: Int = Files): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    spark.range(0, files.toLong, 1, SrcPartitions).map(i => Gen.doc(seed, i)).toDF()
  }

  /** Generate the seeded corpus, store it as parquet and digest what was stored. */
  def writeCorpus(ctx: Ctx, name: String, files: Int = Files): Corpus = {
    val spark = ctx.spark
    import spark.implicits._
    val path = ctx.fresh(name)
    corpusDf(ctx, files).write.mode(SaveMode.Overwrite).parquet(path)
    val (digest, bytes, n) = spark.read.parquet(path).as[Gen.Doc].mapPartitions { it =>
      var h = 0L; var b = 0L; var n = 0L
      it.foreach { d => h += Gen.docDigest(d); b += d.content.length; n += 1 }
      Iterator((h, b, n))
    }.collect().foldLeft((0L, 0L, 0L)) { case ((h, b, n), (h2, b2, n2)) => (h + h2, b + b2, n + n2) }
    Corpus(path, n, bytes, digest)
  }

  def readCorpus(ctx: Ctx, c: Corpus): DataFrame = ctx.spark.read.parquet(c.path)

  /** One timed `IndexBuilder.build` call and what it left on disk. */
  final case class Build(dir: String, startMs: Double, seconds: Double, manifest: IndexManifest, span: Int)

  def build(ctx: Ctx, tracer: Tracer, docs: DataFrame, dir: String): Build = {
    val startMs = nowMs
    var spanId = 0
    val (m, s) = time {
      tracer.span("index", "index.build") {
        spanId = tracer.currentSpan
        IndexBuilder.build(ctx.spark, docs, dir, Config)
      }
    }
    Build(dir, startMs, s, m, spanId)
  }

  /** Build checks: doc count, the content digest invariant and a token count
    * equal to the first build's.
    */
  def checkBuilds(ctx: Ctx, builds: Seq[Build], files: Long): Seq[Boolean] = {
    val tokens = builds.head.manifest.totalTokens
    builds.zipWithIndex.map { case (b, i) =>
      val ok = b.manifest.numDocs == files &&
        b.manifest.totalTokens == tokens &&
        new IndexReader(ctx.spark, b.dir).verifyShaInvariant()
      ctx.report.check(s"build$i numDocs=${b.manifest.numDocs} totalTokens=${b.manifest.totalTokens} sha", ok)
      ok
    }
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(c => dirBytes(c.getPath)).sum) else f.length()
  }

  /** Layer metrics of traced builds: the marker timeline, Spark stage
    * metrics attributed to it, and the files the build wrote.
    */
  def indexLayers(ctx: Ctx, tracer: Tracer, builds: Seq[Build]): Unit = {
    val L = ctx.report.layers
    def med(f: Build => Double): Double = Stats.median(builds.map(f))
    val timelines = builds.map(b => b -> Timeline.stages(b.startMs, Timeline.readMarkers(b.dir))).toMap
    Timeline.Markers.map(_._2).foreach { st =>
      L(s"index.${st}_s") = Metric(med(b => timelines(b).find(_.name == st).get.seconds), "s", builds.size)
    }
    def stagesIn(b: Build, timelineStage: Option[String]): Seq[StageRec] =
      tracer.stagesOf(b.span).filter(s => timelineStage.forall(_ == Timeline.attribute(s.submitMs.toDouble, timelines(b))))
    val n = builds.size
    L("index.segments_map_run_s") =
      Metric(med(b => stagesIn(b, Some("segments")).filter(_.isMap).map(_.runMs).sum / 1000.0), "s", n)
    L("index.segments_reduce_run_s") =
      Metric(med(b => stagesIn(b, Some("segments")).filterNot(_.isMap).map(_.runMs).sum / 1000.0), "s", n)
    L("index.doc_rows_read_per_doc") = Metric(med(b =>
      Seq("lexicon", "norms", "segments").map(st => stagesIn(b, Some(st)).map(_.recordsRead).sum).sum.toDouble /
        b.manifest.numDocs), "rows/doc", n)
    L("index.cpu_s") = Metric(med(b => stagesIn(b, None).map(_.cpuNs).sum / 1e9), "s", n)
    L("index.slot_util") = Metric(med(b => stagesIn(b, None).map(_.runMs).sum / (b.seconds * 1000.0 * 4)), "ratio", n)
    L("index.shuffle_write_mb") = Metric(med(b => stagesIn(b, None).map(_.shuffleWrite).sum / 1048576.0), "MB", n)
    L("index.spill_mb") = Metric(med(b => stagesIn(b, None).map(_.spill).sum / 1048576.0), "MB", n)
    L("index.fetch_wait_s") = Metric(med(b => stagesIn(b, None).map(_.fetchWaitMs).sum / 1000.0), "s", n)
    L("index.jobs") = Metric(med(b => tracer.jobsOf(b.span).size.toDouble), "count", n)
    L("index.stages") = Metric(med(b => stagesIn(b, None).size.toDouble), "count", n)
    L("index.tasks") = Metric(med(b => stagesIn(b, None).map(_.tasks).sum.toDouble), "count", n)
    val last = builds.last
    Seq("docs", "segments", "lexicon", "norms").foreach { d =>
      L(s"index.out_mb.$d") = Metric(dirBytes(s"${last.dir}/$d") / 1048576.0, "MB")
    }
    val row = ctx.spark.read.parquet(s"${last.dir}/metrics")
      .selectExpr("sum(postings)", "sum(terms)").collect()(0)
    L("index.postings") = Metric(row.getLong(0).toDouble, "count")
    L("index.terms") = Metric(row.getLong(1).toDouble, "count")
    val srcBytes = ctx.spark.read.parquet(s"${last.dir}/docs").selectExpr("sum(octet_length(content))").collect()(0).getLong(0)
    L("index.bytes_per_src_byte") = Metric(dirBytes(last.dir).toDouble / srcBytes, "ratio")
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) return Runtime.getRuntime.totalMemory() / 1048576.0
    val src = scala.io.Source.fromFile(f)
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Collect set-up garbage before a timed window, so that every window
    * starts from the same heap state.
    */
  def settle(): Unit = System.gc()

  /** Total GC time of this JVM so far, in seconds. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
  }

  /** Per-layer names every workload reports; a workload that does no work in
    * a layer reports 0 for it.
    */
  val LayerNames: Seq[(String, String)] = Seq(
    "index.docs_s" -> "s", "index.lexicon_s" -> "s", "index.hot_terms_s" -> "s", "index.norms_s" -> "s",
    "index.segments_s" -> "s", "index.manifest_s" -> "s",
    "index.segments_map_run_s" -> "s", "index.segments_reduce_run_s" -> "s",
    "index.doc_rows_read_per_doc" -> "rows/doc", "index.cpu_s" -> "s", "index.slot_util" -> "ratio",
    "index.shuffle_write_mb" -> "MB", "index.spill_mb" -> "MB", "index.fetch_wait_s" -> "s",
    "index.jobs" -> "count", "index.stages" -> "count", "index.tasks" -> "count",
    "index.out_mb.docs" -> "MB", "index.out_mb.segments" -> "MB", "index.out_mb.lexicon" -> "MB",
    "index.out_mb.norms" -> "MB", "index.postings" -> "count", "index.terms" -> "count",
    "index.bytes_per_src_byte" -> "ratio",
    "analysis.tokenize_docs_per_s" -> "1/s",
    "codec.decode_mb_per_s" -> "MB/s",
    "search.local_p50_ms.rare" -> "ms", "search.local_p50_ms.hot_rare" -> "ms", "search.local_p50_ms.multi" -> "ms",
    "search.query_tokens_ms" -> "ms", "search.term_stats_ms" -> "ms", "search.walk_ms_est" -> "ms",
    "search.cache_hit_ratio" -> "ratio", "search.cache_misses" -> "count", "search.fallbacks" -> "count",
    "search.cache_mb" -> "MB", "search.warm_s" -> "s", "spark.jobs_in_serve_window" -> "count",
    "spark.jobs_per_query" -> "count", "spark.stages_per_query" -> "count", "spark.tasks_per_query" -> "count",
    "spark.job_ms_per_query" -> "ms", "spark.driver_gap_ms_per_query" -> "ms",
    "spark.stage_overhead_ms_per_query" -> "ms", "spark.task_run_ms_per_query" -> "ms",
    "spark.segment_rows_per_query" -> "count", "spark.shuffle_read_kb_per_query" -> "KB",
    "spark.batch_jobs" -> "count", "spark.batch_task_run_s" -> "s", "spark.batch_shuffle_mb" -> "MB",
    "ops.gopher_s" -> "s", "ops.decontaminate_s" -> "s", "ops.dedup_s" -> "s", "ops.split_s" -> "s",
    "ops.rows_out.gopher" -> "count", "ops.rows_out.decontaminate" -> "count",
    "ops.rows_out.dedup" -> "count", "ops.rows_out.split" -> "count",
    "ops.shuffle_write_mb" -> "MB", "ops.spill_mb" -> "MB",
    "jvm.gc_s" -> "s", "bench.op_tail_ms" -> "ms", "bench.gen_late_ms" -> "ms", "bench.trace_overhead_frac" -> "ratio",
    "bench.warmup_s" -> "s")

  /** Put every per-layer name in the report, in the order above. */
  def completeLayers(r: Report): Unit = {
    val got = r.layers.clone()
    r.layers.clear()
    LayerNames.foreach { case (k, unit) => r.layers(k) = got.getOrElse(k, Metric(0.0, unit, 0)) }
  }
}
