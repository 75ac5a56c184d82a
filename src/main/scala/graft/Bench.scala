package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.core.Corpus
import graft.index.{IndexBuilder, IndexConfig, IndexManifest, IndexReader}
import graft.search.Engine
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap

/** The benchmark main. Every mode prints exactly one JSON line on stdout
  * (progress goes to stderr):
  *
  *  - no arguments: the per-round benchmark — north-star index-build
  *    throughput (files/sec) over the synthesized source-code corpus, top-k
  *    BM25 latency and throughput (distributed, batched, driver-local) over
  *    the built index, N-vs-4N scaling evidence, the composed cleaning
  *    pipeline, plus headline relational/pipeline queries from SparkEntry
  *    on the testdata tables. Sized by the `SPARK_GRAFT_*` environment.
  *  - `scaling [nFiles] [reps] [N,4N]`: the same leg (fresh build + BM25
  *    workload) at two parallelism levels, alternating inside one JVM.
  *  - `submit [nFiles] [reps]`: sets NO master — parallelism comes from
  *    `spark-submit --master local[N]` (or a real cluster manager), so one
  *    submission is one cluster size; `scripts/run_spark_submit.sh` submits
  *    at N and 4N and reports the efficiency.
  *
  * Methodology (BASELINE.md §3): the sandbox host throttles CPU in
  * multi-second bursts (~30x throughput swings), so a single rep measures
  * host weather, not the job. Legs therefore ALTERNATE between parallelism
  * levels inside one JVM, the BEST per level is reported, and every timed
  * rep is recorded. Partitioning is FIXED (64) across levels so all levels
  * run the identical job graph — the scaling efficiency is then purely
  * about executor slots, the sandbox stand-in for N vs 4N executors.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val report = args.toList match {
      case Nil => perRound()
      case "scaling" :: rest =>
        val nFiles = rest.headOption.fold(160000L)(_.toLong)
        val reps = rest.lift(1).fold(3)(_.toInt)
        // N and 4N cores; default 2→8 (within this host's memory-bandwidth
        // envelope — see BASELINE.md §3 for the 8→32 saturation evidence)
        val levels = rest.lift(2).fold(Seq(2, 8))(_.split(",").toSeq.map(_.trim.toInt))
        val dir = benchDir("graft-scaling-build")
        scaling(nFiles, reps, levels) { cpus =>
          val spark = session(Some(cpus))
          try leg(spark, nFiles, dir, serve = true) finally spark.stop()
        }
      case "submit" :: rest =>
        val spark = session(None)
        try submit(spark, rest.headOption.fold(160000L)(_.toLong),
          rest.lift(1).fold(3)(_.toInt), benchDir("graft-submit-build"))
        finally spark.stop()
      case other => throw new IllegalArgumentException(
        s"usage: graft.Bench [scaling [nFiles] [reps] [N,4N] | submit [nFiles] [reps]], got $other")
    }
    println(json(report))
  }

  // ---- shared pieces ------------------------------------------------------

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Nested `ListMap`s (objects, in insertion order), `Seq`s, numbers and
    * strings as one compact JSON line.
    */
  def json(v: Any): String = mapper.writeValueAsString(v)

  /** `v` rounded to `digits` decimals, written as a JSON number with
    * exactly that many (`%.Nf`); a non-finite value is written as null.
    */
  def fixed(v: Double, digits: Int): java.math.BigDecimal =
    if (v.isNaN || v.isInfinite) null
    else BigDecimal(v).setScale(digits, BigDecimal.RoundingMode.HALF_UP).bigDecimal

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(): Unit
  }

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** `xs` (sorted ascending) at quantile `p`. */
  private def pct(xs: Seq[Double], p: Double): Double = xs(math.min(xs.size - 1, (p * xs.size).toInt))

  /** Index and shuffle scratch on tmpfs when the host has one. */
  private def benchDir(name: String): String =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR",
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else sys.props("java.io.tmpdir")) +
      s"/$name"

  /** `cpus` = Some(n): a `local[n]` session with shuffle/spill on tmpfs —
    * on a real cluster each executor has local NVMe; on one VM all slots
    * would otherwise contend on one virtual disk whose throughput doesn't
    * scale with cores, a sandbox artifact the N-vs-4N comparison must not
    * measure. `None`: no master, for `spark-submit`.
    */
  private def session(cpus: Option[Int]): SparkSession = {
    val b = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    cpus.foreach { n =>
      b.master(s"local[$n]")
        .config("spark.local.dir",
          sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark-local"))
        .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The first `nFiles` files of the seed-42 synthesized corpus; docId =
    * the generator's row index, already dense and deterministic.
    */
  private def corpus(spark: SparkSession, nFiles: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, nFiles, 1, 64).map { i =>
      val f = Corpus.file(42L, i)
      (i, f.repo, f.path, f.commit, f.lang, f.content)
    }.toDF("docId", "repo", "path", "commit", "lang", "content")
  }

  private def indexConfig(nFiles: Long): IndexConfig =
    IndexConfig(tokenizerName = "TokenBigram", withPositions = true,
      nShards = 64, buildPartitions = 64,
      hotTermDf = math.max(1000L, nFiles / 8), nSalts = 8)

  private val queryTerms: Seq[String] =
    Seq("if", "return", "while") ++ // hot keywords (salted)
      Seq(5, 40, 300).map(Corpus.ident) ++ // mid-frequency idents
      Seq(2000, 3000, 4000, 4500).map(Corpus.ident) // rare idents

  /** `n` deterministic 2-3 term queries mixing hot, mid and rare terms. */
  private def queryBatch(n: Int): Seq[(Long, String)] = (0 until n).map { i =>
    val a = queryTerms(i % queryTerms.size)
    val b = queryTerms((i * 7 + 3) % queryTerms.size)
    val c = Corpus.ident(800 + (i * 13) % 3000)
    (i.toLong, if (a == b) s"$a $c" else s"$a $b $c")
  }

  /** One leg's figures; `batchQps` and `p50Ms` are NaN when it did not serve. */
  final case class Leg(buildSec: Double, filesPerSec: Double, manifest: IndexManifest,
      batchQps: Double = Double.NaN, p50Ms: Double = Double.NaN)

  /** One leg of the north-star job: a fresh build of the corpus into `dir`.
    * With `serve`, then the BM25 workload on that index in serving mode —
    * one warm and one timed run of a 256-query batch (enough work per job
    * that 32 slots have something to chew on; 64-query batches finish in
    * ~1 s and measure overhead), and the middle of six sorted single-query
    * latencies — after which the serving cache is dropped, so the next leg
    * builds under the same memory.
    */
  def leg(spark: SparkSession, nFiles: Long, dir: String, serve: Boolean): Leg = {
    deleteRecursively(new java.io.File(dir))
    val (manifest, sec) =
      time(IndexBuilder.build(spark, corpus(spark, nFiles), dir, indexConfig(nFiles)))
    if (!serve) Leg(sec, nFiles / sec, manifest)
    else {
      val reader = new IndexReader(spark, dir).cacheForServing()
      val batch = queryBatch(256)
      Engine.bm25TopKBatch(reader, batch, 10).count() // warm
      val qSec = time(Engine.bm25TopKBatch(reader, batch, 10).count())._2
      val lats = queryTerms.take(6)
        .map(q => time(Engine.bm25TopK(reader, q, 10).collect())._2 * 1000.0).sorted
      reader.segments.unpersist(blocking = true)
      Leg(sec, nFiles / sec, manifest, batch.size / qSec, lats(lats.size / 2))
    }
  }

  // ---- scaling: N vs 4N legs in one JVM ---------------------------------

  /** `reps` rounds of one leg per level (`legAt(cores)`), alternating; the
    * best build/batch throughput and single-query p50 per level, and the
    * N→4N efficiency of each throughput.
    */
  def scaling(nFiles: Long, reps: Int, levels: Seq[Int])(legAt: Int => Leg): ListMap[String, Any] = {
    require(levels.size == 2 && levels(1) == 4 * levels(0), s"need N,4N levels, got $levels")
    val legs = for (rep <- 1 to reps; cpus <- levels) yield {
      val l = legAt(cpus)
      System.err.println(f"rep $rep local[$cpus]: build ${l.filesPerSec}%.1f files/s, " +
        f"batch ${l.batchQps}%.1f qps, p50 ${l.p50Ms}%.0f ms")
      cpus -> l
    }
    def best(f: Leg => Double, pick: (Double, Double) => Double): Map[Int, Double] =
      legs.groupMapReduce(_._1)(cl => f(cl._2))(pick)
    val (build, qps) = (best(_.filesPerSec, math.max), best(_.batchQps, math.max))
    def byLevel(m: Map[Int, Double]): ListMap[String, Any] =
      ListMap(levels.map(c => s"local$c" -> fixed(m(c), 1)): _*)
    val (n1, n4) = (levels(0), levels(1))
    ListMap("metric" -> "scaling", "n_files" -> nFiles, "reps" -> reps, "levels" -> levels,
      "build_files_per_sec" -> byLevel(build), "bm25_batch_qps" -> byLevel(qps),
      "bm25_p50_ms" -> byLevel(best(_.p50Ms, math.min)),
      "scaling_efficiency" -> ListMap(
        "build" -> fixed(build(n4) / build(n1) / 4.0, 3),
        "bm25_batch" -> fixed(qps(n4) / qps(n1) / 4.0, 3)))
  }

  // ---- submit: one cluster size per spark-submit -------------------------

  /** `reps` full legs in `spark` (whatever master it was given); the best
    * leg's figures — the un-throttled capability at this cluster size.
    */
  def submit(spark: SparkSession, nFiles: Long, reps: Int, dir: String): ListMap[String, Any] = {
    val cores = spark.sparkContext.defaultParallelism
    val legs = (1 to reps).map { rep =>
      val l = leg(spark, nFiles, dir, serve = true)
      System.err.println(f"rep $rep cores=$cores: build ${l.filesPerSec}%.1f files/s, " +
        f"batch ${l.batchQps}%.1f qps, p50 ${l.p50Ms}%.0f ms")
      l
    }
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(bytes).sum else f.length()
    val indexBytes = bytes(new java.io.File(dir))
    deleteRecursively(new java.io.File(dir))
    ListMap("metric" -> "spark_submit_leg", "cores" -> cores, "n_files" -> nFiles, "reps" -> reps,
      "build_files_per_sec" -> fixed(legs.map(_.filesPerSec).max, 1),
      "bm25_batch_qps" -> fixed(legs.map(_.batchQps).max, 1),
      "bm25_p50_ms" -> fixed(legs.map(_.p50Ms).min, 1),
      "total_tokens" -> legs.last.manifest.totalTokens, "index_bytes" -> indexBytes)
  }

  // ---- per-round benchmark ----------------------------------------------

  /** The per-round run's three parallelism levels for `cpus` slots: all of
    * them, a quarter and a sixteenth, each at least 1. Below 8 slots the two
    * lower levels coincide (4 -> 4, 1, 1).
    */
  def levels(cpus: Int): (Int, Int, Int) = (cpus, math.max(1, cpus / 4), math.max(1, cpus / 16))

  /** Scaling efficiency of `fastCpus` over `slowCpus` slots from their
    * throughputs; NaN (written as null) when the two levels are equal, where
    * the ratio would read 1.0 whatever the code does.
    */
  def efficiency(fast: Double, slow: Double, fastCpus: Int, slowCpus: Int): Double =
    if (fastCpus == slowCpus) Double.NaN else fast / slow / (fastCpus.toDouble / slowCpus)

  private def perRound(): ListMap[String, Any] = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (cpus, cpusN, cpusNN) = levels(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // One corpus size for EVERY leg: legs must run the identical job, and a
    // leg must be long enough (~a minute at the low level) to average over
    // the host's multi-second throttle bursts AND to amortize the fixed
    // per-build overhead (~1-2 s of stage scheduling), which otherwise
    // biases the FAST leg's throughput down — the same code measured 0.58
    // efficiency at 40k files vs 0.79-0.89 at 128k-256k; 320k matches the
    // scaling-mode legs behind BASELINE.md §3's 0.842.
    val buildN: Long = sys.env.get("SPARK_GRAFT_BUILD_N").map(_.toLong).getOrElse(320000L)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BUILD_REPS", "3").toInt

    // ---- north-star build: alternating best-of legs ----------------------
    // Three levels: 32/8/2 slots by default. BASELINE.md §3: the host's
    // memory bandwidth only scales 2.03x from 8->32 processes (hardware
    // ceiling 0.51), so the N->4N evidence the north rule asks for is the
    // within-envelope low pair (2->8); the capped high pair (8->32) is
    // reported alongside with that ceiling explicit. Every rep's throughput
    // is recorded: a throttled leg shows up as visible evidence instead of
    // silently deflating the headline. Coinciding levels run once per rep.
    val buildDir = benchDir("graft-bench-build")
    // the LAST leg's on-disk index (local[cpusNN]) is the one that survives
    // and serves the query phase — every leg builds identical content, so
    // which leg wrote it doesn't affect the queries
    val buildLegs = Seq.fill(reps)(Seq(cpus, cpusN, cpusNN).distinct).flatten.map { legCpus =>
      val spark = session(Some(legCpus))
      val l = try leg(spark, buildN, buildDir, serve = false) finally spark.stop()
      System.err.println(f"[bench] build leg local[$legCpus]: ${l.filesPerSec}%.1f files/s")
      legCpus -> l
    }
    val legFps: Map[Int, Seq[Double]] = buildLegs.groupMap(_._1)(_._2.filesPerSec)
    val bestFps: Map[Int, Double] = legFps.map { case (c, fs) => c -> fs.max }
    val fullLeg = buildLegs.filter(_._1 == cpus).last._2
    val effLow = efficiency(bestFps(cpusN), bestFps(cpusNN), cpusN, cpusNN)
    val effHigh = efficiency(bestFps(cpus), bestFps(cpusN), cpus, cpusN)

    // ---- query-side N-vs-4N scaling: one batched-retrieval job ----------
    // The same 1024-query top-k job at local[cpusNN] and local[cpusN]
    // (within the host's bandwidth envelope, like the build pair). 1024
    // queries make the job long enough (~10 s at the low level) that the
    // fixed job-submission overhead stops deflating the fast leg — the r3
    // 256-query figure understated the workload's scalability for exactly
    // that reason (BASELINE.md §3). One leg per level, best-of-2 in-session
    // reps (the build phase above already brackets these in time, bounding
    // throttle-burst bias).
    val qBatch = queryBatch(1024)
    val qRepQps: Map[Int, Seq[Double]] = Seq(cpusN, cpusNN).distinct.map { legCpus =>
      val s = session(Some(legCpus))
      val rd = new IndexReader(s, buildDir).cacheForServing()
      Engine.bm25TopKBatch(rd, qBatch, 10).count() // warm (footers, JIT)
      val qps = (1 to 2).map(_ => qBatch.size / time(Engine.bm25TopKBatch(rd, qBatch, 10).count())._2)
      System.err.println(f"[bench] query batch leg local[$legCpus]: ${qps.max}%.1f qps")
      s.stop()
      legCpus -> qps
    }.groupMapReduce(_._1)(_._2)(_ ++ _)
    val bestQps = qRepQps.map { case (c, qs) => c -> qs.max }
    val qEff = efficiency(bestQps(cpusN), bestQps(cpusNN), cpusN, cpusNN)

    // ---- query + headline phase at full parallelism ----------------------
    val spark = session(Some(cpus))
    val reader = new IndexReader(spark, buildDir).cacheForServing()
    val bmQueries: Seq[String] =
      queryTerms ++
        Seq("if " + Corpus.ident(3000), "return " + Corpus.ident(40),
          Corpus.ident(5) + " " + Corpus.ident(2000))
    // three timed reps (ms) of `run` per query after one warm-up pass (JIT,
    // parquet footers, broadcast); the best rep is the un-throttled capability
    def perQueryMs(run: String => Any): Seq[(String, Seq[Double])] = {
      bmQueries.foreach(run)
      bmQueries.map(q => q -> (1 to 3).map(_ => time(run(q))._2 * 1000.0))
    }
    val bmReps = perQueryMs(q => Engine.bm25TopK(reader, q, 10).collect())
    val lats = bmReps.map(_._2.min).sorted

    // ---- batched-query throughput: one job answers a 256-query workload --
    val batch = queryBatch(256)
    Engine.bm25TopKBatch(reader, batch, 10).count() // warm
    val batchReps = (1 to 3).map(_ => time(Engine.bm25TopKBatch(reader, batch, 10).count())._2)
    val batchSec = batchReps.min

    // ---- driver-local serving (LocalServing): same WAND kernel over an
    // LRU postings cache, no job submission — the reference's warmed
    // select-path analogue. The warm pass pays one term-pruned fetch per
    // novel term; steady state is the postings walk alone.
    val local = new graft.search.LocalServing(reader)
    val localReps = perQueryMs(q => local.bm25TopK(q, 10))
    val localLats = localReps.map(_._2.min).sorted
    val localN = 2000
    val (_, localSec) = time {
      var i = 0
      while (i < localN) { local.bm25TopK(bmQueries(i % bmQueries.size), 10); i += 1 }
    }
    // concurrent serving: queries are independent postings walks (the LRU
    // lock covers only the cache lookup), so a serving node scales with
    // threads — measure 8 workers over the same warmed cache
    val mtThreads = 8
    val (_, localMtSec) = time {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(mtThreads)
      val done = new java.util.concurrent.CountDownLatch(localN)
      var i = 0
      while (i < localN) {
        val q = bmQueries(i % bmQueries.size)
        pool.execute { () =>
          try local.bm25TopK(q, 10): Unit
          finally done.countDown() // a throwing task must not hang await()
        }
        i += 1
      }
      done.await()
      pool.shutdown()
    }

    // ---- query-result cache: repeated identical selects skip job
    // submission entirely (LocalRelation rebuild — a map lookup, not a
    // job). Reads go through collect(): LocalTableScan executeCollect is
    // job-free, which is how a serving layer consumes the cached page
    // (count() would wrap the local relation in an aggregate and pay a
    // full job submission — exactly what the cache exists to avoid).
    val selP = graft.command.SelectParams(query = Some("if " + Corpus.ident(40)),
      sortby = Seq("-_score", "_id"), limit = 10,
      outputColumns = Seq("_id", "_score"))
    graft.command.QueryCache.clear()
    graft.command.Select.runCached(reader, selP).hits.collect(): Unit // prime (miss)
    val cacheN = 200
    val (_, cacheSec) = time {
      var i = 0
      while (i < cacheN) {
        graft.command.Select.runCached(reader, selP).hits.collect(): Unit
        i += 1
      }
    }

    // ---- headline SparkEntry queries on the testdata tables --------------
    val headline = Seq("q1_drilldown_calc", "q4_ref_join", "q7_window_subrec",
      "ft_bm25_topk", "dd_ngram_jaccard", "dd_lsh_pairs", "sim_topk",
      "ta_quality", "log_count", "log_range", "lf_search",
      "ta_gopher_keep", "dd_contamination", "dd_chunk_dup")
    // warm once (documents-index open/build, parquet footers, JIT), then
    // BEST-OF-3 with every rep recorded: the best is the un-throttled
    // operator cost, and the rep spread makes a throttle burst visible in
    // the artifact instead of inflating the headline
    val qReps: Seq[(String, Seq[Double])] = headline.map { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).collect()
      name -> (1 to 3).map(_ => time(fn(spark, sfDir).collect())._2)
    }
    val qTimes = qReps.map { case (n, rs) => n -> rs.min }

    // ---- composed cleaning pipeline over the synthetic corpus -----------
    // gopherKeep -> decontaminate -> dedupCorpus -> hashSplit in one run:
    // pins the COMPOSITION cost the per-operator gates can't see. Each
    // stage materializes (persist+count) so stage boundaries are real wall
    // clock, and the previous stage unpersists as soon as its consumer is
    // materialized. SPARK_GRAFT_CLEAN_N sizes the corpus (default = the
    // build corpus; the 10x leg is run with 3200000 and recorded in
    // BASELINE.md). Thresholds are permissive for code text (code repeats
    // tokens by nature; the default Gopher thresholds are prose-tuned).
    val cleanN: Long = sys.env.get("SPARK_GRAFT_CLEAN_N").map(_.toLong).getOrElse(buildN)
    import org.apache.spark.sql.functions.col
    import org.apache.spark.storage.StorageLevel
    def mat(df: DataFrame): (DataFrame, Long, Double) = {
      val pdf = df.persist(StorageLevel.MEMORY_AND_DISK)
      val (n, sec) = time(pdf.count())
      (pdf, n, sec)
    }
    val cleanDocs = corpus(spark, cleanN).select(col("docId").as("doc_id"), col("content").as("text"))
    val benchSide = cleanDocs.filter(col("doc_id") % 1000 === 0)
    val (gKept, gN, gSec) = mat(graft.ops.TextAnalysis.gopherKeep(cleanDocs,
      maxDupWordQ3 = 900, maxTop2Q3 = 600, maxDup5Q3 = 600))
    // k = 13 — the GPT-3 rule's n-gram size (Brown et al. 2020 §C); short
    // shingles over-fire on code, whose 5-gram idioms repeat corpus-wide
    val (dcKept, dcN, dcSec) = mat(graft.ops.Dedup.decontaminate(gKept, benchSide, k = 13))
    gKept.unpersist()
    val (ddKept, ddN, ddSec) = mat(graft.ops.Dedup.dedupCorpus(dcKept))
    dcKept.unpersist()
    val (spOut, spN, spSec) = mat(graft.ops.TextAnalysis.hashSplit(ddKept))
    ddKept.unpersist(); spOut.unpersist()
    System.err.println(f"[bench] cleaning pipeline ($cleanN files): gopher $gSec%.1fs/$gN, " +
      f"decontam $dcSec%.1fs/$dcN, dedup $ddSec%.1fs/$ddN, split $spSec%.1fs/$spN")
    spark.stop()

    // ---- the report ---------------------------------------------------------
    val lastBuildSec = fullLeg.buildSec
    val total = lastBuildSec + lats.sum / 1000.0 + qTimes.map(_._2).sum
    def arr(xs: Seq[Double], digits: Int): Seq[java.math.BigDecimal] = xs.map(fixed(_, digits))
    def repsBy(reps: Seq[(Any, Seq[Double])], digits: Int): ListMap[String, Any] =
      ListMap(reps.map { case (k, rs) => k.toString -> arr(rs, digits) }: _*)
    def stage(sec: Double, n: Long) = ListMap("sec" -> fixed(sec, 3), "rows" -> n)
    ListMap(
      "metric" -> "total", "value" -> fixed(total, 3), "unit" -> "sec",
      "queries" -> ListMap(
        (qTimes.map { case (k, v) => k -> fixed(v, 3) } :+ ("index_build" -> fixed(lastBuildSec, 3))): _*),
      "sf" -> sfDir, "cpus" -> cpus,
      "build" -> ListMap("files" -> buildN, "sec" -> fixed(lastBuildSec, 3),
        "files_per_sec" -> fixed(bestFps(cpus), 1),
        "total_tokens" -> fullLeg.manifest.totalTokens, "num_docs" -> fullLeg.manifest.numDocs),
      "build_legs" -> repsBy(Seq(cpus, cpusN, cpusNN).distinct.map(c => c -> legFps(c)), 1),
      "query_reps" -> repsBy(qReps, 3),
      "cleaning" -> ListMap("files" -> cleanN, "gopher" -> stage(gSec, gN),
        "decontaminate" -> stage(dcSec, dcN), "dedup" -> stage(ddSec, ddN),
        "split" -> stage(spSec, spN)),
      "scaling" -> ListMap("n_cpus" -> cpusNN, "n_files_per_sec" -> fixed(bestFps(cpusNN), 1),
        "xn_cpus" -> cpusN, "xn_files_per_sec" -> fixed(bestFps(cpusN), 1),
        "efficiency" -> fixed(effLow, 3)),
      "scaling_capped" -> ListMap("n_cpus" -> cpusN, "xn_cpus" -> cpus,
        "xn_files_per_sec" -> fixed(bestFps(cpus), 1), "efficiency" -> fixed(effHigh, 3),
        "bandwidth_ceiling" -> 0.51),
      "query_scaling" -> ListMap("n_cpus" -> cpusNN, "n_qps" -> fixed(bestQps(cpusNN), 1),
        "xn_cpus" -> cpusN, "xn_qps" -> fixed(bestQps(cpusN), 1), "n_queries" -> qBatch.size,
        "efficiency" -> fixed(qEff, 3),
        "reps" -> repsBy(Seq(cpusN, cpusNN).distinct.map(c => c -> qRepQps(c)), 1)),
      "bm25" -> ListMap("n_queries" -> bmQueries.size, "p50_ms" -> fixed(pct(lats, 0.5), 1),
        "p95_ms" -> fixed(pct(lats, 0.95), 1), "reps" -> repsBy(bmReps, 1)),
      "bm25_batch" -> ListMap("n" -> batch.size, "sec" -> fixed(batchSec, 3),
        "qps" -> fixed(batch.size / batchSec, 1), "reps" -> arr(batchReps, 3)),
      "bm25_local" -> ListMap("n_queries" -> bmQueries.size,
        "p50_ms" -> fixed(pct(localLats, 0.5), 2), "p95_ms" -> fixed(pct(localLats, 0.95), 2),
        "qps" -> fixed(localN / localSec, 1), s"qps_mt$mtThreads" -> fixed(localN / localMtSec, 1),
        "reps" -> repsBy(localReps, 3)),
      "select_cached" -> ListMap("n" -> cacheN, "sec" -> fixed(cacheSec, 3),
        "qps" -> fixed(cacheN / cacheSec, 1)))
  }
}
