package perfbench

import graft.index.IndexReader
import graft.search.{Bm25Shard, Engine, LocalServing, ScoredDoc}

/** Set-up shared by `serve_local` and `search_dist`: build the index of the
  * corpus once, then [[SetupReps]] times over open a reader in serving mode
  * and warm the path the workload measures. The last reader serves the
  * workload; `setup_s` is the median of the repetitions.
  */
object Serving {

  /** Distinct queries. Small enough that filling the local cache (one Spark
    * fetch per novel term) stays a few seconds of set-up, and that one
    * `search_dist` run covers most of them with single queries.
    */
  val PoolSize = 16

  /** Seed of the pool's terms. The same terms in every run: with only 16
    * queries, a per-seed pool moves the latency percentiles more than any
    * change to the program would.
    */
  val PoolSeed = 42L

  /** Set-up repetitions. The first two still run on a cold JIT and take up
    * to twice as long as the later ones; the median of five lands where they
    * have levelled off.
    */
  val SetupReps = 5

  /** Length of the seeded request stream over the pool. */
  val StreamLen: Int = 1 << 16

  final case class Setup(
      reader: IndexReader,
      local: LocalServing,
      pool: IndexedSeq[Gen.Query],
      stream: Array[Int],
      build: Common.Build,
      setupS: Seq[Double],
      warmS: Seq[Double])

  def setup(ctx: Ctx, warm: (IndexReader, LocalServing, IndexedSeq[Gen.Query]) => Unit): Setup = {
    val r = ctx.report
    // the pool's terms are fixed; the seed drives the corpus and the stream
    val pool = Gen.queryPool(PoolSeed, PoolSize)
    val stream = Gen.stream(ctx.seed, pool.size, StreamLen)
    r.info(f"query pool=${pool.size} digest=${Gen.poolDigest(pool)}%016x stream=$StreamLen " +
      f"digest=${Gen.streamDigest(stream)}%016x")
    ctx.tracer.attach()
    // the index is built straight from the generator: its docs stage is the stored corpus
    val b = Common.build(ctx, ctx.tracer, Common.corpusDf(ctx), ctx.fresh("idx"))
    val m = b.manifest
    r.info(f"index docs=${m.numDocs} tokens=${m.totalTokens} content digest=${m.contentShaXor}%016x")
    var last: Setup = null
    val reps = (1 to SetupReps).map { _ =>
      if (last != null) last.reader.segments.unpersist(blocking = true)
      val t0 = System.nanoTime()
      val reader = new IndexReader(ctx.spark, b.dir).cacheForServing()
      val local = new LocalServing(reader)
      val (_, warmS) = Common.time(warm(reader, local, pool))
      last = Setup(reader, local, pool, stream, b, Seq((System.nanoTime() - t0) / 1e9), Seq(warmS))
      last
    }
    ctx.tracer.detach()
    r.info(s"set-ups ${reps.flatMap(_.setupS).map(x => f"$x%.3f").mkString(" ")} s")
    r.info(f"index build ${b.seconds}%.3f s (cold JIT; the build workload measures warm builds)")
    Common.checkBuilds(ctx, Seq(b), Common.Files).foreach(ok => if (!ok) r.failures += "index build")
    last.copy(setupS = reps.flatMap(_.setupS), warmS = reps.flatMap(_.warmS))
  }

  /** The distributed top-k for `text`, in result order. */
  def distTopK(reader: IndexReader, text: String, useWand: Boolean = true): Seq[ScoredDoc] =
    Engine.bm25TopK(reader, text, Common.TopK, useWand = useWand).collect().toSeq.sorted(Bm25Shard.resultOrdering)

  /** `Engine.bm25TopKBatch` answers by query id, each in result order. */
  def batchTopK(reader: IndexReader, queries: Seq[(Long, String)], useWand: Boolean = true): Map[Long, Seq[ScoredDoc]] =
    Engine.bm25TopKBatch(reader, queries, Common.TopK, useWand = useWand).collect().toSeq
      .groupBy(_.getLong(0)).map { case (qid, rs) =>
        qid -> rs.map(x => ScoredDoc(x.getLong(1), x.getDouble(2))).sorted(Bm25Shard.resultOrdering)
      }

  /** Share of each query class among the given pool indices. */
  def classShares(pool: IndexedSeq[Gen.Query], reqs: Iterable[Int]): String = {
    val n = reqs.size.max(1).toDouble
    val counts = reqs.groupBy(pool(_).cls).map { case (c, v) => c -> v.size }
    Gen.Classes.map(c => f"$c=${counts.getOrElse(c, 0) / n}%.3f").mkString(" ")
  }

  /** Spans' durations in ms. */
  def spanMs(spans: Seq[Span]): Seq[Double] = spans.map(_.ns / 1e6)
}
