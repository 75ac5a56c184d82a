package perfbench

import graft.codec.PostingCodec
import graft.search.{ScoredDoc, Searcher}

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** `serve_local`: driver-local BM25 top-k (`LocalServing`) over a warmed
  * serving reader. The pool's postings fit the local cache, so the WAND
  * kernel and driver-side planning do all the work and Spark runs no jobs.
  *
  * Phase 1 is an open loop at a fixed rate on at most four worker threads,
  * each request timed from when it was due. Phase 2 is a closed loop of four
  * clients. The two alternate in [[Blocks]] blocks over the timed window.
  */
object ServeLocalWorkload {

  /** Open-loop rate: about a quarter of the four-client closed-loop rate
    * (2,100-2,500/s on a 4-core host at the commit that introduced this
    * benchmark). At half that rate, queueing behind `hot_rare` queries moved
    * the open-loop percentiles by 50-100% between runs. Fixed, so that a
    * faster or slower program sees the same offered load.
    */
  val OpenRate = 600.0

  val Clients = 4

  /** The open-loop tail is taken per third of the phase; see [[Stats.windowedTail]]. */
  val TailWindows = 3

  /** Requests sent by [[Clients]] threads after set-up and before the timed
    * phases. Set-up sends each query only a few times; the JIT compiles the
    * kernel and planning over the next few thousand, and while it does, its
    * threads compete with the queries for the cores.
    */
  val WarmupRequests = 6000

  /** Blocks of the timed window, each two thirds open loop and then one
    * third closed loop. Both phases then sample the whole window: on a
    * shared 4-core host the program's speed drifts by about 10% over a few
    * seconds. The closed loop's throughput is the median over the blocks.
    */
  val Blocks = 5

  /** One request: pool index, latency, result (null when it threw). */
  final case class Req(q: Int, ms: Double, res: Seq[ScoredDoc])

  final case class Phase(open: Seq[Req], closed: Seq[Req], blockQps: Seq[Double], lateMs: Seq[Double],
      gcS: Double, fromMs: Double, toMs: Double, hits: Long, misses: Long, fallbacks: Long)

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val s = Serving.setup(ctx, (_, local, pool) => pool.foreach(q => local.bm25TopK(q.text, Common.TopK)))
    val warmS = warmUp(s)
    r.info(f"warm-up: $WarmupRequests requests in $warmS%.2f s")
    val plain = measure(ctx, s, traced = false)
    val traced = if (ctx.trace) Some(measure(ctx, s, traced = true)) else None
    r.info(s"class shares of measured requests: ${Serving.classShares(s.pool, (plain.open ++ plain.closed).map(_.q))}")

    // every distinct query against the distributed exhaustive (no WAND)
    // top-k, all of them in one batch job
    val distinct = (plain.open ++ plain.closed ++ traced.toSeq.flatMap(p => p.open ++ p.closed)).map(_.q).distinct
    val ref = Serving.batchTopK(s.reader, distinct.map(q => (q.toLong, s.pool(q).text)), useWand = false)
      .map { case (q, res) => q.toInt -> res }.withDefaultValue(Seq.empty)
    var bad = 0
    (plain +: traced.toSeq).foreach { p =>
      (p.open ++ p.closed).foreach { q => val ok = q.res == ref(q.q); if (!ok) bad += 1; r.op(ok) }
    }
    r.check(s"local top-k equals exhaustive distributed top-k over ${distinct.size} distinct queries", bad == 0,
      s"$bad mismatched requests")

    val openMs = plain.open.map(_.ms)
    val p50Ms = openP50Ms(plain.open)
    r.info(s"open-loop median ms by query: ${perQueryMedians(s.pool, plain.open)}")
    r.info(f"open-loop generator lateness p50 ${Stats.median(plain.lateMs)}%.4f p99 " +
      f"${Stats.percentile(plain.lateMs, 99)}%.4f ms")
    val (tailLabel, tailMs) = Stats.windowedTail(openMs, TailWindows)
    val qps = Stats.median(plain.blockQps)
    r.info(s"closed-loop blocks ${plain.blockQps.map(x => f"$x%.0f").mkString(" ")} 1/s")
    val setupS = Stats.median(s.setupS)
    r.endToEnd("setup_s") = Metric(setupS, "s", s.setupS.size)
    r.endToEnd("ops_per_s") = Metric(qps, "1/s", plain.closed.size)
    r.endToEnd("op_p50_ms") = Metric(p50Ms, "ms", openMs.size)
    r.layers("bench.op_tail_ms") = Metric(tailMs, "ms", openMs.size, tailLabel)
    r.named += "setup_s" -> Metric(setupS, "s", s.setupS.size)
    r.named += "serve_p50_ms" -> Metric(p50Ms, "ms", openMs.size,
      s"open loop at $OpenRate/s; geometric mean of ${s.pool.size} per-query medians")
    r.named += "serve_p99_ms" -> Metric(tailMs, "ms", openMs.size, tailLabel)
    r.named += "serve_qps" -> Metric(qps, "1/s", plain.closed.size, s"$Clients clients, closed loop")

    traced.foreach { t =>
      val L = r.layers
      val tr = ctx.tracer
      Common.indexLayers(ctx, tr, Seq(s.build))
      Gen.Classes.foreach { c =>
        val ms = Serving.spanMs(tr.spansNamed(s"search.local.$c"))
        L(s"search.local_p50_ms.$c") = Metric(if (ms.isEmpty) 0.0 else Stats.median(ms), "ms", ms.size)
      }
      val texts = s.pool.map(_.text)
      val qtMs = Stats.median((1 to 5).flatMap(_ => texts.map(q => Common.time(Searcher.queryTokens(s.reader, q))._2 * 1000)))
      val terms = texts.map(q => Searcher.queryTokens(s.reader, q).map(_.term).distinct)
      val tsMs = Stats.median((1 to 5).flatMap(_ => terms.map(ts => Common.time(s.reader.termStats(ts))._2 * 1000)))
      val localMs = Serving.spanMs(Gen.Classes.flatMap(c => tr.spansNamed(s"search.local.$c")))
      L("search.query_tokens_ms") = Metric(qtMs, "ms", texts.size * 5)
      L("search.term_stats_ms") = Metric(tsMs, "ms", texts.size * 5)
      L("search.walk_ms_est") = Metric(Stats.median(localMs) - qtMs - tsMs, "ms", localMs.size)
      L("search.cache_hit_ratio") = Metric(t.hits.toDouble / math.max(1L, t.hits + t.misses), "ratio")
      L("search.cache_misses") = Metric(t.misses.toDouble, "count")
      L("search.fallbacks") = Metric(t.fallbacks.toDouble, "count")
      L("search.cache_mb") = Metric(s.local.cachedBytesNow / 1048576.0, "MB")
      L("search.warm_s") = Metric(Stats.median(s.warmS), "s", s.warmS.size)
      L("spark.jobs_in_serve_window") = Metric(tr.jobsStartedIn(t.fromMs.toLong, t.toMs.toLong + 1).toDouble, "count")
      L("codec.decode_mb_per_s") = Metric(decodeMbPerS(s, terms.flatten.distinct), "MB/s", 5)
      L("jvm.gc_s") = Metric(t.gcS, "s")
      L("bench.warmup_s") = Metric(warmS, "s")
      L("bench.gen_late_ms") = Metric(Stats.percentile(plain.lateMs, 99), "ms", plain.lateMs.size)
      L("bench.trace_overhead_frac") = Metric(openP50Ms(t.open) / p50Ms - 1, "ratio")
      r.info(f"jobs started in the traced serve window: ${L("spark.jobs_in_serve_window").value}%.0f")
      SearchDistWorkload.traceSpark(ctx, s)
    }
  }

  /** The open-loop median: each pool query's median latency, combined by
    * geometric mean so that every query weighs the same in relative terms.
    * The median of all requests would fall between two queries' latencies,
    * as the stream sends every query equally often.
    */
  def openP50Ms(open: Seq[Req]): Double = Stats.keyedMedianGeomean(open.map(q => q.q -> q.ms))

  private def perQueryMedians(pool: IndexedSeq[Gen.Query], open: Seq[Req]): String =
    open.groupBy(_.q).toSeq.sortBy(_._1).map { case (q, rs) =>
      f"${pool(q).cls}:${Stats.median(rs.map(_.ms))}%.3f"
    }.mkString(" ")

  /** Seconds to send [[WarmupRequests]] requests of the stream, closed loop. */
  private def warmUp(s: Serving.Setup): Double = {
    val next = new AtomicInteger(0)
    Common.time {
      val threads = (0 until Clients).map { _ =>
        new Thread(() => {
          var i = next.getAndIncrement()
          while (i < WarmupRequests) {
            s.local.bm25TopK(s.pool(s.stream(i % s.stream.length)).text, Common.TopK)
            i = next.getAndIncrement()
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }._2
  }

  private def measure(ctx: Ctx, s: Serving.Setup, traced: Boolean): Phase = {
    Common.settle()
    val tracer = ctx.tracerFor(traced)
    tracer.attach()
    val local = s.local
    val (h0, m0, f0) = (local.hits, local.misses, local.fallbacks)
    val gc0 = Common.gcSeconds()
    val fromMs = Common.nowMs
    def serve(q: Int): Seq[ScoredDoc] = {
      val query = s.pool(q)
      try tracer.span("search", s"search.local.${query.cls}")(local.bm25TopK(query.text, Common.TopK))
      catch { case e: Exception => ctx.report.info(s"request failed: $e"); null }
    }

    val blockNs = (ctx.seconds / Blocks * 1e9).toLong
    val perBlock = (OpenRate * blockNs / 1e9 * 2 / 3).toInt
    val next = new AtomicInteger(0)
    val exec = Executors.newFixedThreadPool(Clients)
    val open = new Array[Req](perBlock * Blocks)
    val late = new Array[Double](perBlock * Blocks)
    val closed = mutable.ArrayBuffer[Req]()
    val blockQps = mutable.ArrayBuffer[Double]()
    (0 until Blocks).foreach { b =>
      // open loop for two thirds of the block
      val done = new CountDownLatch(perBlock)
      val start = System.nanoTime() + 10000000L
      var i = 0
      while (i < perBlock) {
        val due = start + (i * 1e9 / OpenRate).toLong
        var now = System.nanoTime()
        // spin, not park: a parked generator overslept by up to several ms
        // on a shared host, and each request counts its oversleep as latency
        while (now < due) { Thread.onSpinWait(); now = System.nanoTime() }
        val idx = b * perBlock + i
        late(idx) = (now - due) / 1e6
        val q = s.stream(next.getAndIncrement() % s.stream.length)
        exec.execute { () =>
          try {
            val res = serve(q)
            open(idx) = Req(q, (System.nanoTime() - due) / 1e6, res)
          } finally done.countDown()
        }
        i += 1
      }
      done.await()
      // closed loop for the last third, continuing the stream
      val t0 = System.nanoTime()
      val deadline = t0 + blockNs / 3
      val reqs = closedLoop(s, next, deadline, serve)
      closed ++= reqs
      blockQps += reqs.size / ((System.nanoTime() - t0) / 1e9)
    }
    exec.shutdown()
    exec.awaitTermination(10, TimeUnit.MINUTES)
    val toMs = Common.nowMs
    tracer.detach()
    Phase(open.toSeq, closed.toSeq, blockQps.toSeq, late.toSeq, Common.gcSeconds() - gc0, fromMs, toMs,
      local.hits - h0, local.misses - m0, local.fallbacks - f0)
  }

  /** [[Clients]] threads, each sending the stream's next request as soon as
    * its last one returned, until `deadline`.
    */
  private def closedLoop(s: Serving.Setup, next: AtomicInteger, deadline: Long,
      serve: Int => Seq[ScoredDoc]): Seq[Req] = {
    val perClient = Array.fill(Clients)(mutable.ArrayBuffer[Req]())
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        while (System.nanoTime() < deadline) {
          val q = s.stream(next.getAndIncrement() % s.stream.length)
          val a = System.nanoTime()
          val res = serve(q)
          perClient(c) += Req(q, (System.nanoTime() - a) / 1e6, res)
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    perClient.flatten.toSeq
  }

  /** Decode throughput of the pool's postings (encoded MB per second),
    * median of five passes of `PostingCodec.decode` on one thread.
    */
  private def decodeMbPerS(s: Serving.Setup, terms: Seq[String]): Double = {
    val blocks = s.reader.segmentsFor(terms).collect().toSeq.flatMap(_.blocks.map(_.toBlock))
    val mb = blocks.map(_.data.length.toLong).sum / 1048576.0
    Stats.median((1 to 5).map { _ =>
      val (_, sec) = Common.time(PostingCodec.decode(blocks).foreach(_ => ()))
      mb / sec
    })
  }
}
