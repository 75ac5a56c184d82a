package perfbench

import graft.search.{ScoredDoc, Searcher}

import scala.collection.mutable

/** `search_dist`: distributed BM25 top-k over the same index and query
  * stream. Phase 1 is a closed loop of one client over `Engine.bm25TopK`
  * (each query already fans out to all four slots); phase 2 repeats one
  * fixed batch through `Engine.bm25TopKBatch`. Spark scheduling dominates
  * here. It is also the path `LocalServing` falls back to when postings
  * exceed its budget, so it covers the larger-than-cache regime.
  */
object SearchDistWorkload {

  val BatchSize = 256

  final case class Phase(single: Seq[(Int, Double, Seq[ScoredDoc])], batchS: Seq[Double],
      batches: Seq[Map[Long, Seq[ScoredDoc]]], gcS: Double)

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val s = Serving.setup(ctx, (reader, _, pool) => warm(reader, pool))
    val batch = batchOf(ctx, s)
    val plain = measure(ctx, s, batch, traced = false)
    val traced = if (ctx.trace) Some(measure(ctx, s, batch, traced = true)) else None
    r.info(s"class shares of measured single queries: ${Serving.classShares(s.pool, plain.single.map(_._1))}")
    check(ctx, batch, plain +: traced.toSeq)

    val ms = plain.single.map(_._2)
    val (tailLabel, tailMs) = Stats.tail(ms)
    val batchQps = BatchSize / Stats.median(plain.batchS)
    val setupS = Stats.median(s.setupS)
    r.endToEnd("setup_s") = Metric(setupS, "s", s.setupS.size)
    r.endToEnd("ops_per_s") = Metric(batchQps, "1/s", plain.batchS.size)
    r.endToEnd("op_p50_ms") = Metric(Stats.median(ms), "ms", ms.size)
    r.layers("bench.op_tail_ms") = Metric(tailMs, "ms", ms.size, tailLabel)
    r.named += "setup_s" -> Metric(setupS, "s", s.setupS.size)
    r.named += "dist_p50_ms" -> Metric(Stats.median(ms), "ms", ms.size)
    r.named += "dist_p95_ms" -> Metric(tailMs, "ms", ms.size, tailLabel)
    r.named += "batch_qps" -> Metric(batchQps, "1/s", plain.batchS.size, s"$BatchSize queries per batch")

    traced.foreach { t =>
      Common.indexLayers(ctx, ctx.tracer, Seq(s.build))
      layers(ctx, s, t)
      r.layers("jvm.gc_s") = Metric(t.gcS, "s")
      r.layers("bench.trace_overhead_frac") = Metric(Stats.median(t.single.map(_._2)) / Stats.median(ms) - 1, "ratio")
    }
  }

  /** The `spark` layer from a short traced phase, for `serve_local`'s traced
    * run: twenty single queries and three batches over its reader.
    */
  def traceSpark(ctx: Ctx, s: Serving.Setup): Unit = {
    warm(s.reader, s.pool)
    val batch = batchOf(ctx, s)
    val t = measure(ctx, s, batch, traced = true, seconds = 0)
    check(ctx, batch, Seq(t))
    layers(ctx, s, t)
  }

  private def warm(reader: graft.index.IndexReader, pool: IndexedSeq[Gen.Query]): Unit = {
    pool.take(2).foreach(q => Serving.distTopK(reader, q.text))
    Serving.batchTopK(reader, pool.indices.map(i => (i.toLong, pool(i).text)))
  }

  /** The fixed batch: the last `BatchSize` requests of the stream (phase 1
    * walks the stream from its start).
    */
  private def batchOf(ctx: Ctx, s: Serving.Setup): IndexedSeq[(Int, String)] = {
    val qs = (0 until BatchSize).map(i => s.stream(s.stream.length - 1 - i))
    ctx.report.info(s"batch of $BatchSize: ${Serving.classShares(s.pool, qs)}")
    qs.map(q => (q, s.pool(q).text))
  }

  /** Repeated single queries agree, and every batch answers each query the
    * run also sent alone exactly as the single query did. One attempted
    * operation per query and per batch.
    */
  private def check(ctx: Ctx, batch: IndexedSeq[(Int, String)], phases: Seq[Phase]): Unit = {
    val r = ctx.report
    val single = mutable.Map[Int, Seq[ScoredDoc]]()
    phases.flatMap(_.single).foreach { case (q, _, res) => single.getOrElseUpdate(q, res) }
    val checked = batch.indices.filter(i => single.contains(batch(i)._1))
    var badSingle = 0
    var badBatch = 0
    phases.foreach { p =>
      p.single.foreach { case (q, _, res) => val ok = res == single(q); if (!ok) badSingle += 1; r.op(ok) }
      p.batches.foreach { b =>
        val ok = checked.forall(i => b.getOrElse(i.toLong, Seq.empty) == single(batch(i)._1))
        if (!ok) badBatch += 1
        r.op(ok)
      }
    }
    r.check("repeated single queries agree", badSingle == 0, s"$badSingle mismatched")
    r.check(s"batch results equal single-query results (${checked.size} of $BatchSize batch queries, " +
      s"${checked.map(batch(_)._1).distinct.size} distinct, were also sent alone)", badBatch == 0,
      s"$badBatch mismatched batches")
  }

  private def layers(ctx: Ctx, s: Serving.Setup, t: Phase): Unit = {
    val L = ctx.report.layers
    val tr = ctx.tracer
    val qs = tr.spansNamed("search.dist")
    def perQuery(f: Span => Double): Double = qs.map(f).sum / qs.size
    def us(ms: Double): Long = (ms * 1000).toLong
    L("spark.jobs_per_query") = Metric(perQuery(sp => tr.jobsOf(sp.id).size), "count", qs.size)
    L("spark.stages_per_query") = Metric(perQuery(sp => tr.stagesOf(sp.id).size), "count", qs.size)
    L("spark.tasks_per_query") = Metric(perQuery(sp => tr.stagesOf(sp.id).map(_.tasks).sum), "count", qs.size)
    L("spark.job_ms_per_query") =
      Metric(perQuery(sp => tr.jobsOf(sp.id).map(j => j.endMs - j.startMs).sum), "ms", qs.size)
    L("spark.driver_gap_ms_per_query") = Metric(perQuery { sp =>
      val jobs = tr.jobsOf(sp.id).map(j => (j.startMs * 1000, j.endMs * 1000))
      Intervals.selfTime(us(tr.epochMs(sp.startNs)), us(tr.epochMs(sp.endNs)), jobs) / 1000.0
    }, "ms", qs.size)
    L("spark.stage_overhead_ms_per_query") = Metric(perQuery { sp =>
      val stages = tr.stagesOf(sp.id)
      tr.jobsOf(sp.id).map { j =>
        val own = stages.filter(st => j.stageIds.contains(st.stageId)).map(st => (st.submitMs, st.completeMs))
        Intervals.selfTime(j.startMs, j.endMs, own).toDouble
      }.sum
    }, "ms", qs.size)
    L("spark.task_run_ms_per_query") = Metric(perQuery(sp => tr.stagesOf(sp.id).map(_.runMs).sum), "ms", qs.size)
    L("spark.shuffle_read_kb_per_query") =
      Metric(perQuery(sp => tr.stagesOf(sp.id).map(_.shuffleRead).sum / 1024.0), "KB", qs.size)
    val rows = mutable.Map[Int, Long]()
    val segRows = t.single.map { case (q, _, _) =>
      rows.getOrElseUpdate(q, s.reader.segmentsFor(Searcher.queryTokens(s.reader, s.pool(q).text).map(_.term)).count())
    }
    L("spark.segment_rows_per_query") = Metric(segRows.sum.toDouble / segRows.size, "count", segRows.size)
    val bs = tr.spansNamed("search.batch")
    L("spark.batch_jobs") = Metric(bs.map(sp => tr.jobsOf(sp.id).size).sum.toDouble / bs.size, "count", bs.size)
    L("spark.batch_task_run_s") =
      Metric(bs.map(sp => tr.stagesOf(sp.id).map(_.runMs).sum).sum / 1000.0 / bs.size, "s", bs.size)
    L("spark.batch_shuffle_mb") =
      Metric(bs.map(sp => tr.stagesOf(sp.id).map(_.shuffleWrite).sum).sum / 1048576.0 / bs.size, "MB", bs.size)
    val tracedMs = t.single.map(_._2)
    val parts = L("spark.job_ms_per_query").value + L("spark.driver_gap_ms_per_query").value
    ctx.report.info(f"per-query jobs + driver gap = $parts%.2f ms; traced query latency median " +
      f"${Stats.median(tracedMs)}%.2f ms, mean ${tracedMs.sum / tracedMs.size}%.2f ms")
  }

  private def measure(ctx: Ctx, s: Serving.Setup, batch: IndexedSeq[(Int, String)], traced: Boolean,
      seconds: Double = -1): Phase = {
    val window = if (seconds < 0) ctx.seconds else seconds
    val queries = batch.indices.map(i => (i.toLong, batch(i)._2))
    Common.settle()
    val tracer = ctx.tracerFor(traced)
    tracer.attach()
    val gc0 = Common.gcSeconds()
    val single = mutable.ArrayBuffer[(Int, Double, Seq[ScoredDoc])]()
    val t0 = System.nanoTime()
    while (single.size < 20 || (System.nanoTime() - t0) / 1e9 < window * 0.75) {
      val q = s.stream(single.size % s.stream.length)
      val a = System.nanoTime()
      val res =
        try tracer.span("search", "search.dist")(Serving.distTopK(s.reader, s.pool(q).text))
        catch { case e: Exception => ctx.report.info(s"query failed: $e"); null }
      single += ((q, (System.nanoTime() - a) / 1e6, res))
    }
    val batchS = mutable.ArrayBuffer[Double]()
    val batches = mutable.ArrayBuffer[Map[Long, Seq[ScoredDoc]]]()
    val t1 = System.nanoTime()
    while (batchS.size < 3 || (System.nanoTime() - t1) / 1e9 < window * 0.25) {
      val a = System.nanoTime()
      val res =
        try tracer.span("search", "search.batch")(Serving.batchTopK(s.reader, queries))
        catch { case e: Exception => ctx.report.info(s"batch failed: $e"); Map.empty[Long, Seq[ScoredDoc]] }
      batchS += (System.nanoTime() - a) / 1e9
      batches += res
    }
    tracer.detach()
    Phase(single.toSeq, batchS.toSeq, batches.toSeq, Common.gcSeconds() - gc0)
  }
}
