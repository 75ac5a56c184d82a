package perfbench

import graft.analysis.Tokenizers
import graft.index.DocCombiner
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** `build`: repeated full index builds of the stored corpus, each into a
  * fresh directory. All the work is on the write path (analysis, index,
  * codec); none is in query code.
  */
object BuildWorkload {

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val setups = (1 to 3).map(k => Common.time(Common.writeCorpus(ctx, s"src$k")))
    val corpus = setups.last._1
    r.info(f"corpus files=${corpus.files} bytes=${corpus.bytes} digest=${corpus.digest}%016x")
    r.check("corpus digest equal across set-ups", setups.map(_._1.digest).distinct.size == 1)
    val docs = Common.readCorpus(ctx, corpus)
    // one untimed build first: the first build of a process runs on a cold
    // JIT and takes about twice as long as the next ones
    val (warm, warmS) = Common.time(Common.build(ctx, ctx.untraced, docs, ctx.fresh("idx-warm")))
    r.info(f"warm-up build $warmS%.1f s")

    val all = measure(ctx, docs)
    val plain = all.filterNot(_.traced)
    val traced = all.filter(_.traced)
    r.info(s"measured builds ${all.map(m => f"${m.build.seconds}%.2f${if (m.traced) "t" else ""}").mkString(" ")} s")
    Common.checkBuilds(ctx, all.map(_.build), corpus.files).foreach(r.op)

    val ms = plain.map(_.build.seconds * 1000)
    val setupS = Stats.median(setups.map(_._2))
    val (tailLabel, tailMs) = Stats.tail(ms)
    val filesPerS = corpus.files / (Stats.median(ms) / 1000)
    val bytesRatio = Common.dirBytes(plain.last.build.dir).toDouble / corpus.bytes
    r.endToEnd("setup_s") = Metric(setupS, "s", setups.size)
    r.endToEnd("ops_per_s") = Metric(filesPerS, "1/s", ms.size)
    r.endToEnd("op_p50_ms") = Metric(Stats.median(ms), "ms", ms.size)
    r.layers("bench.op_tail_ms") = Metric(tailMs, "ms", ms.size, tailLabel)
    r.named += "setup_s" -> Metric(setupS, "s", setups.size)
    r.named += "build_files_per_s" -> Metric(filesPerS, "1/s", ms.size)
    r.named += "index_bytes_per_src_byte" -> Metric(bytesRatio, "ratio", 1)

    if (ctx.trace) {
      val L = r.layers
      val builds = traced.map(_.build)
      val tracedS = Stats.median(builds.map(_.seconds))
      Common.indexLayers(ctx, ctx.tracer, builds)
      L("analysis.tokenize_docs_per_s") = Metric(tokenizeDocsPerS(ctx.seed), "1/s", 5)
      L("jvm.gc_s") = Metric(traced.map(_.gcS).sum, "s", builds.size)
      L("bench.trace_overhead_frac") = Metric(tracedS / Stats.median(plain.map(_.build.seconds)) - 1, "ratio")
      L("bench.warmup_s") = Metric(warmS, "s")
      val stageSum = Timeline.Markers.map(m => L(s"index.${m._2}_s").value).sum
      r.info(f"build timeline: stages sum to $stageSum%.3f s of a $tracedS%.3f s median build")
      CleanWorkload.traceOps(ctx)
    }
    (warm +: all.map(_.build)).foreach(b => Main.deleteRecursively(new java.io.File(b.dir)))
  }

  final case class Measured(build: Common.Build, gcS: Double, traced: Boolean)

  /** Builds per run at the least. The second build of a process is still
    * about 15% slower than the later ones, which the median of four passes
    * over; and on a shared host the program's speed drifts by 20-30% in
    * phases of some tens of seconds, so the builds should span as many
    * seconds as the time budget of a comparison affords.
    */
  val MinBuilds = 4

  /** Builds for `ctx.seconds` (at least [[MinBuilds]]), each with its GC seconds and
    * whether it was traced. A traced run makes two builds more and
    * alternates untraced and traced ones, so that the JIT still warming up
    * over the first builds does not read as tracing overhead.
    */
  private def measure(ctx: Ctx, docs: DataFrame): Seq[Measured] = {
    Common.settle()
    val out = mutable.ArrayBuffer[Measured]()
    val (minBuilds, window) = if (ctx.trace) (MinBuilds + 2, ctx.seconds) else (MinBuilds, ctx.seconds)
    val t0 = System.nanoTime()
    while (out.size < minBuilds || (System.nanoTime() - t0) / 1e9 < window) {
      val traced = ctx.trace && out.size % 2 == 1
      val tracer = ctx.tracerFor(traced)
      tracer.attach()
      val gc0 = Common.gcSeconds()
      val b = Common.build(ctx, tracer, docs, ctx.fresh(s"idx${out.size}"))
      out += Measured(b, Common.gcSeconds() - gc0, traced)
      tracer.detach()
    }
    out.toSeq
  }

  /** One thread tokenizing a fixed sample of 2000 documents through the
    * build's per-document kernel; the median of five passes.
    */
  def tokenizeDocsPerS(seed: Long): Double = {
    val sample = (0 until 2000).map(i => Gen.doc(seed, i.toLong).content)
    val tok = Tokenizers.byName(Common.Config.tokenizerName)
    val comb = new DocCombiner(Common.Config.withPositions)
    Stats.median((1 to 5).map { _ =>
      val (_, s) = Common.time {
        var i = 0
        while (i < sample.size) { DocCombiner.docPostings(tok, comb, i.toLong, sample(i)); i += 1 }
      }
      sample.size / s
    })
  }
}
