package perfbench

import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** `clean`: gopherKeep -> decontaminate(k = 13) -> dedupCorpus -> hashSplit
  * over the stored corpus, with `graft.Bench`'s thresholds and every 1000th
  * document as the benchmark side. Each stage is materialized, so stage
  * times are wall clock. The only workload on the `ops` layer; `build`'s
  * traced run also runs one pipeline through [[traceOps]].
  */
object CleanWorkload {

  val Stages: Seq[String] = Seq("gopher", "decontaminate", "dedup", "split")

  /** The pipeline cleans the first quarter of the corpus: dedup alone costs
    * seconds of Spark jobs per pass, and a run must fit several passes.
    */
  val Files: Int = Common.Files / 4

  val WarmFiles: Int = 1000

  /** One pipeline: per-stage seconds, kept ids and spans. */
  final case class Pipe(seconds: Map[String, Double], ids: Map[String, Array[Long]],
      splits: Array[(Long, String)], stageSpans: Seq[Int], gcS: Double) {
    def total: Double = seconds.values.sum
  }

  final case class Input(docs: DataFrame, bench: DataFrame, files: Long)

  def input(ctx: Ctx, c: Common.Corpus): Input = {
    val docs = Common.readCorpus(ctx, c).select(col("docId").as("doc_id"), col("content").as("text"))
    Input(docs, docs.filter(col("doc_id") % 1000 === 0), c.files)
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val setups = (1 to 3).map(k => Common.time(Common.writeCorpus(ctx, s"src$k", Files)))
    val corpus = setups.last._1
    r.info(f"corpus files=${corpus.files} bytes=${corpus.bytes} digest=${corpus.digest}%016x")
    r.check("corpus digest equal across set-ups", setups.map(_._1.digest).distinct.size == 1)
    val in = input(ctx, corpus)
    val warmS = warmUp(ctx)

    val plain = phase(ctx, in, traced = false, minPipes = 2)
    val traced = if (ctx.trace) phase(ctx, in, traced = true, minPipes = 2) else Seq.empty
    check(ctx, in, plain ++ traced)

    val ms = plain.map(_.total * 1000)
    val (tailLabel, tailMs) = Stats.tail(ms)
    val filesPerS = corpus.files / (Stats.median(ms) / 1000)
    val setupS = Stats.median(setups.map(_._2))
    r.endToEnd("setup_s") = Metric(setupS, "s", setups.size)
    r.endToEnd("ops_per_s") = Metric(filesPerS, "1/s", ms.size)
    r.endToEnd("op_p50_ms") = Metric(Stats.median(ms), "ms", ms.size)
    r.layers("bench.op_tail_ms") = Metric(tailMs, "ms", ms.size, tailLabel)
    r.named += "setup_s" -> Metric(setupS, "s", setups.size)
    r.named += "clean_files_per_s" -> Metric(filesPerS, "1/s", ms.size)

    if (ctx.trace) {
      layers(ctx, traced)
      r.layers("jvm.gc_s") = Metric(traced.map(_.gcS).sum, "s", traced.size)
      r.layers("bench.trace_overhead_frac") =
        Metric(Stats.median(traced.map(_.total)) / Stats.median(plain.map(_.total)) - 1, "ratio")
      r.layers("bench.warmup_s") = Metric(warmS, "s")
    }
  }

  /** The `ops` layer from one traced pipeline, for another workload's traced run. */
  def traceOps(ctx: Ctx): Unit = {
    val in = input(ctx, Common.writeCorpus(ctx, "clean-src", Files))
    warmUp(ctx)
    val traced = phase(ctx, in, traced = true, minPipes = 1, seconds = 0)
    check(ctx, in, traced)
    layers(ctx, traced)
  }

  /** A small untimed pipeline, so that measured pipelines run on a warm JIT. */
  private def warmUp(ctx: Ctx): Double = {
    val (_, s) = Common.time {
      val small = input(ctx, Common.writeCorpus(ctx, "clean-warm", WarmFiles))
      pipeline(ctx, ctx.untraced, small)
    }
    ctx.report.info(f"warm-up pipeline of $WarmFiles files $s%.1f s")
    s
  }

  private def layers(ctx: Ctx, traced: Seq[Pipe]): Unit = {
    val L = ctx.report.layers
    Stages.foreach { st =>
      L(s"ops.${st}_s") = Metric(Stats.median(traced.map(_.seconds(st))), "s", traced.size)
      L(s"ops.rows_out.$st") = Metric(traced.last.ids(st).length.toDouble, "count")
    }
    def perPipe(f: StageRec => Long): Double =
      Stats.median(traced.map(p => p.stageSpans.flatMap(ctx.tracer.stagesOf).map(f).sum / 1048576.0))
    L("ops.shuffle_write_mb") = Metric(perPipe(_.shuffleWrite), "MB", traced.size)
    L("ops.spill_mb") = Metric(perPipe(_.spill), "MB", traced.size)
  }

  private def phase(ctx: Ctx, in: Input, traced: Boolean, minPipes: Int,
      seconds: Double = -1): Seq[Pipe] = {
    val window = if (seconds < 0) ctx.seconds else seconds
    Common.settle()
    val tracer = ctx.tracerFor(traced)
    tracer.attach()
    val out = mutable.ArrayBuffer[Pipe]()
    val t0 = System.nanoTime()
    while (out.size < minPipes || (System.nanoTime() - t0) / 1e9 < window) out += pipeline(ctx, tracer, in)
    tracer.detach()
    out.toSeq
  }

  private def pipeline(ctx: Ctx, tracer: Tracer, in: Input): Pipe = {
    val gc0 = Common.gcSeconds()
    val seconds = mutable.Map[String, Double]()
    val ids = mutable.Map[String, Array[Long]]()
    val spans = mutable.ArrayBuffer[Int]()
    // persist + count, timed together with the call, because some operators
    // run jobs while building their plan; the kept ids are read back untimed
    def mat(st: String, df: => DataFrame): DataFrame = {
      val (p, s) = Common.time(tracer.span("ops", s"ops.$st") {
        spans += tracer.currentSpan
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
      })
      seconds(st) = s
      ids(st) = p.select("doc_id").collect().map(_.getLong(0))
      p
    }
    val g = mat("gopher", TextAnalysis.gopherKeep(in.docs, maxDupWordQ3 = 900, maxTop2Q3 = 600, maxDup5Q3 = 600))
    // k = 13, the GPT-3 rule's n-gram size
    val dc = mat("decontaminate", Dedup.decontaminate(g, in.bench, k = 13))
    g.unpersist()
    val dd = mat("dedup", Dedup.dedupCorpus(dc))
    dc.unpersist()
    val sp = mat("split", TextAnalysis.hashSplit(dd))
    val splits = sp.select("doc_id", "split").collect().map(x => (x.getLong(0), x.getString(1)))
    dd.unpersist()
    sp.unpersist()
    Pipe(seconds.toMap, ids.toMap, splits, spans.toSeq, Common.gcSeconds() - gc0)
  }

  /** Per pipeline: bench-side docs removed, each stage a subset of its input,
    * the split an exact disjoint partition of the dedup output, and the same
    * kept ids as the first pipeline. One attempted operation each.
    */
  private def check(ctx: Ctx, in: Input, pipes: Seq[Pipe]): Unit = {
    val r = ctx.report
    val benchIds = in.bench.select("doc_id").collect().map(_.getLong(0)).toSet
    val first = pipes.head
    Stages.foreach(st => r.info(f"kept $st=${first.ids(st).length} digest=${digest(first.ids(st))}%016x"))
    pipes.zipWithIndex.foreach { case (p, i) =>
      val decon = p.ids("decontaminate").toSet
      val dedup = p.ids("dedup")
      val benchGone = benchIds.forall(id => !decon.contains(id))
      val subsets = p.ids("gopher").forall(id => id >= 0 && id < in.files) &&
        decon.subsetOf(p.ids("gopher").toSet) && dedup.forall(decon.contains)
      val splitIds = p.splits.map(_._1)
      val partition = splitIds.length == dedup.length && splitIds.toSet == dedup.toSet &&
        splitIds.distinct.length == splitIds.length && p.splits.forall(x => x._2 == "train" || x._2 == "test")
      val same = Stages.forall(st => digest(p.ids(st)) == digest(first.ids(st)))
      r.check(s"pipeline$i bench side removed", benchGone)
      r.check(s"pipeline$i stages are subsets of their inputs", subsets)
      r.check(s"pipeline$i split is a disjoint partition of the dedup output", partition)
      r.check(s"pipeline$i keeps the same ids as pipeline0", same)
      r.op(benchGone && subsets && partition && same)
    }
  }

  /** Order-independent digest of kept ids. */
  def digest(ids: Array[Long]): Long = ids.foldLeft(0L)((h, i) => h + Gen.splitmix64(i))
}
