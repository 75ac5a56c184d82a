package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed call from the benchmark into a layer's public function. */
final case class Span(id: Int, parent: Int, layer: String, name: String, startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** Interval arithmetic shared by the tracer and the build timeline. */
object Intervals {

  /** Total length of the union of the intervals, each clipped to [lo, hi). */
  def coveredWithin(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  /** Self time: the span's length minus the part its children cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - coveredWithin(start, end, children)
}

/** The build's stage timeline, read from the files `IndexBuilder` writes as
  * each stage finishes. Marker `i` closes stage `i`, which opened when the
  * previous marker (or the build call) did.
  */
object Timeline {

  /** (marker file under the index directory, stage name), in write order. */
  val Markers: Seq[(String, String)] = Seq(
    "_stage_docs.done" -> "docs",
    "_stage_lexicon.done" -> "lexicon",
    "_hot_terms" -> "hot_terms",
    "_stage_norms.done" -> "norms",
    "_stage_segments.done" -> "segments",
    "manifest.json" -> "manifest")

  final case class Stage(name: String, startMs: Double, endMs: Double) {
    def seconds: Double = (endMs - startMs) / 1000.0
  }

  /** Stages from the build's start time and the markers' mtimes (epoch ms). */
  def stages(buildStartMs: Double, markerMs: Seq[(String, Double)]): Seq[Stage] = {
    val out = mutable.ArrayBuffer[Stage]()
    var prev = buildStartMs
    markerMs.foreach { case (name, t) => out += Stage(name, prev, t); prev = t }
    out.toSeq
  }

  /** The stage whose interval holds `tMs`; events after the last marker
    * belong to the last stage, events before the start to the first.
    */
  def attribute(tMs: Double, st: Seq[Stage]): String =
    st.find(s => tMs < s.endMs).getOrElse(st.last).name

  def readMarkers(dir: String): Seq[(String, Double)] = Markers.map { case (file, name) =>
    val p = java.nio.file.Paths.get(dir, file)
    val t = java.nio.file.Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.MICROSECONDS)
    name -> t / 1000.0
  }
}

/** Metrics of one completed stage attempt. */
final case class StageRec(
    stageId: Int, span: Int, submitMs: Long, completeMs: Long, tasks: Int,
    runMs: Long, cpuNs: Long, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, fetchWaitMs: Long, recordsRead: Long, isMap: Boolean)

final case class JobRec(jobId: Int, span: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

/** In-memory spans around the benchmark's calls, plus a SparkListener that
  * attributes every Spark job (and its stages) to the span that was open on
  * the thread that submitted it, through a job-local property. Disabled, it
  * only runs the body. The listener is registered only while attached, so
  * untraced phases pay nothing for it.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = 0 }
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)

  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val stages = mutable.ArrayBuffer[StageRec]()

  private object listener extends SparkListener {
    private val open = mutable.Map[Int, (Int, Long, Seq[Int])]()
    private val stageSpan = mutable.Map[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty))).fold(0)(_.toInt)
      open(e.jobId) = (span, e.time, e.stageIds)
      e.stageIds.foreach(s => stageSpan(s) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach { case (span, start, sids) =>
        Tracer.this.synchronized { jobs += JobRec(e.jobId, span, start, e.time, sids) }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) Tracer.this.synchronized {
        stages += StageRec(si.stageId, stageSpan.getOrElse(si.stageId, 0),
          si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), si.numTasks,
          m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.diskBytesSpilled, m.shuffleReadMetrics.fetchWaitTime, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten > 0)
      }
    }
  }

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** A span clock reading as epoch milliseconds, the clock of Spark's events. */
  def epochMs(ns: Long): Double = (ns + epochOffsetNs) / 1e6

  /** Id of the span open on this thread (0 outside any span). */
  def currentSpan: Int = current.get

  /** Time `f` as a span of `layer`; Spark jobs it submits are attributed to it. */
  def span[A](layer: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId.getAndIncrement()
      val parent: Int = current.get
      val prevProp = sc.getLocalProperty(SpanProperty)
      current.set(id)
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(SpanProperty, prevProp)
        current.set(parent)
        synchronized { spans += Span(id, parent, layer, name, t0, t1) }
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  /** Start listening; spans and Spark events are recorded until [[detach]]. */
  def attach(): Unit = if (enabled) sc.addSparkListener(listener)

  def detach(): Unit = if (enabled) { drain(); sc.removeSparkListener(listener) }

  def allSpans: Seq[Span] = synchronized(spans.toList)
  def spansNamed(name: String): Seq[Span] = allSpans.filter(_.name == name)
  def jobsOf(span: Int): Seq[JobRec] = synchronized(jobs.filter(_.span == span).toList)
  def stagesOf(span: Int): Seq[StageRec] = synchronized(stages.filter(_.span == span).toList)
  def jobsStartedIn(fromMs: Long, toMs: Long): Int =
    synchronized(jobs.count(j => j.startMs >= fromMs && j.startMs <= toMs))

  /** Spans as JSON lines, each with its self time: its length minus the
    * part its child spans cover.
    */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val all = allSpans
    val children = all.groupBy(_.parent)
    val (jobCount, stageCount) = synchronized((jobs.groupBy(_.span).map { case (k, v) => k -> v.size },
      stages.groupBy(_.span).map { case (k, v) => k -> v.size }))
    val lines = all.sortBy(_.id).map { s =>
      val self = Intervals.selfTime(s.startNs, s.endNs, children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":$self,""" +
        s""""jobs":${jobCount.getOrElse(s.id, 0)},"stages":${stageCount.getOrElse(s.id, 0)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
