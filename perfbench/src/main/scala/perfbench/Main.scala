package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** A reported number with its unit and the sample count behind it. */
final case class Metric(value: Double, unit: String, n: Int = 1, label: String = "")

/** Everything one run reports. */
final class Report {
  val endToEnd = mutable.LinkedHashMap[String, Metric]()
  val layers = mutable.LinkedHashMap[String, Metric]()
  /** End-to-end metrics under the workload-specific names of the doc. */
  val named = mutable.ArrayBuffer[(String, Metric)]()
  val lines = mutable.ArrayBuffer[String]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  private val t0 = System.nanoTime()

  def info(s: String): Unit = {
    lines += s
    System.err.println(f"[perfbench +${(System.nanoTime() - t0) / 1e9}%.1fs] $s")
  }

  /** A check outside the timed window; a failing one fails the run. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    info(s"check $name: ${if (ok) "ok" else "FAILED"}${if (detail.isEmpty) "" else s" ($detail)"}")
    if (!ok) failures += name
  }

  /** Record one attempted operation and whether it failed. */
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
}

/** Run-wide settings and helpers shared by the workloads. */
final class Ctx(
    val spark: SparkSession,
    val workload: String,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val work: java.io.File) {

  val report = new Report

  /** Records spans when the run is traced; [[untraced]] never does. */
  val tracer = new Tracer(spark.sparkContext, trace)
  val untraced = new Tracer(spark.sparkContext, false)

  /** The tracer of a measurement phase. */
  def tracerFor(traced: Boolean): Tracer = if (traced) tracer else untraced

  /** A fresh (deleted) path under the run's work directory. */
  def fresh(name: String): String = {
    val f = new java.io.File(work, name)
    Main.deleteRecursively(f)
    f.getPath
  }
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * Prints readable lines, then one JSON object as the last line of stdout:
  * end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
  * Exits non-zero when an output check fails.
  */
object Main {

  val Workloads: Seq[String] = Seq("build", "serve_local", "search_dist", "clean")

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val work = new java.io.File(opt("work")).getAbsoluteFile
    deleteRecursively(work)
    work.mkdirs()

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ctx = new Ctx(spark, workload, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", work)
    val r = ctx.report
    r.info(s"workload=$workload seed=${ctx.seed} seconds=${ctx.seconds} trace=${if (ctx.trace) 1 else 0} " +
      s"files=${Common.Files} cores=4")
    val crashed =
      try {
        workload match {
          case "build" => BuildWorkload.run(ctx)
          case "serve_local" => ServeLocalWorkload.run(ctx)
          case "search_dist" => SearchDistWorkload.run(ctx)
          case "clean" => CleanWorkload.run(ctx)
        }
        None
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Some(e.toString)
      }
    ctx.tracer.write(new java.io.File(work.getParentFile, s"trace/$workload-seed${ctx.seed}.jsonl").toPath)
    val rssMb = Common.peakRssMb()
    r.endToEnd("peak_rss_mb") = Metric(rssMb, "MB")
    r.named += "peak_rss_mb" -> Metric(rssMb, "MB")
    r.named += "failed_frac" ->
      Metric(if (r.attempted == 0) 1.0 else r.failed.toDouble / r.attempted, "ratio", r.attempted.toInt)
    spark.stop()
    deleteRecursively(work)

    crashed.foreach(e => r.failures += s"crashed: $e")
    val correct = r.failures.isEmpty && r.failed == 0 && r.attempted > 0
    if (ctx.trace) Common.completeLayers(r)
    r.named.foreach { case (name, m) =>
      println(f"metric $name%-28s ${m.value}%.6g ${m.unit} n=${m.n}${if (m.label.isEmpty) "" else s" (${m.label})"}")
    }
    r.lines.foreach(l => println(s"info $l"))
    val metrics = if (ctx.trace) r.layers else r.endToEnd
    val body = metrics.map { case (k, m) =>
      val v = if (m.value.isNaN || m.value.isInfinite) 0.0 else m.value
      s""""$k": {"value": $v, "unit": "${m.unit}"}"""
    }.mkString(", ")
    // a run that attempted nothing reports one failed attempt
    val (attempted, failed) = if (r.attempted == 0) (1L, 1L) else (r.attempted, r.failed)
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
