package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The `scaling` and `submit` bench modes, on a small corpus in the shared
  * session: each prints one JSON line with the keys the scripts parse.
  */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val nFiles = 1000L

  private def withIndexDir(f: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bench_").toFile
    try f(s"$tmp/index") finally Bench.deleteRecursively(tmp)
  }

  private def parse(line: String): JsonNode = {
    assert(!line.contains('\n'), "one line")
    new ObjectMapper().readTree(line)
  }

  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  test("scaling mode: N and 4N legs, one JSON line with the scaling report's keys") {
    withIndexDir { dir =>
      val levelsRun = Seq.newBuilder[Int]
      val js = parse(Bench.json(Bench.scaling(nFiles, 1, Seq(1, 4)) { cpus =>
        levelsRun += cpus
        Bench.leg(spark, nFiles, dir, serve = true)
      }))
      assert(levelsRun.result() == Seq(1, 4))
      assert(keys(js) == Seq("metric", "n_files", "reps", "levels", "build_files_per_sec",
        "bm25_batch_qps", "bm25_p50_ms", "scaling_efficiency"))
      assert(js.get("metric").asText == "scaling" && js.get("n_files").asLong == nFiles)
      assert(js.get("levels").elements().asScala.map(_.asInt).toSeq == Seq(1, 4))
      Seq("build_files_per_sec", "bm25_batch_qps", "bm25_p50_ms").foreach { k =>
        assert(keys(js.get(k)) == Seq("local1", "local4"), k)
        assert(js.get(k).elements().asScala.forall(v => v.isNumber && v.asDouble > 0), k)
      }
      assert(keys(js.get("scaling_efficiency")) == Seq("build", "bm25_batch"))
      assert(!spark.sparkContext.isStopped)
    }
  }

  test("submit mode: best-of legs in the given session, one JSON line with the spark_submit_leg keys") {
    withIndexDir { dir =>
      val js = parse(Bench.json(Bench.submit(spark, nFiles, 1, dir)))
      assert(keys(js) == Seq("metric", "cores", "n_files", "reps", "build_files_per_sec",
        "bm25_batch_qps", "bm25_p50_ms", "total_tokens", "index_bytes"))
      assert(js.get("metric").asText == "spark_submit_leg")
      assert(js.get("cores").asInt == spark.sparkContext.defaultParallelism)
      assert(js.get("build_files_per_sec").asDouble > 0 && js.get("total_tokens").asLong > 0)
      assert(js.get("index_bytes").asLong > 0)
      assert(!new java.io.File(dir).exists, "the submit leg's index is removed")
      assert(!spark.sparkContext.isStopped)
    }
  }

  test("numbers are written with the same digits as %.Nf") {
    val rnd = new scala.util.Random(5)
    val values = Seq(0.9, 5118.25, 2.0, 0.125, 2.675, 1e-7, 123456789.987) ++
      Seq.fill(300)(rnd.nextDouble() * math.pow(10, rnd.nextInt(7)))
    for (v <- values; d <- 1 to 3)
      assert(Bench.json(Bench.fixed(v, d)) == s"%.${d}f".formatLocal(java.util.Locale.ROOT, v), s"$v, $d")
    assert(Bench.json(Seq(Bench.fixed(Double.NaN, 1))) == "[null]")
  }

  test("per-round levels: distinct levels run once, coinciding levels report no efficiency") {
    assert(Bench.levels(4) == ((4, 1, 1)))
    assert(Bench.levels(8) == ((8, 2, 1)))
    assert(Bench.levels(32) == ((32, 8, 2)))
    val (c, n, nn) = Bench.levels(4)
    assert(Seq(c, n, nn).distinct == Seq(4, 1))
    assert(Bench.json(Seq(Bench.fixed(Bench.efficiency(900.0, 500.0, n, nn), 3))) == "[null]")
    assert(Bench.json(Seq(Bench.fixed(Bench.efficiency(1800.0, 500.0, c, n), 3))) == "[0.900]")
    val (_, n8, nn8) = Bench.levels(8)
    assert(Bench.json(Seq(Bench.fixed(Bench.efficiency(1500.0, 500.0, n8, nn8), 3))) == "[1.500]")
  }
}
