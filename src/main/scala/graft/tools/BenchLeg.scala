package graft.tools

import graft.core.Corpus
import graft.index.{IndexBuilder, IndexConfig, IndexReader}
import graft.search.Engine
import org.apache.spark.sql.SparkSession

/** One leg of the north-star job, shared by [[ScalingBench]] and
  * [[SubmitBench]]: a fresh index build of the seed-42 synthesized corpus
  * into `dir`, then the BM25 workload on that index in serving mode — one
  * warm and one timed batch of [[batch]], and six single-query latencies.
  */
object BenchLeg {

  /** A leg's figures, plus its serving reader for any further readings. */
  final case class Result(filesPerSec: Double, batchQps: Double, p50Ms: Double,
      reader: IndexReader)

  val queryTerms: Seq[String] =
    Seq("if", "return", "while") ++ Seq(5, 40, 300).map(Corpus.ident) ++
      Seq(2000, 3000, 4000, 4500).map(Corpus.ident)

  /** 256 queries: enough work per batch job that 32 slots have something to
    * chew on (64-query batches finish in ~1s and measure overhead).
    */
  val batch: Seq[(Long, String)] = (0 until 256).map { i =>
    val a = queryTerms(i % queryTerms.size)
    val b = queryTerms((i * 7 + 3) % queryTerms.size)
    val c = Corpus.ident(800 + (i * 13) % 3000)
    (i.toLong, if (a == b) s"$a $c" else s"$a $b $c")
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(): Unit
  }

  def run(spark: SparkSession, nFiles: Long, dir: String): Result = {
    import spark.implicits._
    deleteRecursively(new java.io.File(dir))
    val docs = spark.range(0, nFiles, 1, 64).map { i =>
      val f = Corpus.file(42L, i)
      (i, f.repo, f.path, f.commit, f.lang, f.content)
    }.toDF("docId", "repo", "path", "commit", "lang", "content")
    val t0 = System.nanoTime()
    IndexBuilder.build(spark, docs, dir,
      IndexConfig(tokenizerName = "TokenBigram", withPositions = true,
        nShards = 64, buildPartitions = 64,
        hotTermDf = math.max(1000L, nFiles / 8), nSalts = 8))
    val fps = nFiles / ((System.nanoTime() - t0) / 1e9)

    // query workload on the leg's own index (serving mode: cached)
    val reader = new IndexReader(spark, dir).cacheForServing()
    Engine.bm25TopKBatch(reader, batch, 10).count() // warm
    val tq = System.nanoTime()
    Engine.bm25TopKBatch(reader, batch, 10).count()
    val qps = batch.size / ((System.nanoTime() - tq) / 1e9)
    val lats = queryTerms.take(6).map { q =>
      val t = System.nanoTime()
      Engine.bm25TopK(reader, q, 10).collect()
      (System.nanoTime() - t) / 1e6
    }.sorted
    Result(fps, qps, lats(lats.size / 2), reader)
  }
}
