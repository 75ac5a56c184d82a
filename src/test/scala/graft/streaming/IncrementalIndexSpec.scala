package graft.streaming

import graft.SparkTestBase
import graft.core.Corpus
import graft.index.{IndexBuilder, IndexConfig, IndexReader}
import graft.search.Engine
import org.scalatest.funsuite.AnyFunSuite

/** Incremental maintenance invariant: base ⊕ delta, compacted, answers
  * queries identically to a bulk build over the union corpus.
  */
class IncrementalIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val cfg = IndexConfig(tokenizerName = "TokenBigram", nShards = 4,
    buildPartitions = 4, hotTermDf = 1000000L, nSalts = 2)

  private def mkDocs(from: Long, until: Long) = {
    import spark.implicits._
    spark.range(from, until, 1, 2).map { i =>
      val f = Corpus.file(11L, i)
      (i, f.repo, f.lang, f.content)
    }.toDF("docId", "repo", "lang", "content")
  }

  test("compacted base+delta == bulk build over the union") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_inc_").toString
    IndexBuilder.build(spark, mkDocs(0, 120), s"$tmp/base", cfg)
    IndexBuilder.build(spark, mkDocs(120, 200), s"$tmp/delta0", cfg)
    IncrementalIndex.compact(spark, Seq(s"$tmp/base", s"$tmp/delta0"), s"$tmp/merged")
    IndexBuilder.build(spark, mkDocs(0, 200), s"$tmp/bulk", cfg)

    val merged = new IndexReader(spark, s"$tmp/merged")
    val bulk = new IndexReader(spark, s"$tmp/bulk")
    assert(merged.manifest.numDocs == 200)
    assert(merged.manifest.totalTokens == bulk.manifest.totalTokens)
    assert(merged.manifest.contentShaXor == bulk.manifest.contentShaXor)
    assert(merged.verifyShaInvariant())

    for (q <- Seq("if", "return", "if " + Corpus.ident(40), Corpus.ident(5))) {
      val a = Engine.bm25TopK(merged, q, 10).collect()
        .map(s => (s.docId, math.round(s.score * 1e9))).toSeq
      val b = Engine.bm25TopK(bulk, q, 10).collect()
        .map(s => (s.docId, math.round(s.score * 1e9))).toSeq
      assert(a == b, s"query '$q' differs")
    }
    // lexicon df/cf identical
    val la = merged.lexicon.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val lb = bulk.lexicon.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(la == lb)
  }

  test("foreachBatch stream lands deltas that compact cleanly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_str_").toString
    IndexBuilder.build(spark, mkDocs(0, 60), s"$tmp/base", cfg)

    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("docId", "content")
    val q = IncrementalIndex.attach(stream, tmp, cfg, s"$tmp/ckpt")
    mem.addData((60 until 90).map(i => (i.toLong, Corpus.file(11L, i).content)): _*)
    q.processAllAvailable()
    q.stop()

    val deltas = IncrementalIndex.deltaDirs(spark, tmp)
    assert(deltas.nonEmpty)
    val m = IncrementalIndex.compact(spark, s"$tmp/base" +: deltas, s"$tmp/merged")
    assert(m.numDocs == 90)
    val r = new IndexReader(spark, s"$tmp/merged")
    assert(Engine.matchScores(r, "if").count() > 0)
  }
}
