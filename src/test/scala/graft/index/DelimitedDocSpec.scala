package graft.index

import graft.SparkTestBase
import graft.codec.{Norms, PostingCodec}
import graft.search.{Engine, ScoredDoc}
import org.scalatest.funsuite.AnyFunSuite

/** Documents holding the U+FFFE pre-tokenized delimiter: postings, norms and
  * scan-verify must all see the same tokens for the same document.
  */
class DelimitedDocSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val reader: IndexReader = {
    import spark.implicits._
    val docs = Seq(
      0L -> "Kurosawa Akira\uFFFEdrama\uFFFEdrama\uFFFEfilm",
      1L -> "drama film film",
      2L -> "\uFFFEfilm\uFFFE\uFFFEdrama noir",
      3L -> "film",
      4L -> "noir drama\uFFFEfilm",
      5L -> "film noir")
    val dir = java.nio.file.Files.createTempDirectory("graft_fffe_").toString
    IndexBuilder.build(spark, docs.toDF("docId", "content"), dir,
      IndexConfig(tokenizerName = "TokenDelimit", nShards = 2,
        buildPartitions = 2, hotTermDf = 100000L, nSalts = 1))
    new IndexReader(spark, dir)
  }

  test("doclen(doc) = sum of tf over the doc's postings") {
    val withPos = reader.manifest.withPositions
    val tfSum = reader.segments.collect().toSeq
      .flatMap(r => PostingCodec.decode(r.blocks.map(_.toBlock), withPos))
      .groupMapReduce(_.docId)(_.tf)(_ + _)
    val doclen = reader.norms.collect().toSeq.flatMap { case (_, blob) =>
      val l = Norms.decode(blob)
      l.docIds.toSeq.zip(l.lens.toSeq)
    }.toMap
    assert(doclen.keySet == (0L to 5L).toSet)
    assert(doclen == tfSum)
    assert(doclen(0L) == 4) // "kurosawa akira", "drama", "drama", "film"
  }

  test("scan-verify == index AND on U+FFFE documents") {
    def scores(ds: org.apache.spark.sql.Dataset[ScoredDoc]): Map[Long, Double] =
      ds.collect().map(s => s.docId -> s.score).toMap
    val film = Engine.matchScores(reader, "film")
    val idx = scores(Engine.SetOps.and(film, Engine.matchScores(reader, "drama")))
    assert(idx.keySet == Set(0L, 1L))
    assert(scores(Engine.andScanVerify(film, reader, "drama")) == idx)
  }
}
