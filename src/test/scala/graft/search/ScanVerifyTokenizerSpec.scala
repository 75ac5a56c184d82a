package graft.search

import graft.SparkTestBase
import graft.index.{IndexBuilder, IndexConfig, IndexReader}
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

/** The too-many-matches escape recounts a candidate's tokens from its
  * content; under every tokenizer that recount must give the index path's
  * AND — same docs, same scores — for single tokens and for phrases, on
  * plain, U+FFFE-delimited and null-content documents.
  */
class ScanVerifyTokenizerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val vocab = Vector("the", "quick", "brown", "lazy", "dog", "runs",
    "running", "東京都", "京都", "fig")
  private val nullDoc = 13L

  // seeded corpus: every fifth document is U+FFFE-delimited (segments of
  // one or two words), one document's content is null; the last three
  // plant the multi-token queries next to "fig"
  private val docs: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(20261019L)
    def segments(ws: Vector[String]): List[String] =
      if (ws.isEmpty) Nil
      else {
        val (seg, rest) = ws.splitAt(1 + rnd.nextInt(2))
        seg.mkString(" ") :: segments(rest)
      }
    (0L until 200L).map { id =>
      val words = Vector.fill(4 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
      val content =
        if (id == nullDoc) null
        else if (id % 5 == 0) segments(words).mkString("\uFFFE")
        else words.mkString(" ")
      id -> content
    } ++ Seq(200L -> "fig the quick brown dog", 201L -> "the lazy dog runs fig",
      202L -> "fig\uFFFEquick brown\uFFFEdog the lazy dog")
  }

  private val queries = Seq("quick", "runs", "京都", "東京都", "the", "lazy dog",
    "the quick", "dog the", "quick brown dog", "the lazy dog")

  private def scoresOf(ds: Dataset[ScoredDoc]): Map[Long, Double] =
    ds.collect().map(s => s.docId -> s.score).toMap

  Seq("TokenBigram", "TokenTrigram", "TokenUnigram", "TokenDelimit",
    "TokenBigram:none", "TokenDelimit+Stem", "TokenBigram+StopWord=the").foreach { name =>
    test(s"$name: scan-verify == index AND") {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_svtok_").toString
      IndexBuilder.build(spark, docs.toDF("docId", "content"), dir,
        IndexConfig(tokenizerName = name, nShards = 2, buildPartitions = 2,
          hotTermDf = 60L, nSalts = 2))
      val r = new IndexReader(spark, dir)
      val rare = Engine.matchScores(r, "fig")
      val counts = queries.map { q =>
        val qtoks = Searcher.queryTokens(r, q)
        val idx = scoresOf(Engine.SetOps.and(rare, Engine.matchScores(r, q)))
        val scan = scoresOf(Engine.andScanVerify(rare, r, qtoks))
        assert(scan == idx, s"query '$q' (${qtoks.size} tokens)")
        assert(!idx.contains(nullDoc))
        qtoks.size -> idx.size
      }
      // single-token, 2-token and 3-token queries each have hits
      Seq(1, 2, 3).foreach { n =>
        assert(counts.exists { case (k, hits) => k == n && hits > 0 },
          s"no $n-token query with hits: $counts")
      }
    }
  }
}
