package graft.index

import graft.SparkTestBase
import graft.analysis.Tokenizers
import org.scalatest.funsuite.AnyFunSuite

/** `build` and `buildFromPostings` run one staged pipeline: fed the postings
  * `build` derives itself, `buildFromPostings` writes the same index files
  * and leaves the same stage markers.
  */
class BuildPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("buildFromPostings on build's own postings writes build's index") {
    import spark.implicits._
    val docs = Seq(
      0L -> "the quick brown fox",
      1L -> "the lazy dog and the fox",
      2L -> "Kurosawa Akira\uFFFEdrama\uFFFEfilm\uFFFEthe",
      3L -> "the film noir",
      4L -> "東京都の天気",
      5L -> "fox film the end",
      6L -> "a dog",
      7L -> "the the the")
    // hot terms (df >= 3) are salted over 4 sub-lists
    val cfg = IndexConfig(tokenizerName = "TokenBigram", nShards = 2,
      buildPartitions = 3, hotTermDf = 3L, nSalts = 4)
    val postings = docs.flatMap { case (docId, content) =>
      DocCombiner.docPostings(Tokenizers.byName(cfg.tokenizerName),
        new DocCombiner(cfg.withPositions), docId, content).toSeq
    }.toDF("term", "docId", "tf", "positions")
    val docsDf = docs.toDF("docId", "content")
    val dirB = java.nio.file.Files.createTempDirectory("graft_pipe_b_").toString
    val dirP = java.nio.file.Files.createTempDirectory("graft_pipe_p_").toString
    val mB = IndexBuilder.build(spark, docsDf, dirB, cfg)
    val mP = IndexBuilder.buildFromPostings(spark, docsDf, postings, dirP, cfg)

    def lexicon(d: String) = spark.read.parquet(s"$d/lexicon")
      .select("term", "df", "cf", "rev").as[(String, Long, Long, String)].collect().sorted.toSeq
    def norms(d: String) = spark.read.parquet(s"$d/norms").as[(Int, Array[Byte])]
      .collect().map { case (s, blob) => (s, blob.toSeq) }.sortBy(_._1).toSeq
    def segments(d: String) = spark.read.parquet(s"$d/segments").as[SegmentRow].collect()
      .map(r => ((r.shard, r.term, r.salt), (r.df, r.cf,
        r.blocks.map(b => (b.firstDoc, b.lastDoc, b.n, b.maxTf, b.data.toSeq)))))
      .sortBy(_._1).toSeq

    assert(mB.hotTerms.toSeq == Seq("fox", "the"))
    assert(segments(dirB).exists(_._1._3 > 0), "no salted sub-list")
    assert(lexicon(dirP) == lexicon(dirB))
    assert(norms(dirP) == norms(dirB))
    assert(segments(dirP) == segments(dirB))

    assert(mB.builtFromContent && !mP.builtFromContent)
    def rest(m: IndexManifest) =
      IndexManifest.toJson(m.copy(contentShaXor = 0L, builtFromContent = true))
    assert(rest(mP) == rest(mB))

    for (f <- Seq("_stage_docs.done", "_stage_lexicon.done", "_stage_norms.done",
        "_stage_segments.done", "_hot_terms"))
      assert(graft.core.Fs.exists(spark, s"$dirP/$f"), f)
  }
}
