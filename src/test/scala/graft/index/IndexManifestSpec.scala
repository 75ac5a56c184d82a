package graft.index

import org.scalatest.funsuite.AnyFunSuite

/** manifest.json reads back field for field: hot terms holding JSON's
  * special characters, manifests in the older writer's layout, and
  * manifests from before the later fields existed.
  */
class IndexManifestSpec extends AnyFunSuite {
  private val m = IndexManifest(numDocs = 8L, avgDoclen = 4.375, totalTokens = 35L,
    tokenizerName = "TokenBigram", withPositions = true, nShards = 2, nSalts = 4,
    hotTermDf = 3L, contentShaXor = 123456789L, hotTerms = Array("fox", "the"),
    stagesDone = Seq("docs", "lexicon", "norms", "segments"))

  private def fields(m: IndexManifest) = m.copy(hotTerms = null) -> m.hotTerms.toSeq

  test("hot terms holding commas, brackets, quotes and backslashes round-trip") {
    val hot = m.copy(hotTerms = Array("a,b", "]", "q\"x", "back\\slash", "plain"))
    assert(fields(IndexManifest.fromJson(IndexManifest.toJson(hot))) == fields(hot))
  }

  test("a manifest in the older writer's layout reads back field for field") {
    val text =
      """{"numDocs":8,"avgDoclen":4.375,"totalTokens":35,
        |"formatVersion":3,
        |"tokenizerName":"TokenBigram","withPositions":true,
        |"withWeights":false,"builtFromContent":true,
        |"nShards":2,"nSalts":4,"hotTermDf":3,
        |"contentShaXor":123456789,
        |"hotTerms":["fox","the"],
        |"stagesDone":["docs","lexicon","norms","segments"]}""".stripMargin
    assert(fields(IndexManifest.fromJson(text)) == fields(m))
  }

  test("fields older manifests lack read back as their defaults") {
    val text =
      """{"numDocs":8,"avgDoclen":4.375,"totalTokens":35,
        |"tokenizerName":"TokenBigram","withPositions":true,
        |"nShards":2,"nSalts":4,
        |"contentShaXor":123456789,
        |"hotTerms":["fox","the"],
        |"stagesDone":["docs","lexicon","norms","segments"]}""".stripMargin
    val old = m.copy(formatVersion = 0, hotTermDf = Long.MaxValue,
      withWeights = false, builtFromContent = false)
    assert(fields(IndexManifest.fromJson(text)) == fields(old))
  }
}
