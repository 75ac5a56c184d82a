package graft.index

import graft.SparkTestBase
import graft.search.Engine
import org.scalatest.funsuite.AnyFunSuite

/** The build's docId contract (unique, ≥ 0): a negative docId fails the docs
  * stage with an IllegalArgumentException, before the lexicon stage runs or
  * any stage marker is written, and the same directory then builds cleanly
  * from valid input. The pre-tokenized build checks its docs the same way.
  */
class DocIdContractSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("a negative docId fails the docs stage; no later stage runs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_negid_").toString
    val cfg = IndexConfig(tokenizerName = "TokenDelimit", nShards = 2,
      buildPartitions = 2, hotTermDf = 100000L, nSalts = 1)
    val bad = Seq(-3L -> "kiwi pear", -1L -> "pear", 0L -> "kiwi", 1L -> "plum", 2L -> "pear plum", 5L -> "kiwi")
    val e = intercept[IllegalArgumentException] {
      IndexBuilder.build(spark, bad.toDF("docId", "content"), dir, cfg)
    }
    assert(e.getMessage.contains("docId must be >= 0, got -3"), e.getMessage)
    for (stage <- Seq("docs", "lexicon", "norms", "segments"))
      assert(!graft.core.Fs.exists(spark, s"$dir/_stage_$stage.done"), stage)
    assert(!graft.core.Fs.exists(spark, s"$dir/lexicon"))

    val good = bad.map { case (d, c) => (d + 3, c) }
    IndexBuilder.build(spark, good.toDF("docId", "content"), dir, cfg)
    val reader = new IndexReader(spark, dir)
    assert(reader.manifest.numDocs == 6L)
    assert(Engine.bm25TopK(reader, "kiwi", 10).collect().map(_.docId).sorted.toSeq == Seq(0L, 3L, 8L))
  }

  test("buildFromPostings rejects a negative docId the same way") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_negid_p_").toString
    val e = intercept[IllegalArgumentException] {
      IndexBuilder.buildFromPostings(spark, Seq(-2L -> "x", 4L -> "y").toDF("docId", "content"),
        Seq(("x", -2L, 1), ("y", 4L, 1)).toDF("term", "docId", "tf"), dir,
        IndexConfig(nShards = 2, buildPartitions = 2))
    }
    assert(e.getMessage.contains("docId must be >= 0, got -2"), e.getMessage)
    assert(!graft.core.Fs.exists(spark, s"$dir/lexicon"))
  }
}
