package graft.index

import graft.SparkTestBase
import graft.analysis.Tokenizers
import graft.codec.PostingCodec
import graft.core.Posting
import org.scalatest.funsuite.AnyFunSuite

/** The segments encoder's run boundaries: every (term, shard, salt) run of
  * the sorted partition becomes exactly one segment row holding exactly
  * that run's postings, whether all runs share one partition or most
  * partitions are empty, and every partition leaves one lineage row.
  */
class SegmentEncoderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val nShards = 2
  private val nSalts = 3
  // On each shard, `edge128` fills exactly one 128-posting block and
  // `edge129` spills one posting into a second; `hot` (df 400) is the one
  // term at or above hotTermDf, so it is salted.
  private val docs: Seq[(Long, String)] = (0L until 400L).map { d =>
    val words = Seq.newBuilder[String]
    words += "hot"
    if (d < 256) words += "edge128"
    if (d < 258) words += "edge129"
    words += s"w${d % 7}"
    if (d % 3 == 0) words ++= Seq("hot", s"w${d % 5}")
    if (d < 258 && d % 4 == 0) words += "edge129"
    d -> words.result().mkString(" ")
  }
  private def cfg(partitions: Int) = IndexConfig(tokenizerName = "TokenDelimit",
    nShards = nShards, buildPartitions = partitions, hotTermDf = 300L, nSalts = nSalts)

  // the build's salt of a hot term's posting
  private def saltOf(docId: Long): Int =
    java.lang.Long.remainderUnsigned(docId * 0x9e3779b97f4a7c15L, nSalts.toLong).toInt

  /** (term, shard, salt) -> the postings DocCombiner.docPostings gives, in
    * docId order.
    */
  private lazy val expected: Map[(String, Int, Int), Seq[Posting]] = {
    val tok = Tokenizers.byName("TokenDelimit")
    val comb = new DocCombiner(true)
    docs.flatMap { case (docId, content) =>
      DocCombiner.docPostings(tok, comb, docId, content).toSeq.map { case (term, d, tf, ps) =>
        val salt = if (term == "hot") saltOf(d) else 0
        ((term, (d % nShards).toInt, salt), Posting(d, tf, ps))
      }
    }.groupMap(_._1)(_._2).map { case (k, ps) => k -> ps.sortBy(_.docId) }
  }

  private def checkBuild(partitions: Int): Unit = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"graft_enc_${partitions}_").toString
    IndexBuilder.build(spark, docs.toDF("docId", "content"), dir, cfg(partitions))
    val rows = spark.read.parquet(s"$dir/segments").as[SegmentRow].collect().toSeq

    val keys = rows.map(r => (r.term, r.shard, r.salt))
    assert(keys.distinct.size == keys.size, "a (term, shard, salt) in more than one row")
    assert(keys.toSet == expected.keySet)
    for (r <- rows) {
      val got = PostingCodec.decode(r.blocks.map(_.toBlock)).toSeq
      val want = expected((r.term, r.shard, r.salt))
      assert(got == want, s"(${r.term}, ${r.shard}, ${r.salt})")
      assert(r.df == want.size && r.cf == want.map(_.tf.toLong).sum)
    }
    for (shard <- 0 until nShards) {
      def blockSizes(term: String) =
        rows.filter(r => r.term == term && r.shard == shard).flatMap(_.blocks.map(_.n))
      assert(blockSizes("edge128") == Seq(128))
      assert(blockSizes("edge129") == Seq(128, 1))
      assert(rows.count(r => r.term == "hot" && r.shard == shard) == nSalts)
    }

    val metrics = spark.read.parquet(s"$dir/metrics")
      .select("partitionId", "terms", "postings").as[(Int, Long, Long)].collect().toSeq
    assert(metrics.map(_._1).sorted == (0 until partitions))
    assert(metrics.map(_._2).sum == rows.size)
    assert(metrics.map(_._3).sum == rows.map(_.df).sum)
  }

  test("one partition: every run shares it and still leaves its own row") {
    checkBuild(1)
  }

  test("more partitions than keys: empty partitions leave lineage rows") {
    assert(expected.size < 64)
    checkBuild(64)
  }
}
