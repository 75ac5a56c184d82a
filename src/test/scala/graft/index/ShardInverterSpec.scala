package graft.index

import graft.SparkTestBase
import graft.analysis.Tokenizers
import graft.codec.PostingCodec
import graft.core.Posting
import org.scalatest.funsuite.AnyFunSuite

/** The segments stage's per-shard inverter on inputs the other build specs
  * do not give it: documents arriving out of docId order over several
  * input partitions, sparse docIds above 2^32, a shard without documents,
  * a null and an all-U+FFFE document, and fewer or more build partitions
  * than shards. Each segment row must hold exactly its (term, shard, salt)'s
  * postings in docId order, and `buildFromPostings` fed the same postings in
  * another row order must write the same rows.
  */
class ShardInverterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val nShards = 5
  private val nSalts = 3
  private val emptyShard = 3
  private val base = 1L << 33

  // docIds base + 5i + r, r in {0, 1, 2, 4}: shard 3 (base is 2 mod 5, so
  // r = 1) gets none. Every document holds "hot", which is salted.
  private val docs: Seq[(Long, String)] = (0 until 60).flatMap { i =>
    Seq(0, 2, 3, 4).map { r =>
      val d = base + 5L * i + r
      val words = Seq("hot", s"w${i % 4}", s"v${(i + r) % 7}") ++ (if (i % 3 == 0) Seq("hot", "tri") else Nil)
      d -> words.mkString(" ")
    }
  } ++ Seq(
    base + 5L * 60 -> null,
    base + 5L * 61 -> "\uFFFE\uFFFE\uFFFE",
    base + 5L * 62 -> "hot\uFFFEpre tok\uFFFEw1")

  private def cfg(partitions: Int) = IndexConfig(tokenizerName = "TokenDelimit",
    nShards = nShards, buildPartitions = partitions, hotTermDf = 100L, nSalts = nSalts)

  private def shardOf(d: Long) = (d % nShards).toInt

  private lazy val postings: Seq[(String, Long, Int, Array[Int])] = {
    val tok = Tokenizers.byName("TokenDelimit")
    val comb = new DocCombiner(true)
    docs.flatMap { case (d, content) => DocCombiner.docPostings(tok, comb, d, content).toSeq }
  }

  /** (term, shard, salt) -> its postings in docId order. */
  private lazy val expected: Map[(String, Int, Int), Seq[Posting]] = {
    val hot = postings.groupBy(_._1).filter(_._2.size >= 100L).keySet
    assert(hot == Set("hot"))
    postings.map { case (term, d, tf, ps) =>
      val salt =
        if (hot(term)) java.lang.Long.remainderUnsigned(d * 0x9e3779b97f4a7c15L, nSalts.toLong).toInt
        else 0
      ((term, shardOf(d), salt), Posting(d, tf, ps))
    }.groupMap(_._1)(_._2).map { case (k, ps) => k -> ps.sortBy(_.docId) }
  }

  private def tmp(name: String) = java.nio.file.Files.createTempDirectory(s"graft_inv_${name}_").toString

  private def segmentRows(dir: String): Seq[SegmentRow] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/segments").as[SegmentRow].collect().toSeq
  }

  private def comparable(rows: Seq[SegmentRow]) = rows
    .map(r => ((r.shard, r.term, r.salt), (r.df, r.cf,
      r.blocks.map(b => (b.firstDoc, b.lastDoc, b.n, b.maxTf, b.data.toSeq)))))
    .sortBy(_._1)

  private def check(partitions: Int): Unit = {
    import spark.implicits._
    assert(docs.map(d => shardOf(d._1)).toSet == (0 until nShards).toSet - emptyShard)
    assert(docs.forall(_._1 > (1L << 32)))
    val shuffled = new scala.util.Random(partitions).shuffle(docs)
    val dirB = tmp(s"b$partitions")
    IndexBuilder.build(spark, spark.sparkContext.parallelize(shuffled, 3).toDF("docId", "content"),
      dirB, cfg(partitions))
    val rows = segmentRows(dirB)

    val keys = rows.map(r => (r.term, r.shard, r.salt))
    assert(keys.distinct.size == keys.size, "a (term, shard, salt) in more than one row")
    assert(keys.toSet == expected.keySet)
    assert(!rows.exists(_.shard == emptyShard))
    for (r <- rows) {
      val want = expected((r.term, r.shard, r.salt))
      assert(PostingCodec.decode(r.blocks.map(_.toBlock)).toSeq == want, s"(${r.term}, ${r.shard}, ${r.salt})")
      assert(r.df == want.size && r.cf == want.map(_.tf.toLong).sum)
    }
    assert(rows.count(r => r.term == "hot" && r.shard == 0) == nSalts)

    val metrics = spark.read.parquet(s"$dirB/metrics")
      .select("partitionId", "terms", "postings").as[(Int, Long, Long)].collect().toSeq
    assert(metrics.map(_._1).sorted == (0 until partitions))
    assert(metrics.map(_._2).sum == rows.size)
    assert(metrics.map(_._3).sum == rows.map(_.df).sum)
    assert(rows.map(_.df).sum == postings.size)

    val dirP = tmp(s"p$partitions")
    val postingRows = new scala.util.Random(partitions + 1).shuffle(postings)
    IndexBuilder.buildFromPostings(spark, docs.toDF("docId", "content"),
      spark.sparkContext.parallelize(postingRows, 4).toDF("term", "docId", "tf", "positions"),
      dirP, cfg(partitions))
    assert(comparable(segmentRows(dirP)) == comparable(rows))
  }

  test("fewer build partitions than shards: several shards share a partition") {
    check(2)
  }

  test("more build partitions than shards: empty partitions leave lineage rows") {
    check(8)
  }
}
