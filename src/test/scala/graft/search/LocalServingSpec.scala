package graft.search

import graft.SparkTestBase
import graft.index.{Deletes, IndexBuilder, IndexConfig, IndexReader}
import org.scalatest.funsuite.AnyFunSuite

/** Driver-local serving: results must be bit-identical to the distributed
  * bm25TopK on every path (cold cache, warm cache, forced fallback,
  * tombstones), and the LRU must actually bound memory and count hits.
  */
class LocalServingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val dir: String = {
    import spark.implicits._
    val docs = (0L until 120L).map { i =>
      val extra = if (i % 11 == 0) " mango" else if (i % 7 == 0) " kiwi mango" else ""
      (i, s"alpha beta word$i gamma ${"alpha " * (i % 3).toInt}$extra")
    }
    val d = java.nio.file.Files.createTempDirectory("graft_ls_").toString
    IndexBuilder.build(spark, docs.toDF("docId", "content"), d,
      IndexConfig(tokenizerName = "TokenDelimit", nShards = 4,
        buildPartitions = 4, hotTermDf = 100000L, nSalts = 2))
    d
  }

  private def distributed(reader: IndexReader, q: String, k: Int): Seq[ScoredDoc] =
    Engine.bm25TopK(reader, q, k).collect().toSeq.sorted(Bm25Shard.resultOrdering)

  test("local results are bit-identical to the distributed path") {
    val reader = new IndexReader(spark, dir)
    val ls = new LocalServing(reader)
    for (q <- Seq("alpha", "mango", "kiwi mango", "alpha beta gamma", "word5 alpha")) {
      val loc = ls.bm25TopK(q, 10)
      val dist = distributed(reader, q, 10)
      assert(loc == dist, s"mismatch for <$q>")
    }
    assert(ls.fallbacks == 0)
  }

  test("repeated queries hit the cache (no refetch) with identical results") {
    val reader = new IndexReader(spark, dir)
    val ls = new LocalServing(reader)
    val first = ls.bm25TopK("alpha mango", 5)
    val missAfterFirst = ls.misses
    val second = ls.bm25TopK("alpha mango", 5)
    assert(first == second && first.nonEmpty)
    assert(ls.misses == missAfterFirst, "second query refetched postings")
    assert(ls.hits >= 2)
  }

  test("over-budget terms fall back to the distributed path, same results") {
    val reader = new IndexReader(spark, dir)
    val ls = new LocalServing(reader, maxCachedBytes = 1L) // nothing fits
    val loc = ls.bm25TopK("alpha beta", 10)
    assert(loc == distributed(reader, "alpha beta", 10) && loc.nonEmpty)
    assert(ls.fallbacks >= 1)
  }

  test("LRU evicts under the byte budget but never serves partial data") {
    val reader = new IndexReader(spark, dir)
    // tiny budget: each single-term fetch fits, multi-term sets thrash
    val ls = new LocalServing(reader, maxCachedBytes = 600L)
    for (q <- Seq("alpha", "beta", "gamma", "mango", "alpha", "gamma")) {
      assert(ls.bm25TopK(q, 10) == distributed(reader, q, 10), s"mismatch for <$q>")
    }
  }

  test("unknown terms and empty queries return empty") {
    val reader = new IndexReader(spark, dir)
    val ls = new LocalServing(reader)
    assert(ls.bm25TopK("zzzznotaterm", 10).isEmpty)
    assert(ls.bm25TopK("", 10).isEmpty)
  }

  test("tombstoned docs are excluded, identically to the distributed path") {
    import spark.implicits._
    // fresh index (delete mutates on-disk state)
    val docs = (0L until 40L).map(i => (i, s"pear plum word$i"))
    val d = java.nio.file.Files.createTempDirectory("graft_lsd_").toString
    IndexBuilder.build(spark, docs.toDF("docId", "content"), d,
      IndexConfig(tokenizerName = "TokenDelimit", nShards = 2,
        buildPartitions = 2, hotTermDf = 100000L, nSalts = 1))
    val reader = new IndexReader(spark, d)
    Deletes.delete(reader, org.apache.spark.sql.functions.col("docId").isin(3L, 17L))
    reader.invalidateDeletes()
    val ls = new LocalServing(reader)
    val loc = ls.bm25TopK("pear", 40)
    assert(loc == distributed(reader, "pear", 40))
    assert(!loc.exists(s => s.docId == 3L || s.docId == 17L) && loc.nonEmpty)
  }

  /** 16 shards (docId mod 16), 320 docs. "hot" is in every doc and salted;
    * "rare" is in docs 15, 30, ..., 240, one per shard, and a higher shard
    * holds a lower docId, so shards offer tied docs in descending docId
    * order. Those 16 docs come in two groups of identical scores (w$i is
    * never queried), so the k-th score is tied for every k tested.
    */
  private def sharedThetaIndex(): String = {
    import spark.implicits._
    val docs = (0L until 320L).map { i =>
      val text =
        if (i % 15 == 0 && i > 0 && i <= 240) { if (i % 60 == 15) s"hot rare rare w$i" else "hot rare" }
        else s"hot w$i ${"hot " * (i % 4).toInt}"
      (i, text)
    }
    val d = java.nio.file.Files.createTempDirectory("graft_lst_").toString
    IndexBuilder.build(spark, docs.toDF("docId", "content"), d,
      IndexConfig(tokenizerName = "TokenDelimit", nShards = 16,
        buildPartitions = 4, hotTermDf = 200L, nSalts = 2))
    d
  }

  test("one threshold across shards: local == exhaustive distributed, ties and tombstones") {
    val reader = new IndexReader(spark, sharedThetaIndex())
    // b = 0 makes a block's bound equal to its docs' scores, so on "rare"
    // with k = 10 later shards offer docs whose bound equals θ and whose
    // docId is lower than held ones: pruning on ub <= θ would drop them
    def check(): Unit = {
      val ls = new LocalServing(reader)
      for (bm25 <- Seq(Bm25(), Bm25(b = 0.0));
           q <- Seq("hot rare", "rare hot w60", "rare", "hot"); k <- Seq(1, 3, 10)) {
        val exhaustive = Engine.bm25TopK(reader, q, k, useWand = false, bm25 = bm25)
          .collect().toSeq.sorted(Bm25Shard.resultOrdering)
        assert(ls.bm25TopK(q, k, bm25) == exhaustive, s"mismatch for <$q> k=$k $bm25")
      }
      assert(ls.fallbacks == 0)
    }
    check()
    // tombstone tied rare docs (the smallest ids win ties) and hot-only docs
    Deletes.delete(reader, org.apache.spark.sql.functions.col("docId").isin(15L, 30L, 45L, 2L, 3L))
    reader.invalidateDeletes()
    check()
  }

  test("docsScored: a hot+rare query skips most hot postings") {
    val reader = new IndexReader(spark, sharedThetaIndex())
    val ls = new LocalServing(reader)
    val dfHot = reader.termStats(Seq("hot"))("hot")._1
    assert(dfHot == 320L)
    assert(ls.bm25TopK("hot rare", 3).size == 3)
    assert(ls.docsScored > 0L && ls.docsScored < dfHot / 2,
      s"scored ${ls.docsScored} of df(hot)=$dfHot")
  }

  test("Dataset view is a LocalRelation that composes without a search job") {
    val reader = new IndexReader(spark, dir)
    val ls = new LocalServing(reader)
    val ds = ls.bm25TopKDs("alpha", 10)
    val plan = ds.queryExecution.optimizedPlan.toString
    assert(plan.contains("LocalRelation"), s"expected LocalRelation, got:\n$plan")
    assert(ds.count() == 10)
  }

  test("metrics: one-row snapshot tracks hits/misses/bytes") {
    val reader = new IndexReader(spark, dir)
    val ls = new LocalServing(reader)
    ls.bm25TopK("alpha", 5)
    ls.bm25TopK("alpha", 5)
    val m = ls.metrics(spark).collect().head
    assert(m.schema.fieldNames.toSeq ==
      Seq("hits", "misses", "fallbacks", "cached_bytes", "oversized_terms"))
    assert(m.getLong(0) >= 1L, "second query must register a cache hit")
    assert(m.getLong(1) >= 1L && m.getLong(3) > 0L)
  }
}
