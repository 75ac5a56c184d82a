package graft.search

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** The BM25 kernel's exactness, on random posting lists: block-max WAND and
  * the seeded two-phase walk return exactly the exhaustive top-k — same
  * documents, same order, bit-identical scores — for any lists, doclens,
  * tombstones, k and split into shards.
  */
class WandPropertySpec extends AnyFunSuite {
  import WandPropertySpec.Case

  private val genCase: Gen[Case] = for {
    nDocs <- Gen.choose(1, 250)
    nTerms <- Gen.choose(2, 4)
    postings <- Gen.listOfN(nTerms, for {
      // from rare to almost every document
      frac <- Gen.oneOf(Gen.choose(0.0, 0.05), Gen.choose(0.0, 1.0), Gen.choose(0.9, 1.0))
      docs <- Gen.pick((nDocs * frac).toInt.max(1).min(nDocs), 0 until nDocs)
      tfs <- Gen.listOfN(docs.size, Gen.frequency(9 -> Gen.choose(1, 3), 1 -> Gen.choose(1, 20)))
    } yield docs.toSeq.sorted.map(_.toLong).zip(tfs))
    docLen <- Gen.listOfN(nDocs, Gen.choose(1, 60))
    deleted <- Gen.frequency(2 -> Gen.const(Set.empty[Long]),
      1 -> Gen.someOf(0L until nDocs.toLong).map(_.toSet))
    blockSize <- Gen.oneOf(1, 2, 4, 8, 16, 128)
    extraDf <- Gen.listOfN(nTerms, Gen.frequency(3 -> Gen.const(0L), 1 -> Gen.choose(0L, 300L)))
    nShards <- Gen.frequency(3 -> Gen.const(1), 1 -> Gen.choose(2, 4))
    k <- Gen.choose(1, 5)
  } yield Case(nDocs, postings.map(_.toSeq), docLen.toArray, deleted, blockSize, extraDf, nShards, k)

  private def plan(c: Case): Bm25Plan = {
    val terms = c.postings.indices.map(i => s"t$i")
    val df = terms.zip(c.postings.zip(c.extraDf)).map { case (t, (ps, x)) => t -> (ps.size + x) }.toMap
    val n = c.nDocs.toLong + c.extraDf.max
    Bm25Plan(terms, df, n, c.docLen.sum.toDouble / c.nDocs, Bm25())
  }

  /** Each shard's lists (docId mod nShards), indexed by termIdx. */
  private def shardLists(c: Case): Seq[Array[PostingList]] =
    (0 until c.nShards).map { sh =>
      c.postings.map { ps =>
        val on = ps.filter(_._1 % c.nShards == sh)
        if (on.isEmpty) null
        else PostingList.blocked(on.map(_._1).toArray, on.map(_._2).toArray, c.blockSize)
      }.toArray
    }

  private def topK(c: Case)(walk: (Seq[Array[PostingList]], Bm25Plan, Bm25Shard.TopK) => Unit): Seq[ScoredDoc] = {
    val top = new Bm25Shard.TopK(c.k)
    walk(shardLists(c), plan(c), top)
    top.result
  }

  private def docLen(c: Case): Long => Int = d => c.docLen(d.toInt)

  private def exhaustive(c: Case): Seq[ScoredDoc] = topK(c) { (shards, p, top) =>
    shards.foreach(ls => Bm25Shard.exhaustive(Bm25Shard.cursors(ls, p), docLen(c), p, top, c.deleted))
  }

  private def check(name: String, walk: Case => Seq[ScoredDoc]): Unit = {
    val prop = Prop.forAll(genCase) { c =>
      val want = exhaustive(c)
      val got = walk(c)
      Prop(got == want) :| s"$name: got $got, want $want"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(20000).withInitialSeed(7L), prop)
    assert(res.passed, s"after ${res.succeeded} passing cases: ${res.status}")
  }

  test("block-max WAND ≡ exhaustive (20,000 random cases)") {
    check("wand", c => topK(c) { (shards, p, top) =>
      shards.foreach(ls => Bm25Shard.wand(Bm25Shard.cursors(ls, p), docLen(c), p, top, c.deleted))
    })
  }

  test("seeded WAND ≡ exhaustive (20,000 random cases), phases per shard or phase 1 on all shards first") {
    check("seeded per shard", c => topK(c) { (shards, p, top) =>
      shards.foreach { ls =>
        Bm25Shard.scoreSeed(ls, docLen(c), p, top, c.deleted)
        Bm25Shard.scoreRest(ls, docLen(c), p, top, c.deleted)
      }
    })
    check("phase 1 on all shards first", c => topK(c) { (shards, p, top) =>
      shards.foreach(ls => Bm25Shard.scoreSeed(ls, docLen(c), p, top, c.deleted))
      shards.foreach(ls => Bm25Shard.scoreRest(ls, docLen(c), p, top, c.deleted))
    })
  }
}

object WandPropertySpec {
  /** One generated case: each term's postings over docs 0 until nDocs, the
    * doclens, the tombstones, the block size the lists are cut at, the
    * global dfs the plan is scored under (≥ the lists' own, so the seed is
    * not always the locally rarest term), the shard count and k.
    */
  final case class Case(
      nDocs: Int,
      postings: Seq[Seq[(Long, Int)]],
      docLen: Array[Int],
      deleted: Set[Long],
      blockSize: Int,
      extraDf: Seq[Long],
      nShards: Int,
      k: Int) {
    override def toString: String =
      s"Case(nDocs=$nDocs, dfs=${postings.map(_.size)}, extraDf=$extraDf, blockSize=$blockSize, " +
        s"nShards=$nShards, k=$k, ${deleted.size} deleted)"
  }
}
