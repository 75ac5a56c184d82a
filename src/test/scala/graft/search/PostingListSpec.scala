package graft.search

import graft.codec.PostingCodec
import graft.core.Posting
import graft.index.{BlockRow, SegmentRow}
import org.scalatest.funsuite.AnyFunSuite

/** The decoded posting list every BM25 walk runs over: built from a term's
  * (salted) segment rows, it must hold the postings the positional readers'
  * salt merge sees and the blocks the encoder writes for the merged list, so
  * WAND's block bounds, and its pruning, stay those of the stored index.
  */
class PostingListSpec extends AnyFunSuite {

  /** `nSalts` rows of one (shard, term): random disjoint docIds and tfs, each
    * doc in one salt, encoded with positions (which the list must skip).
    */
  private def rows(nSalts: Int, nDocs: Int, seed: Int): Seq[SegmentRow] = {
    val rnd = new scala.util.Random(seed)
    val docs = Iterator.continually(rnd.nextInt(50 * nDocs).toLong).distinct.take(nDocs).toVector.sorted
    val postings = docs.map { d =>
      val tf = 1 + (if (rnd.nextInt(10) == 0) rnd.nextInt(40) else rnd.nextInt(3))
      Posting(d, tf, Array.tabulate(tf)(i => 3 * i + 1))
    }
    postings.groupBy(_ => rnd.nextInt(nSalts)).toSeq.sortBy(_._1).map { case (salt, ps) =>
      val (blocks, df, cf) = PostingCodec.encode(ps.iterator, withPositions = true)
      SegmentRow(0, "t", salt, df, cf,
        blocks.map(b => BlockRow(b.firstDoc, b.lastDoc, b.n, b.maxTf, b.data)))
    }
  }

  test("from 1, 2 and 8 salts: mergeSalts' postings, in the blocks encode writes for them") {
    for (nSalts <- Seq(1, 2, 8); nDocs <- Seq(1, 100, 1000, 3000); seed <- 1 to 3) {
      val rs = rows(nSalts, nDocs, seed)
      val list = PostingList.of(rs)
      val merged = Searcher.mergeSalts(rs, false)
      val what = s"$nSalts salts, $nDocs docs, seed $seed"
      assert(list.docIds.toSeq == merged.map(_.docId).toSeq, what)
      assert(list.tfs.toSeq == merged.map(_.tf).toSeq, what)
      val want = PostingCodec.encode(merged.iterator, withPositions = false)._1
        .map(b => (b.firstDoc, b.lastDoc, b.n, b.maxTf))
      val got = (0 until list.numBlocks).map { b =>
        (list.docIds(list.blockStart(b)), list.blockLast(b), list.blockEnd(b) - list.blockStart(b),
          list.blockMaxTf(b))
      }
      assert(got == want, what)
      assert(list.bytes == PostingList.BytesPerPosting * nDocs + PostingList.BytesPerBlock * want.size)
    }
  }

  test("a cursor visits every posting in order and advanceTo lands on the first docId >= target") {
    val list = PostingList.of(rows(4, 2000, 7))
    val ids = list.docIds
    val c = new TermCursor(list, 0, 1.0, Bm25())
    val seen = Vector.newBuilder[(Long, Int)]
    while (!c.exhausted) { seen += ((c.curDoc, c.curTf)); c.next() }
    assert(seen.result() == ids.toSeq.zip(list.tfs.toSeq))

    val rnd = new scala.util.Random(11)
    val cur = new TermCursor(list, 0, 1.0, Bm25())
    var target = 0L
    while (!cur.exhausted) {
      target += rnd.nextInt(600)
      cur.advanceTo(target)
      val want = ids.find(_ >= target)
      assert((if (cur.exhausted) None else Some(cur.curDoc)) == want, s"target $target")
      // the bound covers the rest of the list
      if (!cur.exhausted)
        assert(cur.remainingUb >= cur.curBlockUb && cur.curBlockUb >= Bm25().tfNormUb(cur.curTf))
    }
    // a target equal to a block's last docId stays in that block
    val atLast = new TermCursor(list, 0, 1.0, Bm25())
    (0 until list.numBlocks).foreach { b =>
      atLast.advanceTo(list.blockLast(b))
      assert(!atLast.exhausted && atLast.curDoc == list.blockLast(b), s"block $b")
    }
  }
}
