package graft.search

import graft.codec.PostingCodec
import graft.index.{IndexReader, SegmentRow}

/** One term's postings on one shard, decoded once for scoring: docIds and
  * tfs in primitive arrays (no positions, no [[graft.core.Posting]] per
  * entry), cut into the blocks whose headers bound WAND's scores. A
  * single-salt term keeps its stored blocks; a salted (hot) term's sub-lists
  * are merged by docId and re-blocked at [[PostingCodec.BlockSize]], the
  * blocks [[PostingCodec.encode]] would write for the merged list — so block
  * bounds, and WAND's pruning, are those of the stored index. Immutable once
  * built: any number of cursors, on any threads, walk one list.
  *
  * @param blockEnd   exclusive end index of each block in docIds/tfs
  * @param blockLast  last docId of each block (the skip key)
  * @param blockMaxTf largest tf of each block (the block-max bound)
  */
final class PostingList private (
    val docIds: Array[Long],
    val tfs: Array[Int],
    val blockEnd: Array[Int],
    val blockLast: Array[Long],
    val blockMaxTf: Array[Int]
) {
  /** Max of blockMaxTf over blocks i.. — a cursor's remaining bound in O(1). */
  val suffixMaxTf: Array[Int] = {
    val a = new Array[Int](blockMaxTf.length)
    var m = 0
    var i = a.length - 1
    while (i >= 0) { m = math.max(m, blockMaxTf(i)); a(i) = m; i -= 1 }
    a
  }

  def size: Int = docIds.length
  def numBlocks: Int = blockEnd.length
  def blockStart(i: Int): Int = if (i == 0) 0 else blockEnd(i - 1)

  /** Bytes of the arrays, the figure a cache budget charges for this list. */
  def bytes: Long = PostingList.BytesPerPosting * size + PostingList.BytesPerBlock * numBlocks
}

object PostingList {
  /** docId (8) + tf (4). */
  val BytesPerPosting = 12L

  /** blockEnd (4) + blockLast (8) + blockMaxTf (4) + suffixMaxTf (4). */
  val BytesPerBlock = 20L

  /** The list of one (shard, term) from its segment rows, one per salt. */
  def of(rows: Seq[SegmentRow]): PostingList =
    if (rows.size == 1) stored(rows.head) else merged(rows)

  private def decodeRow(r: SegmentRow): (Array[Long], Array[Int]) = {
    val n = r.blocks.iterator.map(_.n).sum
    val ids = new Array[Long](n)
    val tfs = new Array[Int](n)
    var off = 0
    r.blocks.foreach(b => off += PostingCodec.decodeDocTfs(b.data, b.firstDoc, ids, tfs, off))
    (ids, tfs)
  }

  private def stored(r: SegmentRow): PostingList = {
    val (ids, tfs) = decodeRow(r)
    val bs = r.blocks.toArray
    new PostingList(ids, tfs, bs.map(_.n).scanLeft(0)(_ + _).tail, bs.map(_.lastDoc), bs.map(_.maxTf))
  }

  // k-way merge of the salts' docId-ascending runs (equal docIds keep row
  // order, as Searcher.mergeSalts's stable sort does), then fixed-size blocks
  private def merged(rows: Seq[SegmentRow]): PostingList = {
    val runs = rows.map(decodeRow).toArray
    val runIds = runs.map(_._1)
    val runTfs = runs.map(_._2)
    val at = new Array[Int](runs.length)
    val n = runIds.map(_.length).sum
    val ids = new Array[Long](n)
    val tfs = new Array[Int](n)
    var o = 0
    while (o < n) {
      var best = -1
      var r = 0
      while (r < runIds.length) {
        if (at(r) < runIds(r).length && (best < 0 || runIds(r)(at(r)) < runIds(best)(at(best)))) best = r
        r += 1
      }
      ids(o) = runIds(best)(at(best))
      tfs(o) = runTfs(best)(at(best))
      at(best) += 1
      o += 1
    }
    val nb = (n + PostingCodec.BlockSize - 1) / PostingCodec.BlockSize
    val end = Array.tabulate(nb)(b => math.min(n, (b + 1) * PostingCodec.BlockSize))
    val maxTf = Array.tabulate(nb) { b =>
      var m = 0
      var i = b * PostingCodec.BlockSize
      while (i < end(b)) { m = math.max(m, tfs(i)); i += 1 }
      m
    }
    new PostingList(ids, tfs, end, end.map(e => ids(e - 1)), maxTf)
  }
}

/** A per-term posting cursor over one shard's [[PostingList]] with
  * block-level skipping: lastDoc headers drive skips and maxTf headers the
  * block-max score bounds (the chunk/dgap role of reference lib/ii.c:2659,
  * cursor chunk-skipping lib/ii.c:4182-4212). The list is decoded already,
  * so the walk reads array slots and allocates nothing.
  *
  * @param termIdx stable index of this term in the query — doc scores are
  *                summed in termIdx order in every execution path so WAND and
  *                exhaustive produce bit-identical floats (rank-identity)
  */
final class TermCursor(
    list: PostingList,
    val termIdx: Int,
    val idfWeight: Double,
    bm25: Bm25
) {
  private val docIds = list.docIds
  private var i = 0 // current posting
  private var blockIdx = 0 // the block holding posting i

  def exhausted: Boolean = i >= docIds.length
  def curDoc: Long = docIds(i)
  def curTf: Int = list.tfs(i)

  /** Max possible contribution from the current position onward. */
  def remainingUb: Double =
    if (exhausted) 0.0 else idfWeight * bm25.tfNormUb(list.suffixMaxTf(blockIdx))

  /** Tighter bound using only the current block (block-max WAND check). */
  def curBlockUb: Double =
    if (exhausted) 0.0 else idfWeight * bm25.tfNormUb(list.blockMaxTf(blockIdx))

  def next(): Unit = {
    i += 1
    if (i >= list.blockEnd(blockIdx)) blockIdx += 1
  }

  def advanceTo(target: Long): Unit = {
    if (exhausted || docIds(i) >= target) return
    var a = i
    if (list.blockLast(blockIdx) < target) {
      // skip whole blocks on lastDoc headers
      var b = blockIdx
      while (b < list.numBlocks && list.blockLast(b) < target) b += 1
      blockIdx = b
      if (b == list.numBlocks) { i = docIds.length; return }
      a = list.blockStart(b)
    }
    var z = list.blockEnd(blockIdx)
    while (a < z) { val m = (a + z) >>> 1; if (docIds(m) < target) a = m + 1 else z = m }
    i = a // < blockEnd because the block's lastDoc >= target
  }
}

/** One query's BM25 set-up, shared by the distributed, batch and local
  * paths: distinct terms in query order, their df, and the N and avgdl they
  * are scored under. termIdx = position in `terms`, so every path sums a
  * doc's contributions in one order and the floats are bit-identical.
  */
final case class Bm25Plan(
    terms: Seq[String], df: Map[String, Long], numDocs: Long, avgdl: Double, bm25: Bm25) {
  private val idf: Array[Double] = terms.map(t => bm25.idf(numDocs, df(t))).toArray

  /** A cursor over one shard's list of `terms(termIdx)`. */
  def cursor(termIdx: Int, list: PostingList): TermCursor =
    new TermCursor(list, termIdx, idf(termIdx), bm25)
}

object Bm25Plan {
  /** Plan for the query `text`; no terms when it has no tokens. */
  def forQuery(reader: IndexReader, text: String, bm25: Bm25,
      corpusStats: Option[CorpusStats] = None): Bm25Plan =
    forTerms(reader, Searcher.queryTokens(reader, text).map(_.term).distinct, bm25, corpusStats)

  /** Plan for distinct `terms` in query order: df, N and avgdl from the
    * reader's own lexicon and manifest, or corpus-wide from `corpusStats`.
    */
  def forTerms(reader: IndexReader, terms: Seq[String], bm25: Bm25,
      corpusStats: Option[CorpusStats] = None): Bm25Plan = {
    val (n, avgdl, dfOf) = corpusStats match {
      case Some(cs) => (cs.numDocs, cs.avgDoclen, cs.df)
      case None =>
        (reader.manifest.numDocs, reader.manifest.avgDoclen,
          reader.termStats(terms).map { case (t, (df, _)) => t -> df })
    }
    Bm25Plan(terms, terms.map(t => t -> dfOf.getOrElse(t, 0L)).toMap, n, avgdl, bm25)
  }
}

/** Disjunctive top-k BM25 over one shard: exhaustive term-at-a-time (the
  * rank-identity oracle) and document-at-a-time block-max WAND (the scale
  * path). Both score into a [[Bm25Shard.TopK]] the caller owns and sum
  * per-doc contributions in termIdx order so floats are bit-identical; WAND
  * prunes only when the upper bound is strictly below the current
  * threshold, preserving score ties.
  */
object Bm25Shard {

  /** THE result ordering — (score desc, docId asc) — shared by every path
    * (WAND, exhaustive, the local serving sort, specs) so a tie-break edit
    * cannot silently diverge one of them.
    */
  val resultOrdering: Ordering[ScoredDoc] = new Ordering[ScoredDoc] {
    def compare(a: ScoredDoc, b: ScoredDoc): Int = {
      val c = java.lang.Double.compare(b.score, a.score)
      if (c != 0) c else java.lang.Long.compare(a.docId, b.docId)
    }
  }

  /** One query's top-k state: the k best documents offered so far and θ,
    * the k-th best score once k are held (−∞ before). θ comes only from
    * held documents, so pruning on it never drops one of the final answer.
    * Shared by every shard a query walks, θ carries across shards as over
    * Groonga's single docid space. Not thread-safe: one query, one thread.
    */
  final class TopK(k: Int) {
    // head = max under resultOrdering = the weakest held doc, next to evict
    private val heap = new scala.collection.mutable.PriorityQueue[ScoredDoc]()(resultOrdering)
    private var theta = Double.NegativeInfinity
    private var nScored = 0L

    def threshold: Double = theta

    /** Documents offered so far — the ones the kernel evaluated. */
    def scored: Long = nScored

    def offer(s: ScoredDoc): Unit = {
      nScored += 1
      if (heap.size < k) heap.enqueue(s)
      else if (k > 0 && resultOrdering.lt(s, heap.head)) { heap.dequeue(); heap.enqueue(s) }
      if (k > 0 && heap.size == k) theta = heap.head.score
    }

    /** The held documents in (score desc, docId asc) order. */
    def result: Seq[ScoredDoc] = heap.toSeq.sorted(resultOrdering)
  }

  def exhaustive(
      cursors: scala.collection.Seq[TermCursor],
      docLen: Long => Int,
      plan: Bm25Plan,
      top: TopK,
      deleted: Long => Boolean = _ => false
  ): Unit = {
    // accumulate in termIdx order (cursors arrive sorted by termIdx)
    val acc = new java.util.HashMap[Long, java.lang.Double]()
    cursors.sortBy(_.termIdx).foreach { c =>
      while (!c.exhausted) {
        val d = c.curDoc
        if (!deleted(d)) {
          val s = c.idfWeight * plan.bm25.tfNorm(c.curTf, docLen(d), plan.avgdl)
          val prev = acc.get(d)
          acc.put(d, if (prev == null) s else prev + s)
        }
        c.next()
      }
    }
    val it = acc.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); top.offer(ScoredDoc(e.getKey, e.getValue)) }
  }

  /** Block-max WAND over one shard's cursors, scoring into `top`. With a
    * `top` shared across shards, a shard starts at the θ the shards before
    * it reached, so a cursor whose bound is below θ — a hot term once k
    * docs matching a rarer term are held — is skipped with `advanceTo`
    * instead of scored (measured gain: see [[LocalServing]]).
    */
  def wand(
      cursors0: scala.collection.Seq[TermCursor],
      docLen: Long => Int,
      plan: Bm25Plan,
      top: TopK,
      deleted: Long => Boolean = _ => false
  ): Unit = {
    var live: Array[TermCursor] = cursors0.filterNot(_.exhausted).toArray
    // indexed by global termIdx — a shard may hold only a subset of the
    // query's terms, so size by the max index, not the cursor count
    val maxTermIdx = if (cursors0.isEmpty) 0 else cursors0.map(_.termIdx).max + 1
    val contrib = new Array[Double](maxTermIdx)
    val matched = new Array[Boolean](maxTermIdx)

    while (live.nonEmpty) {
      java.util.Arrays.sort(live, byCurDoc)
      // θ is −∞ until the heap holds k, so every doc is a pivot until then
      val threshold = top.threshold
      var ubSum = 0.0
      var pivot = -1
      var i = 0
      while (pivot < 0 && i < live.length) {
        ubSum += live(i).remainingUb
        if (ubSum >= threshold) pivot = i
        i += 1
      }
      if (pivot < 0) return
      val pivotDoc = live(pivot).curDoc
      if (live(0).curDoc == pivotDoc) {
        var cbUb = 0.0
        var j = 0
        while (j <= pivot) { cbUb += live(j).curBlockUb; j += 1 }
        if (deleted(pivotDoc)) {
          var j2 = 0
          while (j2 < live.length && live(j2).curDoc == pivotDoc) { live(j2).next(); j2 += 1 }
        } else if (cbUb >= threshold) {
          // evaluate: gather contributions, sum in termIdx order
          java.util.Arrays.fill(matched, false)
          j = 0
          var nMatch = 0
          while (j < live.length && live(j).curDoc == pivotDoc) {
            val c = live(j)
            contrib(c.termIdx) = c.idfWeight * plan.bm25.tfNorm(c.curTf, docLen(pivotDoc), plan.avgdl)
            matched(c.termIdx) = true
            nMatch = j + 1
            j += 1
          }
          var score = 0.0
          var t = 0
          while (t < contrib.length) { if (matched(t)) score += contrib(t); t += 1 }
          top.offer(ScoredDoc(pivotDoc, score))
          j = 0
          while (j < nMatch) { live(j).next(); j += 1 }
        } else {
          var j2 = 0
          while (j2 < live.length && live(j2).curDoc == pivotDoc) { live(j2).next(); j2 += 1 }
        }
        live = dropExhausted(live)
      } else {
        live(0).advanceTo(pivotDoc)
        live = dropExhausted(live)
      }
    }
  }

  private val byCurDoc: java.util.Comparator[TermCursor] =
    (a, b) => java.lang.Long.compare(a.curDoc, b.curDoc)

  private def dropExhausted(live: Array[TermCursor]): Array[TermCursor] =
    if (live.exists(_.exhausted)) live.filterNot(_.exhausted) else live
}
