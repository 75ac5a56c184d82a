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
    blocked(ids, tfs)
  }

  /** The list of docId-ascending `ids` and their `tfs`, cut into blocks of
    * `blockSize` — at [[PostingCodec.BlockSize]], the blocks
    * [[PostingCodec.encode]] writes.
    */
  private[search] def blocked(ids: Array[Long], tfs: Array[Int],
      blockSize: Int = PostingCodec.BlockSize): PostingList = {
    val n = ids.length
    val nb = (n + blockSize - 1) / blockSize
    val end = Array.tabulate(nb)(b => math.min(n, (b + 1) * blockSize))
    val maxTf = Array.tabulate(nb) { b =>
      var m = 0
      var i = b * blockSize
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

  /** termIdx of the seed term of [[Bm25Shard.scoreSeed]]: the smallest df
    * among the terms with postings (the lowest termIdx on a tie), or −1 when
    * fewer than two terms have postings — a single-term query has no
    * threshold to raise before its own walk.
    */
  val seed: Int = {
    val withPostings = terms.indices.filter(t => df(terms(t)) > 0)
    if (withPostings.size < 2) -1 else withPostings.minBy(t => df(terms(t)))
  }

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
  * rank-identity oracle) and document-at-a-time block-max WAND (Ding & Suel,
  * SIGIR 2011), run in two phases (the scale path). Every path scores into a
  * [[Bm25Shard.TopK]] the caller owns and sums per-doc contributions in
  * termIdx order so floats are bit-identical; WAND prunes only when the
  * upper bound is strictly below the current threshold, preserving score
  * ties.
  *
  * The two phases seed WAND's threshold with exact scores (an exact initial
  * threshold, Kane & Tompa, SIGIR 2018). Phase 1 ([[scoreSeed]]) offers
  * every live document of the query's rarest term with its full score;
  * phase 2 ([[scoreRest]]) runs WAND over the other terms only and skips the
  * seed's documents as it skips tombstones. That is exact: a document with
  * the seed term was offered once with every term's contribution, and any
  * other document scores from the other terms alone, which WAND covers. On a
  * hot+rare query θ is already the k-th rare-document score when the hot
  * list's walk starts, so the hot postings are skipped rather than scored
  * (measured: see [[LocalServing]]).
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

  /** Cursors over one shard's lists (indexed by termIdx, null where the
    * shard holds none of that term), in termIdx order, leaving out `except`.
    */
  def cursors(lists: Array[PostingList], plan: Bm25Plan, except: Int = -1): Array[TermCursor] = {
    val b = Array.newBuilder[TermCursor]
    var t = 0
    while (t < lists.length) {
      if (t != except && lists(t) != null) b += plan.cursor(t, lists(t))
      t += 1
    }
    b.result()
  }

  /** Phase 1: offer every live document of the seed term ([[Bm25Plan.seed]])
    * on this shard with its exact score. The other terms' tfs come from their
    * cursors' `advanceTo` (the seed's docIds ascend), summed in termIdx order
    * as WAND's evaluate step sums them. No-op without a seed on the shard.
    * `lists` holds the shard's list of each term by termIdx, null where the
    * shard holds none. A walk over many shards into one `top` runs this on
    * every shard before [[scoreRest]] on any, so phase 2 starts at the θ of
    * all the seed's documents.
    */
  def scoreSeed(
      lists: Array[PostingList],
      docLen: Long => Int,
      plan: Bm25Plan,
      top: TopK,
      deleted: Long => Boolean
  ): Unit = {
    if (plan.seed < 0 || lists(plan.seed) == null) return
    val cs = cursors(lists, plan)
    val seed = cs.find(_.termIdx == plan.seed).get
    while (!seed.exhausted) {
      val d = seed.curDoc
      if (!deleted(d)) {
        val dl = docLen(d)
        var score = 0.0
        var j = 0
        while (j < cs.length) {
          val c = cs(j)
          c.advanceTo(d) // a no-op on the seed's own cursor
          if (!c.exhausted && c.curDoc == d) score += c.idfWeight * plan.bm25.tfNorm(c.curTf, dl, plan.avgdl)
          j += 1
        }
        top.offer(ScoredDoc(d, score))
      }
      seed.next()
    }
  }

  /** Phase 2: block-max WAND over this shard's lists other than the seed's,
    * skipping the seed's documents, which [[scoreSeed]] offered. Without a
    * seed (a single-term query) it is plain [[wand]] over every list.
    */
  def scoreRest(
      lists: Array[PostingList],
      docLen: Long => Int,
      plan: Bm25Plan,
      top: TopK,
      deleted: Long => Boolean
  ): Unit = {
    val offered = if (plan.seed < 0 || lists(plan.seed) == null) null else lists(plan.seed).docIds
    wand(cursors(lists, plan, except = plan.seed), docLen, plan, top, deleted, offered)
  }

  /** Block-max WAND over one shard's cursors, scoring into `top`. A cursor
    * whose bound is below θ — a hot term once k docs matching a rarer term
    * are held — is skipped with `advanceTo` instead of scored. Tombstones
    * (`deleted`) and the ascending docIds in `offered` (documents an earlier
    * phase offered; null for none) are skipped on one branch, so `deleted`
    * stays the caller's one predicate.
    */
  def wand(
      cursors0: scala.collection.Seq[TermCursor],
      docLen: Long => Int,
      plan: Bm25Plan,
      top: TopK,
      deleted: Long => Boolean = _ => false,
      offered: Array[Long] = null
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
        // every cursor on pivotDoc — past the pivot too — adds to its score,
        // so all of them bound it
        var nMatch = 0
        var cbUb = 0.0
        while (nMatch < live.length && live(nMatch).curDoc == pivotDoc) {
          cbUb += live(nMatch).curBlockUb
          nMatch += 1
        }
        if (cbUb >= threshold && !deleted(pivotDoc) &&
            (offered == null || java.util.Arrays.binarySearch(offered, pivotDoc) < 0)) {
          // evaluate: gather contributions, sum in termIdx order
          java.util.Arrays.fill(matched, false)
          var j = 0
          while (j < nMatch) {
            val c = live(j)
            contrib(c.termIdx) = c.idfWeight * plan.bm25.tfNorm(c.curTf, docLen(pivotDoc), plan.avgdl)
            matched(c.termIdx) = true
            j += 1
          }
          var score = 0.0
          var t = 0
          while (t < contrib.length) { if (matched(t)) score += contrib(t); t += 1 }
          top.offer(ScoredDoc(pivotDoc, score))
        }
        var j = 0
        while (j < nMatch) { live(j).next(); j += 1 }
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
