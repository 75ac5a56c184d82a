package graft.search

import graft.codec.{PostingCodec, PostingBlock}
import graft.core.Posting
import graft.index.{IndexReader, SegmentRow}
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed k-heap aggregator (north-star requirement): merges per-shard
  * candidate lists into the global top-k, ordering (score desc, docId asc).
  * Rows reaching it are already shard-local top-k, so per-row O(k log k) is
  * negligible next to the scan it aggregates.
  */
final case class TopKBuf(items: Seq[ScoredDoc])

final class TopKAgg(k: Int) extends Aggregator[ScoredDoc, TopKBuf, TopKBuf] {
  private def trim(s: Seq[ScoredDoc]): Seq[ScoredDoc] =
    s.sortWith((a, b) => a.score > b.score || (a.score == b.score && a.docId < b.docId)).take(k)
  def zero: TopKBuf = TopKBuf(Seq.empty)
  def reduce(b: TopKBuf, a: ScoredDoc): TopKBuf = TopKBuf(trim(b.items :+ a))
  def merge(a: TopKBuf, b: TopKBuf): TopKBuf = TopKBuf(trim(a.items ++ b.items))
  def finish(r: TopKBuf): TopKBuf = TopKBuf(trim(r.items))
  def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  def outputEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
}

/** Shared posting-block decode memo: repeated walks over the same blocks
  * (many queries of one batch within a shard task, or a serving node's
  * repeated hot-term queries) reuse the first decode — the decode is the
  * bandwidth-bound part of a hot-term walk. Identity-keyed on the
  * in-memory block rows. Memory is BOUNDED: once `budgetPostings` decoded
  * postings are retained (default 512k ≈ tens of MB), further blocks
  * decode transiently like the uncached path — hot blocks are touched
  * first, so the budget keeps exactly the re-decode-prone ones.
  * Thread-safe: map access is synchronized, the decode itself runs outside
  * the lock (two threads racing on a cold block decode twice; the first
  * insert wins).
  */
final class DecodeCache(budgetPostings: Long = 512 * 1024L) {
  private val m = new java.util.IdentityHashMap[PostingBlock, Array[Posting]]()
  private var retained = 0L
  def get(b: PostingBlock): Array[Posting] = {
    var v = synchronized { m.get(b) }
    if (v == null) {
      v = PostingCodec.decodeBlock(b, wantPositions = false)
      synchronized {
        val prev = m.get(b)
        if (prev != null) v = prev
        else if (retained + v.length <= budgetPostings) {
          m.put(b, v)
          retained += v.length
        }
      }
    }
    v
  }
}

/** A per-term posting cursor over one shard with block-level skipping —
  * blocks decode lazily; firstDoc/lastDoc/maxTf headers drive both skips and
  * block-max score bounds (the chunk/dgap role of reference lib/ii.c:2659,
  * cursor chunk-skipping lib/ii.c:4182-4212). Scoring reads only docIds
  * and tf, so blocks decode without their positions.
  *
  * @param termIdx stable index of this term in the query — doc scores are
  *                summed in termIdx order in every execution path so WAND and
  *                exhaustive produce bit-identical floats (rank-identity)
  */
final class TermCursor(
    val blocks: Array[PostingBlock],
    val termIdx: Int,
    val idfWeight: Double,
    bm25: Bm25,
    cache: DecodeCache = null
) {
  private var blockIdx = 0
  // postings of blocks(blockIdx), decoded on first need: on a block's first
  // posting the docId is the header's firstDoc, so pivot selection, a
  // whole-shard skip and an advanceTo landing on a block start decode nothing
  private var decoded: Array[Posting] = _
  private var inBlock = 0
  // suffix max of block maxTf → O(1) remaining-upper-bound
  private val suffixMaxTf: Array[Int] = {
    val a = new Array[Int](blocks.length)
    var m = 0
    var i = blocks.length - 1
    while (i >= 0) { m = math.max(m, blocks(i).maxTf); a(i) = m; i -= 1 }
    a
  }

  private def block: Array[Posting] = {
    if (decoded == null)
      decoded =
        if (cache == null) PostingCodec.decodeBlock(blocks(blockIdx), wantPositions = false)
        else cache.get(blocks(blockIdx))
    decoded
  }

  private def enterBlock(i: Int): Unit = { blockIdx = i; decoded = null; inBlock = 0 }

  def exhausted: Boolean = blockIdx >= blocks.length
  def curDoc: Long = if (inBlock == 0) blocks(blockIdx).firstDoc else block(inBlock).docId
  def curTf: Int = block(inBlock).tf

  /** Max possible contribution from the current position onward. */
  def remainingUb: Double =
    if (exhausted) 0.0 else idfWeight * bm25.tfNormUb(suffixMaxTf(blockIdx))

  /** Tighter bound using only the current block (block-max WAND check). */
  def curBlockUb: Double =
    if (exhausted) 0.0 else idfWeight * bm25.tfNormUb(blocks(blockIdx).maxTf)

  def next(): Unit = {
    inBlock += 1
    if (inBlock >= blocks(blockIdx).n) enterBlock(blockIdx + 1)
  }

  def advanceTo(target: Long): Unit = {
    if (exhausted || curDoc >= target) return
    if (blocks(blockIdx).lastDoc < target) {
      // skip whole blocks on lastDoc headers — no decode
      var i = blockIdx
      while (i < blocks.length && blocks(i).lastDoc < target) i += 1
      enterBlock(i)
      if (exhausted || blocks(i).firstDoc >= target) return
    }
    val d = block
    var a = inBlock
    var b = d.length
    while (a < b) { val m = (a + b) >>> 1; if (d(m).docId < target) a = m + 1 else b = m }
    inBlock = a // guaranteed < length because lastDoc >= target
  }
}

object TermCursor {
  /** Merge a term's (possibly salted) segment rows into one rid-ascending
    * block list. Salted (hot) sub-lists interleave docIds, so they are
    * merged and re-blocked — block skip metadata stays exact. Hoist this per
    * (shard, term) when serving a query batch — the decode+sort+re-encode
    * of a hot term is paid once, not per query. Cursors never read
    * positions, so the merge drops them.
    */
  def mergedBlocks(rows: Seq[SegmentRow]): Array[PostingBlock] =
    if (rows.size == 1) rows.head.blocks.map(_.toBlock).toArray
    else PostingCodec.encode(Searcher.mergeSalts(rows, false).iterator, false)._1.toArray
}

/** One query's BM25 set-up, shared by the distributed, batch and local
  * paths: distinct terms in query order, their df, and the N and avgdl they
  * are scored under. termIdx = position in `terms`, so every path sums a
  * doc's contributions in one order and the floats are bit-identical.
  */
final case class Bm25Plan(
    terms: Seq[String], df: Map[String, Long], numDocs: Long, avgdl: Double, bm25: Bm25) {
  val termIdx: Map[String, Int] = terms.zipWithIndex.toMap
  val idf: Map[String, Double] = terms.map(t => t -> bm25.idf(numDocs, df(t))).toMap

  /** A cursor over one shard's (merged) blocks of `term`. */
  def cursor(term: String, blocks: Array[PostingBlock], cache: DecodeCache = null): TermCursor =
    new TermCursor(blocks, termIdx(term), idf(term), bm25, cache)
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
      cursors: Seq[TermCursor],
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
      cursors0: Seq[TermCursor],
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
