package graft.search

import graft.codec.Norms
import graft.index.{IndexReader, SegmentRow}
import org.apache.spark.sql.Dataset

/** Driver-local BM25 serving over a warmed reader — the Spark-free analogue
  * of the reference's select path on an always-mmap'd index (postings walk
  * lib/ii.c:4182-4212 + top-k): a query touches ONLY its terms' posting
  * lists, cached in a byte-bounded LRU, and runs the same block-max WAND
  * kernel the distributed path runs, entirely on the calling thread. No job
  * submission, no shuffle — latency is the postings walk itself (~µs-ms),
  * not Spark scheduling (~100 ms+).
  *
  * Scale honesty (100 TB): this is one serving node's loop, not a driver
  * funnel. Cost and memory are ∝ the query terms' postings (bounded by the
  * LRU budget), never ∝ the index. A term whose estimated postings exceed
  * the budget falls back to the distributed [[Engine.bm25TopK]] — correct
  * on any input, fast on the serving working set. At web scale the corpus
  * is split across serving nodes, each running exactly this loop over its
  * own index; the Spark path remains for batch analytics.
  *
  * Rank identity: the cursors, WAND kernel, and (score desc, docId asc)
  * ordering are the SAME code objects as the distributed path, so results
  * are bit-identical (LocalServingSpec pins equality, fallback included).
  *
  * One walk per query over one docId space: as Groonga keeps one posting
  * list per term over its table's record ids, each cached term is one list
  * over every shard and every document's length is in one lookup. Shards
  * are the distributed path's unit of parallelism and play no part here, so
  * a query runs the two phases of [[Bm25Shard]] once, into one
  * [[Bm25Shard.TopK]]. Phase 1 ([[Bm25Shard.scoreSeed]]) offers each live
  * document of the query's rarest term with its exact score; phase 2
  * ([[Bm25Shard.scoreRest]]) then walks the other terms with block-max WAND,
  * skipping the documents phase 1 offered. Exact: a document holding the
  * seed term was offered once with its full score, and every other document
  * scores from the other terms alone, which phase 2 covers as WAND always
  * does. On a hot+rare query θ is the k-th rare-document score before any
  * hot posting is read, so the hot lists are skipped rather than scored. On
  * perfbench `serve_local` (seed 7001, k = 10) the seed phase took
  * `return oscfv` from 4,220 documents scored to 34; over 10 paired seeds on
  * a 4-core host, queries/s closed loop went from 10.9k to 24.8k and
  * open-loop p50 from 0.495 to 0.352 ms (medians). Walking one list per
  * term instead of one per shard (64 there) went, over 10 paired seeds
  * (3101-3110, same host), from 43.1k to 47.9k queries/s (7 of 10 pairs)
  * and from 0.183 to 0.154 ms p50 (8 of 10), medians — short of the 9 in
  * 10 wins a gain needs; and the documents a query scores no longer depend
  * on how the index is sharded (LocalServingLayoutSpec).
  *
  * The cache holds decoded lists: per term, one [[PostingList]], decoded
  * and merged across shards and salts once at fetch. A warm query decodes
  * nothing and allocates no posting; its cursors walk primitive arrays.
  * Against caching the encoded blocks and decoding them on every query,
  * perfbench `serve_local` (16k files, 64 shards, 4-core host, 10 paired
  * seeds, one cached list per shard then) went from 29.7k to 45.4k
  * queries/s closed loop and from 0.134 to 0.103 ms open-loop p50
  * (medians); the cache holds about twice the bytes.
  *
  * A LocalServing instance is bound to one reader snapshot — rebuild or
  * compaction means a new reader and a new instance (same epoch discipline
  * as the select result cache).
  *
  * @param maxCachedBytes LRU budget over decoded postings, each list charged
  *                       [[PostingList.bytes]]: 12 bytes per posting plus
  *                       20 per block (default 256 MiB)
  */
final class LocalServing(
    val reader: IndexReader,
    maxCachedBytes: Long = 256L << 20
) {
  require(maxCachedBytes > 0, "maxCachedBytes must be positive")

  // the list of a term with no postings
  private val noPostings = PostingList.of(Nil)

  private val cache = new java.util.LinkedHashMap[String, PostingList](64, 0.75f, true)
  private var cachedBytes = 0L
  private val hitCount = new java.util.concurrent.atomic.AtomicLong
  private val missCount = new java.util.concurrent.atomic.AtomicLong
  private val fallbackCount = new java.util.concurrent.atomic.AtomicLong
  private val docsScoredCount = new java.util.concurrent.atomic.AtomicLong
  // terms whose decoded bytes exceed the whole budget (the df-based
  // pre-estimate undershoots lists cut into many short blocks): never
  // cached — caching one would wipe every warm entry and still end in a
  // fallback — and remembered so later queries skip straight to the
  // distributed path instead of refetching
  private val oversized = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def hits: Long = hitCount.get
  def misses: Long = missCount.get
  def fallbacks: Long = fallbackCount.get

  /** Documents the WAND kernel evaluated locally (fallbacks not counted). */
  def docsScored: Long = docsScoredCount.get

  /** Decoded postings bytes currently cached (LRU occupancy). */
  def cachedBytesNow: Long = synchronized { cachedBytes }

  /** Terms permanently routed to the distributed path (postings > budget). */
  def oversizedTerms: Int = oversized.size

  /** Bytes per posting for the pre-fetch budget check: a decoded list's
    * [[PostingList.bytes]], with its per-block arrays (20 bytes per 128
    * postings) rounded up to one byte per posting.
    */
  private val estBytesPerPosting = PostingList.BytesPerPosting + 1

  /** Every document's length, decoded from the per-shard blobs and merged
    * by docId once, on first use — decoding the varint blobs per query
    * would dominate the postings walk. Twelve bytes per doc (docId and
    * length), held once per serving process.
    */
  private lazy val norms: Norms.Lookup = {
    val (ids, lens) = PostingList.mergeRuns(reader.normsBroadcast.value.values.toSeq
      .map { blob => val l = Norms.decode(blob); (l.docIds, l.lens) })
    new Norms.Lookup(ids, lens)
  }

  private def evictTo(budget: Long): Unit = {
    val it = cache.entrySet().iterator()
    while (cachedBytes > budget && it.hasNext) {
      val e = it.next()
      cachedBytes -= e.getValue.bytes
      it.remove()
    }
  }

  /** Fetch-and-cache postings for `terms` (one term-pruned job for all
    * misses together — run OUTSIDE the lock, so concurrent cache-hit
    * queries never stall behind a cold term's Spark fetch). Returns None
    * when the terms can't be served within the budget — the caller must use
    * the distributed path.
    */
  private def postingsFor(
      terms: Seq[String],
      dfs: Map[String, Long]): Option[Array[PostingList]] = {
    if (terms.exists(oversized.contains)) { fallbackCount.incrementAndGet(); return None }
    val missing = synchronized { terms.filterNot(cache.containsKey) }
    val estMissing = missing.map(t => dfs.getOrElse(t, 0L) * estBytesPerPosting).sum
    if (estMissing > maxCachedBytes) { fallbackCount.incrementAndGet(); return None }

    // fetch + decode outside the lock; two threads racing on the same
    // term fetch twice and the second insert is a no-op — correct, and far
    // cheaper than serializing all hits behind the job
    val fetched: Seq[(String, PostingList)] =
      if (missing.isEmpty) Seq.empty
      else {
        missCount.addAndGet(missing.size.toLong)
        val byTerm = reader.segmentsFor(missing).collect().groupBy(_.term)
        missing.map(t => t -> PostingList.of(byTerm.getOrElse(t, Array.empty[SegmentRow]).toSeq))
      }

    synchronized {
      fetched.foreach { case (t, list) =>
        if (list.bytes > maxCachedBytes) oversized.add(t): Unit
        else if (!cache.containsKey(t)) {
          cache.put(t, list)
          cachedBytes += list.bytes
        }
      }
      evictTo(maxCachedBytes)
      val got = terms.map { t =>
        val list = cache.get(t)
        // a term with no postings needs no entry
        if (list == null && dfs.getOrElse(t, 0L) == 0L) noPostings else list
      }.toArray
      hitCount.addAndGet((terms.size - missing.size).toLong)
      // a term can be oversized, or evicted by a same-call sibling before
      // read-back; serve the distributed path rather than partial data
      if (got.contains(null)) { fallbackCount.incrementAndGet(); None } else Some(got)
    }
  }

  /** Top-k BM25, driver-local. Result ordering and scores are bit-identical
    * to `Engine.bm25TopK(reader, text, k).collect()` sorted by
    * (score desc, docId asc).
    */
  def bm25TopK(text: String, k: Int, bm25: Bm25 = Bm25()): Seq[ScoredDoc] = {
    val plan = Bm25Plan.forQuery(reader, text, bm25)
    if (plan.terms.isEmpty) return Seq.empty

    postingsFor(plan.terms, plan.df) match {
      case None =>
        // distributed fallback: same kernel, cluster-side
        Engine.bm25TopK(reader, text, k, useWand = true, bm25 = bm25)
          .collect().toSeq.sorted(Bm25Shard.resultOrdering)
      case Some(lists) =>
        val deleted = reader.deletedIds
        val top = new Bm25Shard.TopK(k)
        Bm25Shard.scoreSeed(lists, norms.apply, plan, top, deleted)
        Bm25Shard.scoreRest(lists, norms.apply, plan, top, deleted)
        docsScoredCount.addAndGet(top.scored)
        top.result
    }
  }

  /** Dataset view of [[bm25TopK]] (a LocalRelation — composes with SetOps /
    * drilldowns without launching a job for the search itself).
    */
  def bm25TopKDs(text: String, k: Int, bm25: Bm25 = Bm25()): Dataset[ScoredDoc] = {
    val spark = reader.spark
    import spark.implicits._
    spark.createDataset(bm25TopK(text, k, bm25))
  }

  // LAST statement of the constructor: the instance must be fully
  // initialized before the metrics registry can observe it
  LocalServing.register(this)
}

object LocalServing {
  // live instances for the SQL metrics surface (graft_metrics()): weak
  // keys, so a dropped serving instance unregisters via GC — the registry
  // never pins a retired reader or its session
  private val live = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[LocalServing, String]())

  private[search] def register(s: LocalServing): Unit =
    live.put(s, s.reader.dir): Unit

  /** (indexDir, instance) snapshot of the live serving instances. */
  def liveInstances: Seq[(String, LocalServing)] = {
    val out = Seq.newBuilder[(String, LocalServing)]
    live.synchronized {
      val it = live.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); out += ((e.getValue, e.getKey)) }
    }
    out.result().sortBy(_._1)
  }
}
