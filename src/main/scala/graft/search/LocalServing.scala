package graft.search

import graft.codec.Norms
import graft.index.IndexReader
import org.apache.spark.sql.Dataset

/** Driver-local BM25 serving over a warmed reader — the Spark-free analogue
  * of the reference's select path on an always-mmap'd index (postings walk
  * lib/ii.c:4182-4212 + top-k): a query touches ONLY its terms' posting
  * lists, cached in a byte-bounded LRU, and runs the same block-max WAND
  * kernel the distributed path runs, entirely on the calling thread. No job
  * submission, no shuffle — latency is the postings walk itself (~µs-ms),
  * not Spark scheduling (~100 ms+).
  *
  * Scale honesty (100 TB): this is the PER-SHARD-SERVER loop, not a driver
  * funnel. Cost and memory are ∝ the query terms' postings (bounded by the
  * LRU budget), never ∝ the index. A term whose estimated postings exceed
  * the budget falls back to the distributed [[Engine.bm25TopK]] — correct
  * on any input, fast on the serving working set. At web scale the corpus
  * is sharded across serving nodes, each running exactly this loop over its
  * shard group; the Spark path remains for batch analytics.
  *
  * Rank identity: the cursors, WAND kernel, and (score desc, docId asc)
  * ordering are the SAME code objects as the distributed path, so results
  * are bit-identical (LocalServingSpec pins equality, fallback included).
  *
  * One top-k per query, seeded: all shards score into one
  * [[Bm25Shard.TopK]], as over Groonga's single docid space, in the two
  * phases of [[Bm25Shard]]. Phase 1 ([[Bm25Shard.scoreSeed]]) runs on every
  * shard first and offers each live document of the query's rarest term
  * with its exact score; phase 2 ([[Bm25Shard.scoreRest]]) then walks the
  * other terms with block-max WAND on every shard, skipping the documents
  * phase 1 offered. Exact: a document holding the seed term was offered once
  * with its full score, and every other document scores from the other terms
  * alone, which phase 2 covers as WAND always does. On a hot+rare query θ is
  * the k-th rare-document score before any hot posting is read, so the hot
  * lists are skipped rather than scored. Before the seed phase, θ carried
  * from shard to shard but stayed at a hot-only score until k rare
  * documents were held, which with about one rare document per shard took
  * a third of the 64 shards. On perfbench `serve_local` (seed 7001, k = 10)
  * `return oscfv` scored 4,220 documents before and 34 after; over 10
  * paired seeds on a 4-core host, queries/s closed loop went from 10.9k to
  * 24.8k and open-loop p50 from 0.495 to 0.352 ms (medians).
  *
  * The cache holds decoded lists: per term, one [[PostingList]] per shard,
  * decoded and salt-merged once at fetch. A warm query decodes nothing and
  * allocates no posting; its cursors walk primitive arrays. Against caching
  * the encoded blocks and decoding them on every query, perfbench
  * `serve_local` (16k files, 64 shards, 4-core host, 10 paired seeds) went
  * from 29.7k to 45.4k queries/s closed loop and from 0.134 to 0.103 ms
  * open-loop p50 (medians); the cache holds about twice the bytes.
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

  private val nShards = reader.manifest.nShards

  /** Cached postings of one term: its decoded list on each shard, indexed by
    * shard id (null where the shard holds none of it).
    */
  private final class Entry(val byShard: Array[PostingList]) {
    val bytes: Long = byShard.iterator.filter(_ != null).map(_.bytes).sum
  }
  private val noPostings = new Entry(new Array[PostingList](nShards))

  private val cache = new java.util.LinkedHashMap[String, Entry](64, 0.75f, true)
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

  /** One-row ops snapshot — cache effectiveness and fallback pressure for
    * dashboards/alerts (the reference surfaces the same through its
    * status command's cache_hit_rate).
    */
  def metrics(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Seq((hits, misses, fallbacks, cachedBytesNow, oversizedTerms.toLong))
      .toDF("hits", "misses", "fallbacks", "cached_bytes", "oversized_terms")
  }

  /** Bytes per posting for the pre-fetch budget check: a decoded list's
    * [[PostingList.bytes]], with its per-block arrays (20 bytes per 128
    * postings) rounded up to one byte per posting.
    */
  private val estBytesPerPosting = PostingList.BytesPerPosting + 1

  /** Per-shard decoded norms, built once per shard on first use — decoding
    * the varint blob per query would dominate the postings walk. One int
    * per doc of the shard: the same footprint the executor-side broadcast
    * already pays, held once per serving process.
    */
  private val normsCache = new java.util.concurrent.atomic.AtomicReferenceArray[Norms.Lookup](nShards)
  private def normsFor(shard: Int): Norms.Lookup = {
    var n = normsCache.get(shard)
    if (n == null) {
      // two threads racing on a cold shard both decode; either result is right
      n = Norms.decode(reader.normsBroadcast.value(shard))
      normsCache.set(shard, n)
    }
    n
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
      dfs: Map[String, Long]): Option[Array[Entry]] = {
    if (terms.exists(oversized.contains)) { fallbackCount.incrementAndGet(); return None }
    val missing = synchronized { terms.filterNot(cache.containsKey) }
    val estMissing = missing.map(t => dfs.getOrElse(t, 0L) * estBytesPerPosting).sum
    if (estMissing > maxCachedBytes) { fallbackCount.incrementAndGet(); return None }

    // fetch + decode outside the lock; two threads racing on the same
    // term fetch twice and the second insert is a no-op — correct, and far
    // cheaper than serializing all hits behind the job
    val fetched: Seq[(String, Entry)] =
      if (missing.isEmpty) Seq.empty
      else {
        missCount.addAndGet(missing.size.toLong)
        val rows = reader.segmentsFor(missing).collect()
        val byTerm = rows.groupBy(_.term)
        missing.map { t =>
          val byShard = new Array[PostingList](nShards)
          byTerm.getOrElse(t, Array.empty[graft.index.SegmentRow]).groupBy(_.shard)
            .foreach { case (sh, rs) => byShard(sh) = PostingList.of(rs.toSeq) }
          t -> new Entry(byShard)
        }
      }

    synchronized {
      fetched.foreach { case (t, e) =>
        if (e.bytes > maxCachedBytes) oversized.add(t): Unit
        else if (!cache.containsKey(t)) {
          cache.put(t, e)
          cachedBytes += e.bytes
        }
      }
      evictTo(maxCachedBytes)
      val got = terms.map { t =>
        val e = cache.get(t)
        // a term with no postings needs no entry
        if (e == null && dfs.getOrElse(t, 0L) == 0L) noPostings else e
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
      case Some(entries) =>
        val deleted = reader.deletedIds
        val top = new Bm25Shard.TopK(k)
        val lists = new Array[PostingList](entries.length)
        // phase 1 on every shard before phase 2 on any: the WAND walk starts
        // at the θ of all the seed term's documents
        for (phase <- 1 to 2) {
          var sh = 0
          while (sh < nShards) {
            var any = false
            var t = 0
            while (t < entries.length) {
              lists(t) = entries(t).byShard(sh)
              any |= lists(t) != null
              t += 1
            }
            if (any) {
              if (phase == 1) Bm25Shard.scoreSeed(lists, normsFor(sh).apply, plan, top, deleted)
              else Bm25Shard.scoreRest(lists, normsFor(sh).apply, plan, top, deleted)
            }
            sh += 1
          }
        }
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
