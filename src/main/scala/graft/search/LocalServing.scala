package graft.search

import graft.codec.{Norms, PostingBlock}
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
  * One top-k per query: all shards score into one [[Bm25Shard.TopK]], so
  * WAND's θ carries across shards, as over Groonga's single docid space: on
  * a hot+rare query, once k rare-term docs are held, later shards skip the
  * hot postings. With [[TermCursor]]'s lazy, position-free block decode
  * this took perfbench `serve_local` (16k files, 64 shards, 4-core host)
  * from 0.86 to 0.42 ms open-loop p50 (median, 10 paired seeds) against one
  * heap per shard and eager decode; traced hot+rare p50 2.7 -> 0.6 ms.
  *
  * A LocalServing instance is bound to one reader snapshot — rebuild or
  * compaction means a new reader and a new instance (same epoch discipline
  * as the select result cache).
  *
  * @param maxCachedBytes LRU budget over encoded posting bytes (default 256 MiB)
  */
final class LocalServing(
    val reader: IndexReader,
    maxCachedBytes: Long = 256L << 20
) {
  require(maxCachedBytes > 0, "maxCachedBytes must be positive")

  /** Cached postings of one term: per-shard merged (salt-combined) blocks. */
  private final class Entry(val perShard: Array[(Int, Array[PostingBlock])], val bytes: Long)

  private val cache = new java.util.LinkedHashMap[String, Entry](64, 0.75f, true)
  private var cachedBytes = 0L
  private val hitCount = new java.util.concurrent.atomic.AtomicLong
  private val missCount = new java.util.concurrent.atomic.AtomicLong
  private val fallbackCount = new java.util.concurrent.atomic.AtomicLong
  private val docsScoredCount = new java.util.concurrent.atomic.AtomicLong
  // terms whose REAL encoded bytes exceed the whole budget (the df-based
  // pre-estimate can undershoot with positions on): never cached — caching
  // one would wipe every warm entry and still end in a fallback — and
  // remembered so later queries skip straight to the distributed path
  // instead of refetching
  private val oversized = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def hits: Long = hitCount.get
  def misses: Long = missCount.get
  def fallbacks: Long = fallbackCount.get

  /** Documents the WAND kernel evaluated locally (fallbacks not counted). */
  def docsScored: Long = docsScoredCount.get

  /** Postings bytes currently cached (LRU occupancy). */
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

  /** ~bytes per posting for the pre-fetch budget check (delta-varint docId +
    * varint tf; positions add more, so this under-estimate only errs toward
    * allowing a fetch the LRU then bounds anyway).
    */
  private val estBytesPerPosting = 6L

  /** Per-shard decoded norms, built once per shard on first use — decoding
    * the varint blob per query would dominate the postings walk. One int
    * per doc of the shard: the same footprint the executor-side broadcast
    * already pays, held once per serving process.
    */
  private val normsCache = new java.util.concurrent.ConcurrentHashMap[Int, Norms.Lookup]()
  private def normsFor(shard: Int): Norms.Lookup =
    normsCache.computeIfAbsent(shard, sh => Norms.decode(reader.normsBroadcast.value(sh)))

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
      dfs: Map[String, Long]): Option[Map[String, Array[(Int, Array[PostingBlock])]]] = {
    if (terms.exists(oversized.contains)) { fallbackCount.incrementAndGet(); return None }
    val missing = synchronized { terms.filterNot(cache.containsKey) }
    val estMissing = missing.map(t => dfs.getOrElse(t, 0L) * estBytesPerPosting).sum
    if (estMissing > maxCachedBytes) { fallbackCount.incrementAndGet(); return None }

    // fetch + decode-merge outside the lock; two threads racing on the same
    // term fetch twice and the second insert is a no-op — correct, and far
    // cheaper than serializing all hits behind the job
    val fetched: Seq[(String, Entry)] =
      if (missing.isEmpty) Seq.empty
      else {
        missCount.addAndGet(missing.size.toLong)
        val rows = reader.segmentsFor(missing).collect()
        missing.map { t =>
          val mine = rows.filter(_.term == t)
          val perShard = mine.groupBy(_.shard).toArray.map { case (sh, rs) =>
            sh -> TermCursor.mergedBlocks(rs.toSeq)
          }
          val bytes = perShard.iterator
            .flatMap(_._2.iterator).map(_.data.length.toLong).sum
          t -> new Entry(perShard, bytes)
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
      val got = terms.flatMap { t =>
        Option(cache.get(t)).map(e => t -> e.perShard)
      }.toMap
      hitCount.addAndGet((terms.size - missing.size).toLong)
      // a term can be oversized, or evicted by a same-call sibling before
      // read-back; serve the distributed path rather than partial data
      val incomplete = terms.exists(t => dfs.getOrElse(t, 0L) > 0L && !got.contains(t))
      if (incomplete) { fallbackCount.incrementAndGet(); None } else Some(got)
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
      case Some(byTerm) =>
        val deleted = reader.deletedIds
        val cursors = for ((t, perShard) <- byTerm.toSeq; (sh, blocks) <- perShard)
          yield sh -> plan.cursor(t, blocks)
        val top = new Bm25Shard.TopK(k)
        cursors.groupMap(_._1)(_._2).toSeq.sortBy(_._1).foreach { case (sh, cs) =>
          Bm25Shard.wand(cs, normsFor(sh).apply, plan, top, deleted)
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
