package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
/** Read-side handle over a built index directory. Sidecar file IO
  * (manifest, deletes fingerprint) goes through the Hadoop FileSystem
  * API ([[graft.core.Fs]]) so the index dir can be any scheme Spark
  * reads — `file:`, `hdfs:`, `s3a:`, ...
  */
class IndexReader(val spark: SparkSession, val dir: String) extends Serializable {

  val manifest: IndexManifest =
    IndexManifest.fromJson(graft.core.Fs.readString(spark, s"$dir/manifest.json"))
  // posting payloads are NOT self-describing across layout versions (a v2
  // payload's first byte is a varint count that aliases the v3 flag byte) —
  // fail loudly instead of decoding garbage
  require(manifest.formatVersion == IndexManifest.FormatVersion,
    s"index at $dir has posting-layout v${manifest.formatVersion}; this reader " +
      s"requires v${IndexManifest.FormatVersion} — rebuild the index")

  /** Cached relation handle — file listing + schema resolve once per
    * session, so repeated queries only pay the pruned scan itself.
    */
  lazy val segments: Dataset[SegmentRow] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/segments").as[SegmentRow]
  }

  /** Segment rows for the given terms only. The `isin` predicate pushes
    * down to the parquet scan; each file holds whole shards, its rows
    * sorted by term within each shard, so the term min/max stats of a row
    * group or an in-memory batch prune only within a shard's run of rows.
    */
  def segmentsFor(terms: Seq[String]): Dataset[SegmentRow] = {
    import spark.implicits._
    segments.filter(col("term").isin(terms.distinct: _*))
  }

  /** Serving mode: pin the segments relation in executor memory — the Spark
    * analogue of Groonga's always-mmap'd index files (reference lib/io.c).
    * Repeated queries then scan the in-memory columnar cache instead of
    * re-reading parquet; on a cluster the cache is partitioned across
    * executors. Call once before a query workload; returns this.
    */
  def cacheForServing(): this.type = {
    segments.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    segments.count(): Unit // materialize
    normsBroadcast // ship norms once
    lexiconWarm()
    servingFlag = true
    this
  }

  @volatile private var servingFlag = false

  /** True after [[cacheForServing]]: query paths may then use the
    * driver-collected norms broadcast / lexicon map; otherwise they must
    * stay driver-light (cogroup norms, pruned lexicon scans) so a
    * 10^12-doc corpus never funnels through the driver.
    */
  def isServing: Boolean = servingFlag

  private def lexiconWarm(): Unit = { lexiconMapForServing().size: Unit }

  lazy val docs: DataFrame = spark.read.parquet(s"$dir/docs")

  /** Docs minus tombstones — what scan-based query paths see. */
  def liveDocs: DataFrame =
    if (deletedIds.isEmpty) docs
    else docs.join(Deletes.deletedIdsDf(spark, dir), Seq("docId"), "left_anti")

  /** Per-shard doclen sidecar rows: (shard, varint blob). */
  lazy val norms: Dataset[(Int, Array[Byte])] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/norms").as[(Int, Array[Byte])]
  }

  /** Broadcast per-shard norms blobs (decoded lazily per executor task).
    * Size = one varint per doc (~2-4 B): fine to ship whole for sandbox
    * scales; at 10^12 docs the per-shard blob is instead co-read with the
    * shard's segment rows (the [[graft.search.Engine.bm25TopKBatch]] cogroup
    * path, kept for that regime).
    */
  lazy val normsBroadcast: org.apache.spark.broadcast.Broadcast[Map[Int, Array[Byte]]] = {
    import spark.implicits._
    spark.sparkContext.broadcast(norms.collect().toMap)
  }

  lazy val lexicon: DataFrame = spark.read.parquet(s"$dir/lexicon")

  // ---- tombstones (Deletes.delete) --------------------------------------
  @volatile private var deletedCache: Option[scala.collection.immutable.Set[Long]] = None

  /** Tombstoned docIds (empty set when none). Cached per reader; call
    * [[invalidateDeletes]] after Deletes.delete on the same reader.
    */
  def deletedIds: Set[Long] = {
    deletedCache match {
      case Some(s) => s
      case None =>
        val s: Set[Long] =
          if (graft.core.Fs.exists(spark, s"$dir/deletes")) {
            import spark.implicits._
            spark.read.parquet(s"$dir/deletes").select("docId").as[Long]
              .collect().toSet
          } else Set.empty[Long]
        deletedCache = Some(s)
        s
    }
  }

  def invalidateDeletes(): Unit = { deletedCache = None; deletedBCache = None }

  @volatile private var deletedBCache: Option[org.apache.spark.broadcast.Broadcast[Set[Long]]] = None

  /** Broadcast tombstone set for executor-side filtering. */
  def deletedBroadcast: org.apache.spark.broadcast.Broadcast[Set[Long]] = {
    deletedBCache match {
      case Some(b) => b
      case None =>
        val b = spark.sparkContext.broadcast(deletedIds)
        deletedBCache = Some(b)
        b
    }
  }

  lazy val metrics: DataFrame = spark.read.parquet(s"$dir/metrics")

  /** Driver-cached full lexicon: term -> (df, cf). ONLY materialized by
    * [[cacheForServing]] — a 10^12-doc corpus has hundreds of millions of
    * terms; collecting them all to the driver is a serving-mode decision,
    * never the default query path.
    */
  @volatile private var lexiconMapCache: Map[String, (Long, Long)] = null
  private def lexiconMapForServing(): Map[String, (Long, Long)] = {
    if (lexiconMapCache == null)
      lexiconMapCache = lexicon.collect()
        .map(r => r.getString(r.fieldIndex("term")) ->
          (r.getLong(r.fieldIndex("df")), r.getLong(r.fieldIndex("cf"))))
        .toMap
    lexiconMapCache
  }

  // per-term memo so repeated queries for the same terms never re-scan;
  // negative results memoize too (absent term -> df 0)
  private val termStatsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Option[(Long, Long)]]()

  /** Global (df, cf) for query terms: a term-pruned lexicon scan (row-group
    * min/max pruning on the sorted `term` column) of ONLY the terms not yet
    * memoized — O(query terms), independent of lexicon size. When the full
    * map was pinned by [[cacheForServing]] it answers from memory instead.
    */
  def termStats(terms: Seq[String]): Map[String, (Long, Long)] = {
    val distinct = terms.distinct
    val full = lexiconMapCache
    if (full != null)
      return distinct.flatMap(t => full.get(t).map(t -> _)).toMap
    val missing = distinct.filterNot(termStatsMemo.containsKey)
    if (missing.nonEmpty) {
      val scanned = lexicon.filter(col("term").isin(missing: _*))
        .collect()
        .map(r => r.getString(r.fieldIndex("term")) ->
          (r.getLong(r.fieldIndex("df")), r.getLong(r.fieldIndex("cf"))))
        .toMap
      missing.foreach(t => termStatsMemo.put(t, scanned.get(t)))
    }
    distinct.flatMap(t => termStatsMemo.get(t).map(t -> _)).toMap
  }

  /** Lexicon terms matching a prefix (sorted) — the PAT-trie descendant walk
    * analogue (reference lib/pat.c:1091) as a range predicate.
    */
  def termsWithPrefix(prefix: String, limit: Int = 1000): Seq[String] = {
    import spark.implicits._
    lexicon.filter(col("term").startsWith(prefix))
      .select("term").as[String].orderBy("term").take(limit).toSeq
  }

  /** Lexicon terms ending with `suffix` — prefix predicate on the stored
    * reversed-term column (reference KEY_WITH_SIS suffix search,
    * lib/pat.c:1150). Falls back to endsWith for indexes built before the
    * rev column existed.
    */
  def termsWithSuffix(suffix: String, limit: Int = 1000): Seq[String] = {
    import spark.implicits._
    val pred =
      if (lexicon.columns.contains("rev")) col("rev").startsWith(suffix.reverse)
      else col("term").endsWith(suffix)
    lexicon.filter(pred).select("term").as[String].orderBy("term").take(limit).toSeq
  }

  /** Cache epoch: a string that changes whenever the index content changes
    * — rebuilds/compactions rewrite the manifest (contentShaXor, numDocs,
    * stage list), tombstone appends add files under `deletes/`. Result
    * caches keyed on it invalidate naturally, the analogue of the reference
    * clearing grn_cache on DB modification (lib/proc/proc_select.c:655
    * fetches only when the cache generation is current).
    */
  def cacheEpoch: String = {
    val (n, bytes) = graft.core.Fs.dirStats(spark, s"$dir/deletes")
    s"${manifest.contentShaXor}:${manifest.numDocs}:${manifest.stagesDone.size}:$n:$bytes"
  }

  /** Re-verify the per-row content digest invariant against the manifest
    * (north rule: every stage preserves content sha256 vs the source).
    */
  def verifyShaInvariant(): Boolean = {
    val cur = docs.agg(
      sum(conv(substring(col("sha256"), 1, 8), 16, 10).cast("long"))).collect()(0).getLong(0)
    cur == manifest.contentShaXor
  }
}
