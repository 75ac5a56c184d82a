package graft.command

import graft.index.{IndexBuilder, IndexConfig, IndexReader}
import graft.query.QueryExec
import graft.search.Engine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text search over a sharded logical table — the reference's
  * flagship logical-table pattern: `logical_select` with `--query` over
  * per-day tables, where EACH shard carries its own inverted index and a
  * time-windowed search opens only the shards intersecting the window
  * (reference plugins/sharding/logical_select.rb driving a per-shard
  * select; each `Logs_YYYYMMDD` table has its own index columns).
  *
  * Layout: one index per shard under `root/_indexes/<shard>/` (underscore
  * prefix — invisible to parquet discovery), built from that shard's rows
  * only. [[buildIndexes]] is INCREMENTAL per shard: shards already
  * carrying a manifest are skipped, so a periodic call after
  * [[Logical.streamSharded]] ingestion indexes exactly the new days —
  * the reference's load-hook maintenance, amortized per shard. Retention
  * composes the same way: dropping a shard's data dir and its index dir
  * retires both in O(1).
  *
  * Query semantics: the reference default scorer's tf-based scores are
  * CORPUS-INDEPENDENT, so the union of per-shard results over the pruned
  * shard set is EXACTLY the result of one index over the pruned rows —
  * `lf_search` gates this against a flat-table oracle. BM25 idf is
  * per-shard (each day's own df/N — the reference's per-table index
  * behaves identically); [[bm25TopK]] documents that and merges per-shard
  * top-k by score.
  *
  * Scale shape: shards outside the window are never opened (no manifest
  * read, no postings touched); per-shard searches are independent unions
  * of term-pruned scans; only BOUNDARY shards pay a row-level semi-join
  * against the (partition-pruned) data to trim sub-shard instants.
  */
object LogicalSearch {

  /** Default per-shard index build config: modest shard/partition counts —
    * a day shard is a small fraction of the corpus (the parallelism at
    * scale comes from the many shards, not from within one).
    */
  def defaultConfig: IndexConfig = IndexConfig(
    tokenizerName = "TokenDelimit", withPositions = true,
    nShards = 4, buildPartitions = 8, nSalts = 2, hotTermDf = 1000000L)

  private def indexDir(root: String, shard: String): String =
    s"$root/_indexes/$shard"

  /** Build indexes for every shard that lacks one; returns the shards
    * indexed by THIS call (empty = everything was already indexed).
    */
  def buildIndexes(spark: SparkSession, root: String,
      idCol: String, contentCol: String,
      config: IndexConfig = defaultConfig): Seq[String] = {
    // digit-named shards only: the null-key partition is unreachable from
    // any windowed search (null shard keys are in no range), so indexing
    // it would be pure wasted work
    val todo = Logical.shardList(spark, root)
      .filter(s => s.nonEmpty && s.forall(_.isDigit))
      .filter(s =>
        !graft.core.Fs.exists(spark, s"${indexDir(root, s)}/manifest.json"))
    todo.foreach { s =>
      val docs = spark.read
        .parquet(s"$root/${Logical.ShardCol}=$s")
        .select(col(idCol).cast("long").as("docId"),
          col(contentCol).cast("string").as("content"))
      IndexBuilder.build(spark, docs, indexDir(root, s), config)
    }
    todo
  }

  /** Reader for one shard's index — delegates to the SQL surface's
    * fingerprint-invalidated per-session cache ([[graft.sql.GraftSql]]):
    * a rebuilt or tombstoned shard index re-opens on its next query, and
    * stopped sessions don't pin stale readers.
    */
  def reader(spark: SparkSession, root: String, shard: String): IndexReader =
    graft.sql.GraftSql.readerFor(spark, indexDir(root, shard))

  /** Digit-named shards whose day/month range can intersect `range` —
    * the driver-side twin of [[Logical]]'s partition pruning (reference
    * LogicalEnumerator: only name-range-intersecting tables are opened).
    */
  def shardsInRange(spark: SparkSession, root: String, shardKey: String,
      range: Logical.LogicalRange): Seq[String] =
    Logical.shardsFor(spark, root, shardKey, range)

  /** Reference-default-scorer search (`--query` semantics) over the
    * shards intersecting `range`: per-shard index lookups union; boundary
    * shards trim to the row-level window via a semi-join against the
    * partition-pruned data (interior shards need no trim — every row is
    * in range). Returns (docId, score, shard).
    */
  def search(spark: SparkSession, root: String, shardKey: String,
      range: Logical.LogicalRange, query: String,
      idCol: String = "docId"): DataFrame = {
    import spark.implicits._
    // one pass over marker/schema/listing for the whole query
    val (shards, boundarySet) =
      Logical.windowPlan(spark, root, shardKey, range)
    if (shards.isEmpty)
      return Seq.empty[(Long, Double, String)].toDF("docId", "score", "shard")
    val (boundary, interior) = shards.partition(boundarySet.contains)
    def shardResult(s: String): DataFrame =
      QueryExec.run(reader(spark, root, s), query)
        .toDF("docId", "score").withColumn("shard", lit(s))
    val interiorDf = interior.map(shardResult)
    // boundary shards: drop hits whose row instant is outside the window
    val boundaryDf = boundary.map { s =>
      shardResult(s).join(inWindowIds(spark, root, shardKey, range, s, idCol),
        Seq("docId"), "left_semi")
    }
    (interiorDf ++ boundaryDf).reduce(_ unionByName _)
  }

  /** In-window row ids of ONE boundary shard (partition-pruned scan). */
  private def inWindowIds(spark: SparkSession, root: String, shardKey: String,
      range: Logical.LogicalRange, shard: String, idCol: String): DataFrame =
    Logical.pruned(spark, root, shardKey, range)
      .where(col(Logical.ShardCol).cast("string") === shard)
      .select(col(idCol).cast("long").as("docId"))

  /** Merged corpus-wide BM25 statistics over `shards`: N and total tokens
    * sum over the manifests (already open on their readers), and per-term
    * df sums over one lexicon-side [[IndexReader.termStats]] per shard —
    * rows ∝ query terms × shards, never postings. avgdl derives as
    * totalTokens/numDocs in the SAME double arithmetic a flat single-index
    * build uses, so scores under merged stats are bit-identical to one
    * index over the union of the shards' rows.
    */
  def corpusStats(spark: SparkSession, root: String, shards: Seq[String],
      terms: Seq[String]): graft.search.CorpusStats = {
    val readers = shards.map(s => reader(spark, root, s))
    val n = readers.map(_.manifest.numDocs).sum
    val tt = readers.map(_.manifest.totalTokens).sum
    val df = readers.flatMap(_.termStats(terms).iterator.map {
      case (t, (d, _)) => t -> d
    }).groupMapReduce(_._1)(_._2)(_ + _)
    graft.search.CorpusStats(n, if (n == 0) 0.0 else tt.toDouble / n, df)
  }

  /** Per-shard BM25 top-k over the window, merged globally by
    * (score desc, docId asc). idf is per-shard by default (each shard's
    * own df/N), the same semantics as the reference's per-table indexes —
    * scores are comparable across shards of similar composition, and exact
    * within a shard. `globalIdf = true` scores every shard under the
    * MERGED (df, N, avgdl) of the pruned shard set ([[corpusStats]]) —
    * rank-stable across shards even when term stats drift between days,
    * and identical to one flat index over the window when the window is
    * shard-aligned. Boundary trim as in [[search]].
    */
  def bm25TopK(spark: SparkSession, root: String, shardKey: String,
      range: Logical.LogicalRange, query: String, k: Int,
      idCol: String = "docId", globalIdf: Boolean = false): DataFrame = {
    import spark.implicits._
    val (shards, boundarySet) =
      Logical.windowPlan(spark, root, shardKey, range)
    if (shards.isEmpty)
      return Seq.empty[(Long, Double, String)].toDF("docId", "score", "shard")
    val stats =
      if (!globalIdf) None
      else {
        val r0 = reader(spark, root, shards.head)
        val terms =
          graft.search.Searcher.queryTokens(r0, query).map(_.term).distinct
        Some(corpusStats(spark, root, shards, terms))
      }
    // every per-shard scoring plan is lazy, so the union below is ONE Spark
    // plan, run by the caller's one action. Only df lookups run here: each
    // bm25TopK (or corpusStats above, under globalIdf) scans the lexicon of a
    // non-serving shard reader for the query terms it has not seen before
    val perShard = shards.map { s =>
      val r = reader(spark, root, s)
      if (!boundarySet.contains(s))
        Engine.bm25TopK(r, query, k, corpusStats = stats)
          .toDF("docId", "score").withColumn("shard", lit(s))
      else {
        // boundary: trim to the window BEFORE taking the top-k — trimming
        // after would silently drop in-window docs ranked below
        // out-of-window ones. Exhaustive scoring over the shard's matches
        // (cost ∝ one day's matches, the same order as the semi-join)
        // keeps the merge exact; the global top-k below takes the k best.
        Engine.bm25TopK(r, query, r.manifest.numDocs.toInt, useWand = false,
            corpusStats = stats)
          .toDF("docId", "score").withColumn("shard", lit(s))
          .join(inWindowIds(spark, root, shardKey, range, s, idCol),
            Seq("docId"), "left_semi")
      }
    }
    perShard.reduce(_ unionByName _)
      .orderBy(desc("score"), asc("docId")).limit(k)
  }
}
