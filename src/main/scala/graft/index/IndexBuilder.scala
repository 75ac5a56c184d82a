package graft.index

import graft.analysis.Tokenizers
import graft.codec.{PostingCodec, PostingBlock}
import graft.core.Sha256
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession, SaveMode}
import org.apache.spark.sql.functions._

/** Build configuration.
  *
  * @param tokenizerName analysis chain (must match at query time)
  * @param withPositions store token positions (needed for phrase/NEAR)
  * @param nShards       document shards — the unit of query parallelism; each
  *                      shard holds a complete sub-index for its docId range
  *                      (scale knob: at 10^12 docs, thousands of shards). The
  *                      build inverts one shard per task at a time, holding
  *                      that shard's decoded postings in memory, so a shard's
  *                      size bounds a build task's memory
  * @param buildPartitions shuffle partitions of the segments stage's by-shard
  *                      shuffle; each holds whole shards
  * @param hotTermDf     df threshold at or above which a term's per-shard
  *                      posting list is split into `nSalts` segment rows by a
  *                      docId hash (it balances no reducer: the segments
  *                      shuffle is by shard); hot terms come EXACTLY from the
  *                      lexicon stage
  * @param nSalts        segment rows per hot term per shard
  */
final case class IndexConfig(
    tokenizerName: String = "TokenBigram",
    withPositions: Boolean = true,
    /** Store per-posting weights (reference WITH_WEIGHT, groonga.h:323) —
      * used by [[IndexBuilder.buildFromPostings]] for weighted vectors.
      */
    withWeights: Boolean = false,
    nShards: Int = 32,
    buildPartitions: Int = 32,
    hotTermDf: Long = 50000L,
    nSalts: Int = 8
)

/** Manifest: everything the query side needs + stage checkpoints for resume. */
final case class IndexManifest(
    numDocs: Long,
    avgDoclen: Double,
    totalTokens: Long,
    tokenizerName: String,
    withPositions: Boolean,
    nShards: Int,
    nSalts: Int,
    /** The build's [[IndexConfig.hotTermDf]], which compaction reuses.
      * Manifests written before this field read back as Long.MaxValue.
      */
    hotTermDf: Long,
    contentShaXor: Long,
    hotTerms: Array[String],
    stagesDone: Seq[String],
    withWeights: Boolean = false,
    /** True when the postings came from tokenizing the stored docs' `content`
      * column with `tokenizerName` — the precondition for the
      * too-many-matches scan-verify escape (re-counting tf from content must
      * reproduce the posting tf; [[IndexBuilder.buildFromPostings]] indexes
      * externally-supplied postings, so it writes false). Manifests written
      * before this field read back as false: the escape stays off for them —
      * a conservative false MISS of an optimization, never wrong results.
      */
    builtFromContent: Boolean = true,
    /** Posting-payload layout version (see [[graft.codec.PostingCodec]]).
      * Readers refuse mismatched versions instead of decoding garbage —
      * v2 payloads (byte 0 = varint n) alias the v3 flag byte silently.
      */
    formatVersion: Int = IndexManifest.FormatVersion
)

object IndexManifest {
  /** Current posting-payload layout: flag byte + varint streams. */
  val FormatVersion = 3

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def toJson(m: IndexManifest): String = {
    val o = mapper.createObjectNode()
      .put("numDocs", m.numDocs).put("avgDoclen", m.avgDoclen).put("totalTokens", m.totalTokens)
      .put("formatVersion", m.formatVersion)
      .put("tokenizerName", m.tokenizerName).put("withPositions", m.withPositions)
      .put("withWeights", m.withWeights).put("builtFromContent", m.builtFromContent)
      .put("nShards", m.nShards).put("nSalts", m.nSalts).put("hotTermDf", m.hotTermDf)
      .put("contentShaXor", m.contentShaXor)
    m.hotTerms.foldLeft(o.putArray("hotTerms"))(_.add(_))
    m.stagesDone.foldLeft(o.putArray("stagesDone"))(_.add(_))
    mapper.writeValueAsString(o)
  }

  /** Reads what [[toJson]] writes, and older manifests: one without
    * `formatVersion` reads as version 0 (pre-versioning payloads), without
    * `hotTermDf` as Long.MaxValue, and without `withPositions`,
    * `withWeights` or `builtFromContent` as false.
    */
  def fromJson(s: String): IndexManifest = {
    val o = mapper.readTree(s)
    def field(k: String) = { val v = o.get(k); require(v != null, s"manifest missing $k"); v }
    def flag(k: String) = o.has(k) && o.get(k).asBoolean
    def strings(k: String) = {
      val a = field(k); Array.tabulate(a.size)(a.get(_).asText)
    }
    IndexManifest(
      numDocs = field("numDocs").asLong,
      avgDoclen = field("avgDoclen").asDouble,
      totalTokens = field("totalTokens").asLong,
      tokenizerName = field("tokenizerName").asText,
      withPositions = flag("withPositions"),
      nShards = field("nShards").asInt,
      nSalts = field("nSalts").asInt,
      hotTermDf = if (o.has("hotTermDf")) o.get("hotTermDf").asLong else Long.MaxValue,
      contentShaXor = field("contentShaXor").asLong,
      hotTerms = strings("hotTerms"),
      stagesDone = strings("stagesDone").toSeq,
      withWeights = flag("withWeights"),
      builtFromContent = flag("builtFromContent"),
      formatVersion = if (o.has("formatVersion")) o.get("formatVersion").asInt else 0
    )
  }
}

/** Offline inverted-index bulk build — the Spark-first re-expression of
  * Groonga's `grn_ii_build` three-phase pipeline (reference lib/ii.c:8802:
  * tokenize-parse → block spill → key-ordered k-way merge + re-encode):
  *
  *   phase 1 (parse)  = per-document tokenize with local combine
  *                      ([[DocCombiner.docPostings]]),
  *   phase 2 (spill)  = one shuffle of the documents by shard (docId mod
  *                      nShards), each partition sorted by (shard, docId) —
  *                      integer keys only; the entry points given postings
  *                      shuffle those the same way,
  *   phase 3 (commit) = [[ShardInverter]]: a shard's postings go to
  *                      per-(term, salt) primitive buffers in docId order
  *                      (reference lib/ii.c:8721 `grn_ii_buffer_parse`),
  *                      encoded in key order at the shard's end
  *                      (lib/ii.c:7713 `encode_terms`) into delta+varint
  *                      blocks with skip entries and block-max tf (the
  *                      chunk/dgap layout of reference lib/ii.c:2659).
  *
  * This is the one index writer. Its three entry points, [[build]]
  * (tokenizes `content`), [[buildFromPostings]] (caller-supplied postings)
  * and [[compact]] (the stored postings of existing indexes), run the same
  * stages and write the same outputs under `dir`: docs/ (the input's
  * columns — docId, content, meta — plus sha256, shard), lexicon/ (term,
  * df, cf, rev), norms/ (shard, varint doclen blob), segments/ (shard,
  * term, salt, df, cf, blocks), metrics/ (per-partition lineage rows:
  * terms, postings, bytes, elapsedMs), _hot_terms, one `_stage_<name>.done`
  * marker per stage (docs, lexicon, norms, segments), manifest.json (which
  * records the config a later compaction reuses, `hotTermDf` included).
  * Each stage is checkpointed; a rerun on the same `dir` resumes past
  * completed stages (north-rule resumability).
  */
object IndexBuilder {

  /** The shard of a row's docId, docId mod nShards: the one expression every
    * stage shards by (the norms pass reads the docs stage's column).
    */
  private def shardOf(nShards: Int): Column = pmod(col("docId"), lit(nShards)).cast("int")

  // the docs stage's min(docId) Observation (null on an empty corpus)
  private def requireNonNegativeIds(minDocId: Any): Unit = minDocId match {
    case v: Number if v.longValue < 0 =>
      throw new IllegalArgumentException(s"docId must be >= 0, got $v")
    case _ =>
  }

  /** Input contract: columns (docId: Long, content: String) plus pass-through
    * metadata columns. docId must be unique and ≥ 0 (the norms encode it as
    * a varint); use [[assignDocIds]] when the source has no id. A negative
    * docId fails the docs stage with an IllegalArgumentException, before any
    * later stage runs.
    */
  def build(spark: SparkSession, docsIn: DataFrame, dir: String, cfg: IndexConfig): IndexManifest = {
    import spark.implicits._
    val tokName = cfg.tokenizerName
    val withPos = cfg.withPositions
    // The lexicon, norms and segments stages each re-read the docs parquet
    // and tokenize it again: the build tokenizes the corpus three times. A
    // traced build (perfbench/run.py --workload build --trace 1, seed 801,
    // 4-core host) reads index.doc_rows_read_per_doc = 3.0. Persisting the
    // postings once for all three stages instead measured 0.93x this
    // build's ops_per_s over 6 seed pairs (ROADMAP item 1).
    runStages(spark, docsIn, sha256Of(col("content")), dir, cfg, builtFromContent = true)(
      // one tokenize+combine pass: (term, docId, tf, positions, weight)
      postings = docs => docs.select("docId", "content").as[(Long, String)]
        .mapPartitions { iter =>
          val tok = Tokenizers.byName(tokName)
          val comb = new DocCombiner(withPos)
          iter.flatMap { case (docId, content) => DocCombiner.docPostings(tok, comb, docId, content) }
        }
        .toDF("term", "docId", "tf", "positions")
        .withColumn("weight", lit(0)),
      // a dedicated counting pass (tokenize only: no combine, no posting
      // rows; one int row per doc reaches the by-shard shuffle), keyed by
      // the shard the docs stage stored. A doc without tokens gets no entry,
      // as under buildFromPostings' Σ tf: it has no postings to score.
      doclens = docs => docs.select("shard", "docId", "content").as[(Int, Long, String)]
        .mapPartitions { iter =>
          val tok = Tokenizers.byName(tokName)
          val scratch = new graft.analysis.Normalizer.Scratch
          val counter = new graft.analysis.AddSink {
            var n = 0
            def acceptSpan(s: Int, e: Int, p: Int): Unit = n += 1
            def acceptTerm(t: String, p: Int): Unit = n += 1
          }
          iter.map { case (shard, docId, content) =>
            counter.n = 0
            // the postings pass's tokenization, so doclen = Σ tf
            DocCombiner.tokenize(tok, scratch, content, counter)(_ => ())
            (shard, docId, counter.n)
          }.filter(_._3 > 0)
        },
      // the documents, not their postings, cross the segments shuffle; each
      // is tokenized once more on the far side
      segments = (docs, inv) => byShard(docs.select("shard", "docId", "content"), cfg)
        .as[(Int, Long, String)]
        .mapPartitions { sorted =>
          val tok = Tokenizers.byName(tokName)
          val comb = new DocCombiner(withPos)
          inv.rows(sorted)(_._1) { (sink, doc) =>
            DocCombiner.docPostings(tok, comb, doc._2, doc._3).foreach(p => sink.add(p._1, p._2, p._3, p._4, 0))
          }
        })
  }

  /** Pre-tokenized build — the input mode for weighted vector columns
    * (reference COLUMN_VECTOR|WITH_WEIGHT, groonga.h:323) and pre-tokenized
    * content (the U+FFFE pre-tokenized delimiter, reference
    * lib/tokenizers.c:101): the caller supplies the postings directly. Runs
    * the same stages as [[build]] and writes the same files; the docs'
    * sha256 is taken over the full row JSON (the content-digest invariant
    * for tables whose "content" is structured rather than one text column)
    * and the manifest records `builtFromContent = false`.
    *
    * @param docsMeta   docId + display/meta columns (the docs table)
    * @param postingsIn (term, docId, tf, positions?, weight?) — missing
    *                   positions/weight columns are filled with defaults
    */
  def buildFromPostings(
      spark: SparkSession,
      docsMeta: DataFrame,
      postingsIn: DataFrame,
      dir: String,
      cfg: IndexConfig
  ): IndexManifest = {
    import spark.implicits._
    var postings = postingsIn
    if (!postings.columns.contains("positions"))
      postings = postings.withColumn("positions", array().cast("array<int>"))
    if (!postings.columns.contains("weight"))
      postings = postings.withColumn("weight", lit(0))
    runStages(spark, docsMeta, sha256Of(to_json(struct(docsMeta.columns.map(col).toSeq: _*))),
      dir, cfg, builtFromContent = false)(
      postings = _ => postings,
      doclens = _ => postings
        .withColumn("shard", shardOf(cfg.nShards))
        .groupBy("shard", "docId").agg(sum("tf").cast("int").as("doclen"))
        .as[(Int, Long, Int)],
      segments = (_, inv) => invertPostings(spark, postings, cfg, inv))
  }

  /** Compaction: rewrite the indexes at `dirs` (a base and its deltas, or
    * one index with tombstones) as one index at `outDir`, through the stages
    * [[build]] runs. Nothing is re-tokenized: the postings are the inputs'
    * segment rows decoded, the doclens their norms decoded, and each doc
    * keeps its stored sha256; every tombstoned doc is dropped from all three
    * and no `deletes/` is written. So the output equals, file for file, a
    * fresh build over the live docs (of the kind the inputs were built by:
    * the manifest's `builtFromContent` is the AND over them), hot terms
    * re-derived from the union's df. The config is the inputs' manifests';
    * they must agree on it, and `buildPartitions` is the session's
    * shuffle-partition count. A rerun on the same `outDir` resumes by stage
    * marker.
    */
  def compact(spark: SparkSession, dirs: Seq[String], outDir: String): IndexManifest = {
    import spark.implicits._
    require(dirs.nonEmpty, "nothing to compact")
    require(!dirs.contains(outDir), s"cannot compact into an input directory: $outDir")
    val manifests = dirs.map(d =>
      IndexManifest.fromJson(graft.core.Fs.readString(spark, s"$d/manifest.json")))
    val configs = manifests.map(m => IndexConfig(tokenizerName = m.tokenizerName,
      withPositions = m.withPositions, withWeights = m.withWeights, nShards = m.nShards,
      buildPartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt,
      hotTermDf = m.hotTermDf, nSalts = m.nSalts)).distinct
    require(configs.size == 1, s"inputs disagree on the index config: ${configs.mkString(", ")}")
    require(manifests.forall(_.formatVersion == IndexManifest.FormatVersion),
      s"an input has an old posting layout (need v${IndexManifest.FormatVersion}) — rebuild it")
    val cfg = configs.head
    val withPos = cfg.withPositions

    val deleted = dirs.filter(d => graft.core.Fs.exists(spark, s"$d/deletes"))
      .map(d => Deletes.deletedIdsDf(spark, d)).reduceOption(_ union _)
    def live(rows: DataFrame): DataFrame =
      deleted.fold(rows)(ids => rows.join(broadcast(ids), Seq("docId"), "left_anti"))
    def union(part: String): DataFrame = dirs.map(d => spark.read.parquet(s"$d/$part"))
      .reduce(_.unionByName(_, allowMissingColumns = true))

    val postings = live(union("segments").as[SegmentRow]
      .flatMap(r => PostingCodec.decode(r.blocks.map(_.toBlock), withPos)
        .map(p => (r.term, p.docId, p.tf, p.positions, p.weight)))
      .toDF("term", "docId", "tf", "positions", "weight"))
    runStages(spark, live(union("docs")), col("sha256"), outDir, cfg,
      builtFromContent = manifests.forall(_.builtFromContent))(
      postings = _ => postings,
      doclens = _ => live(union("norms").as[(Int, Array[Byte])]
        .flatMap { case (shard, blob) =>
          val norms = graft.codec.Norms.decode(blob)
          // a stored index may hold doclen-0 entries for docs without
          // tokens (earlier builds wrote them); a fresh build writes none
          norms.docIds.indices.filter(norms.lens(_) > 0)
            .map(i => (shard, norms.docIds(i), norms.lens(i)))
        }
        .toDF("shard", "docId", "doclen"))
        // the anti-join puts docId first; the tuple reads columns by position
        .select("shard", "docId", "doclen").as[(Int, Long, Int)],
      segments = (_, inv) => invertPostings(spark, postings, cfg, inv))
  }

  /** `rows` (with `shard` and `docId` columns) laid out for the inverter:
    * hash-partitioned by shard into `buildPartitions` partitions, so each
    * shard sits whole in one, and sorted within each by (shard, docId).
    */
  private def byShard(rows: DataFrame, cfg: IndexConfig): DataFrame =
    rows.repartition(cfg.buildPartitions, col("shard")).sortWithinPartitions("shard", "docId")

  // the segments of (term, docId, tf, positions, weight) postings: the
  // postings cross the by-shard shuffle and go to the inverter as they come
  private def invertPostings(spark: SparkSession, postings: DataFrame, cfg: IndexConfig,
      inv: Inversion): Dataset[SegmentRow] = {
    import spark.implicits._
    byShard(postings.withColumn("shard", shardOf(cfg.nShards)), cfg)
      .select("shard", "term", "docId", "tf", "positions", "weight")
      .as[(Int, String, Long, Int, Array[Int], Int)]
      .mapPartitions(inv.rows(_)(_._1)((sink, p) => sink.add(p._2, p._3, p._4, p._5, p._6)))
  }

  // a stored doc's sha256: the hex digest of `source`; null hashes as "" (a
  // null content is an empty document, as the reference stores a missing
  // column value)
  private def sha256Of(source: Column): Column =
    udf((s: String) => Sha256.hex(if (s == null) "" else s)).apply(source)

  /** The staged pipeline every entry point runs — docs, lexicon, hot terms,
    * norms, segments, manifest — writing the files listed on this object.
    * Each stage leaves its marker when done and a rerun on the same `dir`
    * skips it.
    *
    * @param docsIn   the docs table to store
    * @param sha256   each stored doc's sha256 column
    * @param postings (term, docId, tf, positions, weight) rows, given the
    *                 stored docs
    * @param doclens  (shard, docId, doclen) rows, given the stored docs
    * @param segments the segment rows, given the stored docs and the
    *                 segments stage's [[Inversion]]
    */
  private def runStages(
      spark: SparkSession,
      docsIn: DataFrame,
      sha256: Column,
      dir: String,
      cfg: IndexConfig,
      builtFromContent: Boolean
  )(postings: DataFrame => DataFrame, doclens: DataFrame => Dataset[(Int, Long, Int)],
      segments: (DataFrame, Inversion) => Dataset[SegmentRow]): IndexManifest = {
    import spark.implicits._
    // sidecar files (stage markers, hot terms, manifest) go through the
    // Hadoop FileSystem API so the index dir can be file:/hdfs:/s3a:
    val F = graft.core.Fs
    F.mkdirs(spark, dir)

    def stageDone(name: String): Boolean = F.exists(spark, s"$dir/_stage_$name.done")
    def markDone(name: String, payload: String = "ok"): Unit =
      F.writeString(spark, s"$dir/_stage_$name.done", payload)
    def stagePayload(name: String): String = F.readString(spark, s"$dir/_stage_$name.done")

    // ---- stage 1: docs (sha256 invariant, shard assignment) -------------
    // No tokenization here. Sharding is docId mod nShards (shardOf): needs
    // no corpus count (single pass over the input) and round-robins docs
    // across shards, so shard sizes stay balanced whatever the docId
    // distribution. numDocs, the sha digest and min(docId) are accumulated
    // during this same pass (the first two recorded in the stage marker for
    // resume) — the manifest step never re-reads the docs table.
    if (!stageDone("docs")) {
      // Observation = exactly-once aggregates piggybacked on the write job
      // (immune to task retries, unlike accumulator-in-UDF counting)
      val obs = org.apache.spark.sql.Observation("docStats")
      docsIn
        .withColumn("sha256", sha256)
        .withColumn("shard", shardOf(cfg.nShards))
        .observe(obs,
          count(lit(1)).as("n"),
          sum(conv(substring(col("sha256"), 1, 8), 16, 10).cast("long")).as("shaSum"),
          min(col("docId")).as("minDocId"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/docs")
      val m = obs.get
      requireNonNegativeIds(m("minDocId"))
      // empty corpus: the sha sum Observation is null — record 0
      val shaOut = m("shaSum") match { case null => 0L; case v => v }
      markDone("docs", s"${m("n")} $shaOut")
    }
    // resume robustness: a marker written by an older build version (payload
    // "ok") or otherwise unparseable falls back to recomputing the stats
    // from the docs parquet instead of crashing
    val (numDocs, shaSum) = stagePayload("docs").split(" ") match {
      case Array(n, s) if n.matches("-?\\d+") && s.matches("-?\\d+") =>
        (n.toLong, s.toLong)
      case _ =>
        val row = spark.read.parquet(s"$dir/docs").agg(
          count(lit(1)),
          sum(conv(substring(col("sha256"), 1, 8), 16, 10).cast("long"))).collect()(0)
        val recomputed = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
        markDone("docs", s"${recomputed._1} ${recomputed._2}")
        recomputed
    }
    val docs = spark.read.parquet(s"$dir/docs")

    // ---- stages 2-4: lexicon, norms, segments ---------------------------
    if (!stageDone("segments") || !stageDone("lexicon") || !stageDone("norms")) {
      // lexicon: EXACT global (df, cf) per term in one partial-agg shuffle
      // (map-side combine ships one row per distinct term per partition —
      // zipf makes that tiny next to the postings). Hot terms for salting
      // fall out of the same result: no sampling pre-pass, no separate
      // post-hoc lexicon job.
      if (!stageDone("lexicon")) {
        writeLexicon(postings(docs).groupBy("term")
          .agg(count(lit(1)).as("df"), sum("tf").as("cf")), dir)
        markDone("lexicon")
      }
      val hotTerms: Array[String] = spark.read.parquet(s"$dir/lexicon")
        .filter(col("df") >= cfg.hotTermDf).select("term").as[String].collect().sorted
      F.writeString(spark, s"$dir/_hot_terms", hotTerms.mkString("\n"))

      if (!stageDone("norms")) {
        doclens(docs)
          .groupByKey(_._1)
          .mapGroups { (shard, it) =>
            val arr = it.map(t => (t._2, t._3)).toArray.sortBy(_._1)
            (shard, graft.codec.Norms.encode(arr.iterator))
          }
          .toDF("shard", "norms")
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/norms")
        markDone("norms")
      }
      // segments, plus metrics/: one lineage row per partition, deduped by
      // partitionId against task retries
      val lineage = spark.sparkContext.collectionAccumulator[(Int, Long, Long, Long, Long)]("buildMetrics")
      segments(docs, new Inversion(cfg, spark.sparkContext.broadcast(hotTerms.toSet), lineage)).toDF()
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/segments")
      import scala.jdk.CollectionConverters._
      spark.createDataset(lineage.value.asScala.toSeq.groupBy(_._1).map(_._2.head).toSeq)
        .toDF("partitionId", "terms", "postings", "bytes", "elapsedMs")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/metrics")
      markDone("segments")
    }

    // ---- manifest ---------------------------------------------------------
    // All stats were captured during the build passes: numDocs + sha digest
    // from the docs-stage Observation (stage marker), totalTokens = Σcf over
    // the lexicon (tiny df/cf table; one cheap agg) — no re-read of docs,
    // norms, or segments.
    val tokStats = spark.read.parquet(s"$dir/lexicon").agg(sum("cf")).collect()(0)
    val totalTokens = if (tokStats.isNullAt(0)) 0L else tokStats.getLong(0)
    val hotTerms: Array[String] = {
      val p = s"$dir/_hot_terms"
      if (F.exists(spark, p)) F.readString(spark, p).split("\n").filter(_.nonEmpty)
      else Array.empty
    }
    val manifest = IndexManifest(
      numDocs = numDocs,
      avgDoclen = if (numDocs == 0) 0.0 else totalTokens.toDouble / numDocs,
      totalTokens = totalTokens,
      tokenizerName = cfg.tokenizerName,
      withPositions = cfg.withPositions,
      nShards = cfg.nShards,
      nSalts = cfg.nSalts,
      hotTermDf = cfg.hotTermDf,
      contentShaXor = shaSum,
      hotTerms = hotTerms,
      stagesDone = Seq("docs", "lexicon", "norms", "segments"),
      withWeights = cfg.withWeights,
      builtFromContent = builtFromContent
    )
    F.writeString(spark, s"$dir/manifest.json", IndexManifest.toJson(manifest))
    manifest
  }

  /** The one lexicon writer (bulk build, pre-tokenized build, compaction):
    * `termStats` (term, df, cf) plus `rev`, the reversed term — suffix
    * search becomes a prefix predicate on rev (the reference's KEY_WITH_SIS
    * reversed-key trick, lib/pat.c:1150, as a sargable column) — persisted
    * in term order (the PAT key-order analogue, lib/pat.c cursor order):
    * files/row-groups carry non-overlapping term ranges, so point (isin) and
    * prefix (startsWith) lookups prune to O(query terms) row groups instead
    * of scanning the lexicon. The range shuffle is over one row per distinct
    * term — noise next to the postings shuffle.
    */
  private def writeLexicon(termStats: DataFrame, dir: String): Unit =
    termStats
      .withColumn("rev", reverse(col("term")))
      .repartitionByRange(col("term")).sortWithinPartitions("term")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/lexicon")

  /** What a segments-stage task needs to run the inverter over its
    * partition: the config, the hot terms, and the lineage accumulator that
    * receives each partition's (partitionId, terms, postings, bytes,
    * elapsedMs) row.
    */
  private[index] final class Inversion(
      cfg: IndexConfig,
      hotTerms: org.apache.spark.broadcast.Broadcast[Set[String]],
      lineage: org.apache.spark.util.CollectionAccumulator[(Int, Long, Long, Long, Long)]
  ) extends Serializable {

    /** The segment rows of one partition whose elements come in (shard,
      * docId) order: each shard's elements go to a [[ShardInverter]]
      * through `add`, and the shard's rows leave before the next shard's
      * elements are read. The partition's lineage row is added once the
      * rows are exhausted (empty partitions included).
      */
    def rows[A](sorted: Iterator[A])(shardOf: A => Int)(add: (ShardInverter, A) => Unit): Iterator[SegmentRow] = {
      val partId = org.apache.spark.TaskContext.getPartitionId()
      val t0 = System.nanoTime()
      var nTerms = 0L; var nPostings = 0L; var nBytes = 0L
      val inverter = new ShardInverter(cfg.withPositions, cfg.withWeights, hotTerms.value, cfg.nSalts)
      val in = sorted.buffered
      val shards = new Iterator[Iterator[SegmentRow]] {
        def hasNext: Boolean = in.hasNext
        def next(): Iterator[SegmentRow] = {
          val shard = shardOf(in.head)
          while (in.hasNext && shardOf(in.head) == shard) add(inverter, in.next())
          inverter.drain(shard)
        }
      }
      shards.flatten.map { r =>
        nTerms += 1; nPostings += r.df
        nBytes += r.blocks.map(_.data.length.toLong).sum
        r
      } ++ {
        lineage.add((partId, nTerms, nPostings, nBytes, (System.nanoTime() - t0) / 1000000L))
        Iterator.empty
      }
    }
  }

  /** Deterministic dense docId assignment = global sort rank over the natural
    * key, without `zipWithIndex`: range-partition by key, sort within
    * partitions, then add per-partition offsets (one tiny count per
    * partition). The id of a row depends only on the total order, not on
    * partition boundaries.
    */
  def assignDocIds(spark: SparkSession, df: DataFrame, keyCols: Seq[String]): DataFrame = {
    import spark.implicits._
    val sorted = df.repartitionByRange(keyCols.map(col): _*)
      .sortWithinPartitions(keyCols.map(col): _*)
    val counts = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      Iterator((i, it.size.toLong))
    }.collect().sortBy(_._1)
    val offsets = counts.map(_._2).scanLeft(0L)(_ + _)
    val offB = spark.sparkContext.broadcast(offsets)
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("docId", org.apache.spark.sql.types.LongType, nullable = false) +: sorted.schema.fields)
    val withIds = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      var id = offB.value(i)
      it.map { row =>
        val r = org.apache.spark.sql.Row.fromSeq(id +: row.toSeq)
        id += 1
        r
      }
    }
    spark.createDataFrame(withIds, schema)
  }
}

/** Segment row: one (shard, term, salt) posting sub-list. */
final case class SegmentRow(shard: Int, term: String, salt: Int, df: Long, cf: Long, blocks: Seq[BlockRow])

/** Stored block — see [[graft.codec.PostingBlock]]. */
final case class BlockRow(firstDoc: Long, lastDoc: Long, n: Int, maxTf: Int, data: Array[Byte]) {
  def toBlock: PostingBlock = PostingBlock(firstDoc, lastDoc, n, maxTf, data)
}
