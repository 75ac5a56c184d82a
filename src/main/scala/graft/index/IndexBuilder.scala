package graft.index

import graft.analysis.{Tokenizers, TokenizeMode}
import graft.codec.{PostingCodec, PostingBlock}
import graft.core.{Posting, Sha256}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, SaveMode}
import org.apache.spark.sql.functions._

/** Build configuration.
  *
  * @param tokenizerName analysis chain (must match at query time)
  * @param withPositions store token positions (needed for phrase/NEAR)
  * @param nShards       document shards — the unit of query parallelism; each
  *                      shard holds a complete sub-index for its docId range
  *                      (scale knob: at 10^12 docs, thousands of shards)
  * @param buildPartitions shuffle partitions of the (shard,term,salt) encode
  * @param hotTermDf     df threshold above which a term's postings are salted
  *                      across `nSalts` sub-lists during the build shuffle
  *                      (defuses reducer skew on `if`/`return`-class terms);
  *                      hot terms come EXACTLY from the lexicon stage
  * @param nSalts        salt fan-out for hot terms
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
    nSalts: Int = 8,
    seed: Long = 42L
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

  // dependency-free JSON (values are numbers/strings/flat arrays)
  def toJson(m: IndexManifest): String = {
    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    s"""{"numDocs":${m.numDocs},"avgDoclen":${m.avgDoclen},"totalTokens":${m.totalTokens},
       |"formatVersion":${m.formatVersion},
       |"tokenizerName":${js(m.tokenizerName)},"withPositions":${m.withPositions},
       |"withWeights":${m.withWeights},"builtFromContent":${m.builtFromContent},
       |"nShards":${m.nShards},"nSalts":${m.nSalts},
       |"contentShaXor":${m.contentShaXor},
       |"hotTerms":[${m.hotTerms.map(js).mkString(",")}],
       |"stagesDone":[${m.stagesDone.map(js).mkString(",")}]}""".stripMargin
  }

  def fromJson(s: String): IndexManifest = {
    def num(k: String): String = {
      val p = java.util.regex.Pattern.compile("\"" + k + "\":([-0-9.Ee]+)")
      val mt = p.matcher(s); require(mt.find(), s"manifest missing $k"); mt.group(1)
    }
    def str(k: String): String = {
      val p = java.util.regex.Pattern.compile("\"" + k + "\":\"((?:[^\"\\\\]|\\\\.)*)\"")
      val mt = p.matcher(s); require(mt.find(), s"manifest missing $k")
      mt.group(1).replace("\\\"", "\"").replace("\\\\", "\\")
    }
    def arr(k: String): Array[String] = {
      val p = java.util.regex.Pattern.compile("\"" + k + "\":\\[(.*?)\\]", java.util.regex.Pattern.DOTALL)
      val mt = p.matcher(s); require(mt.find(), s"manifest missing $k")
      val body = mt.group(1).trim
      if (body.isEmpty) Array.empty
      else body.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
    }
    IndexManifest(
      numDocs = num("numDocs").toLong,
      avgDoclen = num("avgDoclen").toDouble,
      totalTokens = num("totalTokens").toLong,
      tokenizerName = str("tokenizerName"),
      withPositions = s.contains("\"withPositions\":true"),
      nShards = num("nShards").toInt,
      nSalts = num("nSalts").toInt,
      contentShaXor = num("contentShaXor").toLong,
      hotTerms = arr("hotTerms"),
      stagesDone = arr("stagesDone").toSeq,
      withWeights = s.contains("\"withWeights\":true"),
      builtFromContent = s.contains("\"builtFromContent\":true"),
      // manifests written before versioning carry v2-or-older payloads
      formatVersion =
        if (s.contains("\"formatVersion\":")) num("formatVersion").toInt else 0
    )
  }
}

/** Offline inverted-index bulk build — the Spark-first re-expression of
  * Groonga's `grn_ii_build` three-phase pipeline (reference lib/ii.c:8802:
  * tokenize-parse → block spill → key-ordered k-way merge + re-encode):
  *
  *   phase 1 (parse)  = `flatMap(tokenize)` with per-document local combine,
  *   phase 2 (spill)  = the shuffle, keyed (shard, term, salt) — hot terms
  *                      salted by docId hash to defuse reducer skew,
  *   phase 3 (commit) = `sortWithinPartitions(shard, term, salt, docId)` +
  *                      streaming `mapPartitions` encoder producing
  *                      delta+varint blocks with skip entries and block-max tf
  *                      (the chunk/dgap layout of reference lib/ii.c:2659).
  *
  * Outputs under `dir`: docs/ (docId, meta, doclen, sha256, shard),
  * segments/ (shard, term, salt, df, cf, blocks), lexicon/ (term, df, cf),
  * metrics/ (per-partition lineage rows: terms, postings, bytes, elapsedMs),
  * manifest.json. Each stage is checkpointed; `build` resumes past completed
  * stages (north-rule resumability).
  */
object IndexBuilder {

  /** Input contract: columns (docId: Long, content: String) plus pass-through
    * metadata columns. docId must be unique; use [[assignDocIds]] when the
    * source has no id.
    */
  def build(spark: SparkSession, docsIn: DataFrame, dir: String, cfg: IndexConfig): IndexManifest = {
    import spark.implicits._
    // sidecar files (stage markers, hot terms, manifest) go through the
    // Hadoop FileSystem API so the index dir can be file:/hdfs:/s3a:
    val F = graft.core.Fs
    F.mkdirs(spark, dir)

    def stageDone(name: String): Boolean = F.exists(spark, s"$dir/_stage_$name.done")
    def markDone(name: String, payload: String = "ok"): Unit =
      F.writeString(spark, s"$dir/_stage_$name.done", payload)
    def stagePayload(name: String): String = F.readString(spark, s"$dir/_stage_$name.done")
    var tLast = System.nanoTime()
    def lap(what: String): Unit = {
      val t = System.nanoTime()
      System.err.println(f"[build] $what: ${(t - tLast) / 1e9}%.2fs")
      tLast = t
    }

    val tokenizerName = cfg.tokenizerName

    // ---- stage 1: docs (sha256 invariant, shard assignment) -------------
    // No tokenization here — the norms stage counts doclen in its own pass
    // through DocCombiner.tokenize, the postings pass's tokenization, so it
    // equals the sum of tf per doc. Sharding is docId mod nShards: needs no corpus count (single
    // pass over the input) and round-robins docs across shards, so shard
    // sizes stay balanced whatever the docId distribution.
    // numDocs and the sha digest are accumulated during this same pass (and
    // recorded in the stage marker for resume) — the manifest step never
    // re-reads the docs table.
    if (!stageDone("docs")) {
      // null content = empty document (the reference stores missing column
      // values as empty; tokenizing null yields no postings)
      val shaUdf = udf { (content: String) => Sha256.hex(if (content == null) "" else content) }
      // Observation = exactly-once aggregates piggybacked on the write job
      // (immune to task retries, unlike accumulator-in-UDF counting)
      val obs = org.apache.spark.sql.Observation("docStats")
      docsIn
        .withColumn("sha256", shaUdf(col("content")))
        .withColumn("shard", pmod(col("docId"), lit(cfg.nShards)).cast("int"))
        .observe(obs,
          count(lit(1)).as("n"),
          sum(conv(substring(col("sha256"), 1, 8), 16, 10).cast("long")).as("shaSum"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/docs")
      val m = obs.get
      // empty corpus: the sha sum Observation is null — record 0
      val shaOut = m("shaSum") match { case null => 0L; case v => v }
      markDone("docs", s"${m("n")} $shaOut")
      lap("stage docs")
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
    // Each stage is ONE pipelined pass over the docs parquet through the
    // fused zero-allocation tokenize kernel. No cross-stage persist: on this
    // hardware class the DataFrame cache materialization (columnar re-encode
    // of ~50M posting rows) is memory-bandwidth-bound and does NOT scale
    // with cores, while the tokenize kernel is compute-dense and does —
    // re-tokenizing per consumer is both faster and scales better. (At
    // 10^12 docs the same argument holds: a full-corpus cache would not fit
    // regardless; per-stage streaming passes are the only shape that works.)
    if (!stageDone("segments") || !stageDone("lexicon") || !stageDone("norms")) {
      val tokName = tokenizerName
      val withPos = cfg.withPositions

      // one tokenize+combine pass: (term, docId, tf, positions)
      def postings: DataFrame = docs.select("docId", "content").as[(Long, String)]
        .mapPartitions { iter =>
          val tok = Tokenizers.byName(tokName)
          val comb = new DocCombiner(withPos)
          iter.flatMap { case (docId, content) =>
            if (content == null) Array.empty[(String, Long, Int, Array[Int])]
            else DocCombiner.docPostings(tok, comb, docId, content)
          }
        }
        .toDF("term", "docId", "tf", "positions")

      // lexicon: EXACT global (df, cf) per term in one partial-agg shuffle
      // (map-side combine ships one row per distinct term per partition —
      // zipf makes that tiny next to the postings). Hot terms for salting
      // fall out of the same result: no sampling pre-pass, no separate
      // post-hoc lexicon job.
      if (!stageDone("lexicon")) {
        postings.groupBy("term")
          .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
          // rev = reversed term: suffix search becomes a prefix predicate on
          // rev (the reference's KEY_WITH_SIS reversed-key trick,
          // lib/pat.c:1150, as a sargable column)
          .withColumn("rev", reverse(col("term")))
          // persist in term order (the PAT key-order analogue, lib/pat.c
          // cursor order): files/row-groups carry non-overlapping term
          // ranges, so point (isin) and prefix (startsWith) lookups prune
          // to O(query terms) row groups instead of scanning the lexicon.
          // The range shuffle is over one row per distinct term — noise
          // next to the postings shuffle.
          .repartitionByRange(col("term")).sortWithinPartitions("term")
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/lexicon")
        markDone("lexicon")
        lap("stage lexicon")
      }
      val lex = spark.read.parquet(s"$dir/lexicon")
      val hotTerms: Array[String] =
        lex.filter(col("df") >= cfg.hotTermDf).select("term").as[String].collect().sorted
      F.writeString(spark, s"$dir/_hot_terms", hotTerms.mkString("\n"))
      lap("hot terms from lexicon")

      // norms sidecar: doclen per doc, computed by a dedicated counting pass
      // (tokenize only — no combine, no posting rows, no shuffle of
      // postings; ~one int row per doc reaches the tiny by-shard shuffle)
      if (!stageDone("norms")) {
        val nShardsL = cfg.nShards
        docs.select("docId", "content").as[(Long, String)]
          .mapPartitions { iter =>
            val tok = Tokenizers.byName(tokName)
            val scratch = new graft.analysis.Normalizer.Scratch
            val counter = new graft.analysis.AddSink {
              var n = 0
              def acceptSpan(s: Int, e: Int, p: Int): Unit = n += 1
              def acceptTerm(t: String, p: Int): Unit = n += 1
            }
            iter.map { case (docId, content) =>
              counter.n = 0
              // the postings pass's tokenization, so doclen = Σ tf
              if (content != null) DocCombiner.tokenize(tok, scratch, content, counter)(_ => ())
              ((docId % nShardsL).toInt, docId, counter.n)
            }
          }
          .groupByKey(_._1)
          .mapGroups { (shard, it) =>
            val arr = it.map(t => (t._2, t._3)).toArray.sortBy(_._1)
            (shard, graft.codec.Norms.encode(arr.iterator))
          }
          .toDF("shard", "norms")
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/norms")
        markDone("norms")
        lap("stage norms")
      }
      encodeSegmentsStage(spark, postings.withColumn("weight", lit(0)), dir, cfg, hotTerms)
      lap("stage segments encode+write")
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
      tokenizerName = tokenizerName,
      withPositions = cfg.withPositions,
      nShards = cfg.nShards,
      nSalts = cfg.nSalts,
      contentShaXor = shaSum,
      hotTerms = hotTerms,
      stagesDone = Seq("docs", "lexicon", "norms", "segments")
    )
    lap("stage manifest stats")
    F.writeString(spark, s"$dir/manifest.json", IndexManifest.toJson(manifest))
    manifest
  }

  /** The shuffle+encode stage shared by both build entry points.
    * `postingsW` columns: (term, docId, tf, positions, weight).
    *
    * HASH partitioning on (term, shard, salt), sorted within partitions:
    * hash (not range) because a range partitioner needs a full sampling
    * pass over the postings — a whole extra evaluation of the corpus at
    * 10^12-doc scale. All rows of one (term, shard, salt) key still land
    * in one partition (complete posting sub-lists), hot terms still spread
    * across `nSalts` reducers, and the within-partition sort keeps every
    * output file term-clustered so parquet row-group min/max stats prune
    * query terms. What hash gives up vs range is only cross-FILE term
    * locality — row-group pruning and the serving-mode in-memory cache make
    * that immaterial, while the saved pass is a full corpus scan.
    */
  private def encodeSegmentsStage(
      spark: SparkSession,
      postingsW: DataFrame,
      dir: String,
      cfg: IndexConfig,
      hotTerms: Array[String]
  ): Unit = {
    import spark.implicits._
    val withPos = cfg.withPositions
    val withW = cfg.withWeights
    val hotB = spark.sparkContext.broadcast(hotTerms.toSet)
    val nSalts = cfg.nSalts
    val saltUdf = udf { (term: String, docId: Long) =>
      if (hotB.value.contains(term)) (java.lang.Long.remainderUnsigned(docId * 0x9e3779b97f4a7c15L, nSalts.toLong)).toInt
      else 0
    }
    val keyed = postingsW
      .withColumn("shard", pmod(col("docId"), lit(cfg.nShards)).cast("int"))
      .withColumn("salt", saltUdf(col("term"), col("docId")))
      .repartition(cfg.buildPartitions, col("term"), col("shard"), col("salt"))
      .sortWithinPartitions("term", "shard", "salt", "docId")

    // streaming run-length encoder; one pass, segment rows + per-partition
    // lineage metrics via accumulator (tiny: one row per partition; deduped
    // by partitionId against task retries)
    val metricsAcc = spark.sparkContext.collectionAccumulator[(Int, Long, Long, Long, Long)]("buildMetrics")
    val segRows = keyed
      .select("term", "shard", "salt", "docId", "tf", "positions", "weight")
      .as[(String, Int, Int, Long, Int, Array[Int], Int)]
      .mapPartitions { it =>
        val partId = org.apache.spark.TaskContext.getPartitionId()
        val t0 = System.nanoTime()
        var nTerms = 0L; var nPostings = 0L; var nBytes = 0L
        val out = new scala.collection.mutable.ArrayBuffer[SegmentRow]()
        var curKey: (String, Int, Int) = null
        var pending = new scala.collection.mutable.ArrayBuffer[Posting]()
        def flush(): Unit = {
          if (curKey != null && pending.nonEmpty) {
            val (blocks, df, cf) = PostingCodec.encode(pending.iterator, withPos, withW)
            val rows = blocks.map(b => BlockRow(b.firstDoc, b.lastDoc, b.n, b.maxTf, b.data))
            out += SegmentRow(curKey._2, curKey._1, curKey._3, df, cf, rows)
            nTerms += 1; nPostings += df
            nBytes += rows.map(_.data.length.toLong).sum
            pending = new scala.collection.mutable.ArrayBuffer[Posting]()
          }
        }
        new Iterator[SegmentRow] {
          private var finished = false
          private def fill(): Unit = {
            while (out.isEmpty && it.hasNext) {
              val (term, shard, salt, docId, tf, positions, weight) = it.next()
              val key = (term, shard, salt)
              if (curKey == null) curKey = key
              else if (key != curKey) { flush(); curKey = key }
              pending += Posting(docId, tf, positions, weight)
            }
            if (out.isEmpty && !it.hasNext && !finished) {
              flush()
              finished = true
              metricsAcc.add((partId, nTerms, nPostings, nBytes,
                (System.nanoTime() - t0) / 1000000L))
            }
          }
          def hasNext: Boolean = { fill(); out.nonEmpty }
          def next(): SegmentRow = { fill(); out.remove(0) }
        }
      }
    segRows.toDF()
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/segments")

    // lineage metrics (driver-side tiny write; dedupe retried tasks)
    import scala.jdk.CollectionConverters._
    val metricRows = metricsAcc.value.asScala.toSeq
      .groupBy(_._1).map(_._2.head).toSeq
      .map { case (p, t, po, b, e) => (p, t, po, b, e) }
    spark.createDataset(metricRows)
      .toDF("partitionId", "terms", "postings", "bytes", "elapsedMs")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/metrics")
  }

  /** Pre-tokenized build — the input mode for weighted vector columns
    * (reference COLUMN_VECTOR|WITH_WEIGHT, groonga.h:323) and pre-tokenized
    * content (the U+FFFE pre-tokenized delimiter, reference
    * lib/tokenizers.c:101): the caller supplies the postings directly.
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
    graft.core.Fs.mkdirs(spark, dir)
    var postings = postingsIn
    if (!postings.columns.contains("positions"))
      postings = postings.withColumn("positions", array().cast("array<int>"))
    if (!postings.columns.contains("weight"))
      postings = postings.withColumn("weight", lit(0))

    // docs: sha over the full row JSON (the content-digest invariant for
    // tables whose "content" is structured rather than one text column)
    val shaUdf = udf { (s: String) => Sha256.hex(s) }
    val obs = org.apache.spark.sql.Observation(s"docStats_${System.identityHashCode(postingsIn)}")
    docsMeta
      .withColumn("sha256", shaUdf(to_json(struct(docsMeta.columns.map(col).toSeq: _*))))
      .withColumn("shard", pmod(col("docId"), lit(cfg.nShards)).cast("int"))
      .observe(obs,
        count(lit(1)).as("n"),
        sum(conv(substring(col("sha256"), 1, 8), 16, 10).cast("long")).as("shaSum"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/docs")
    val m = obs.get
    val numDocs = m("n").asInstanceOf[Long]
    val shaSum = m("shaSum") match { case null => 0L; case v => v.asInstanceOf[Long] }

    postings.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
      .withColumn("rev", reverse(col("term")))
      // term-ordered persistence: see the bulk build's lexicon stage
      .repartitionByRange(col("term")).sortWithinPartitions("term")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/lexicon")
    val lex = spark.read.parquet(s"$dir/lexicon")
    val hotTerms: Array[String] =
      lex.filter(col("df") >= cfg.hotTermDf).select("term").as[String].collect().sorted

    // norms from the postings (doclen = Σ tf per doc)
    postings
      .withColumn("shard", pmod(col("docId"), lit(cfg.nShards)).cast("int"))
      .groupBy("shard", "docId").agg(sum("tf").cast("int").as("doclen"))
      .as[(Int, Long, Int)]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val arr = it.map(t => (t._2, t._3)).toArray.sortBy(_._1)
        (shard, graft.codec.Norms.encode(arr.iterator))
      }
      .toDF("shard", "norms")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/norms")

    encodeSegmentsStage(spark, postings, dir, cfg, hotTerms)

    val tokStats = lex.agg(sum("cf")).collect()(0)
    val totalTokens = if (tokStats.isNullAt(0)) 0L else tokStats.getLong(0)
    val manifest = IndexManifest(
      numDocs = numDocs,
      avgDoclen = if (numDocs == 0) 0.0 else totalTokens.toDouble / numDocs,
      totalTokens = totalTokens,
      tokenizerName = cfg.tokenizerName,
      withPositions = cfg.withPositions,
      nShards = cfg.nShards,
      nSalts = cfg.nSalts,
      contentShaXor = shaSum,
      hotTerms = hotTerms,
      stagesDone = Seq("docs", "lexicon", "norms", "segments"),
      withWeights = cfg.withWeights,
      // externally-supplied postings: content (if stored at all) was NOT
      // what produced them, so the scan-verify escape must stay off
      builtFromContent = false
    )
    graft.core.Fs.writeString(spark, s"$dir/manifest.json", IndexManifest.toJson(manifest))
    manifest
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
