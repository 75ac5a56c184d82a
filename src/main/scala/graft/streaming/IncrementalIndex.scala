package graft.streaming

import graft.codec.{Norms, PostingCodec}
import graft.index.{BlockRow, IndexBuilder, IndexConfig, IndexManifest, SegmentRow}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental index maintenance — the Spark-native form of the
  * reference's real-time update path (column-set hooks →
  * grn_ii_column_update, reference lib/db.c:7747 + lib/ii.c): new
  * documents arrive as a stream; each micro-batch bulk-builds a DELTA
  * index (the same three-phase build, so every invariant — sha256
  * lineage, per-partition metrics, posting layout — holds for deltas
  * too); a periodic [[compact]] sort-merges deltas into the base, the
  * buffer→chunk merge of the reference's two-tier design at segment
  * granularity.
  *
  * Queries over base+deltas between compactions: union the segment
  * tables of all live directories (posting lists for one (term, shard)
  * may then appear in several rows — the engine's salt-merge path
  * already handles multi-row terms).
  */
object IncrementalIndex {

  /** Attach a streaming docs source (columns docId, content, ...) —
    * each micro-batch lands as `$baseDir/deltas/batch_<id>`.
    */
  def attach(
      stream: DataFrame,
      baseDir: String,
      cfg: IndexConfig,
      checkpoint: String
  ): StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          IndexBuilder.build(batch.sparkSession, batch,
            s"$baseDir/deltas/batch_$id", cfg): Unit
        }
      }
      .start()
  }

  def deltaDirs(spark: SparkSession, baseDir: String): Seq[String] =
    graft.core.Fs.listDirNames(spark, s"$baseDir/deltas")
      .filter(d => graft.core.Fs.exists(spark,
        s"$baseDir/deltas/$d/manifest.json"))
      .sorted.map(d => s"$baseDir/deltas/$d")

  /** Sort-merge base + delta indexes into `outDir`: posting lists of the
    * same (term, shard, salt) are decoded, merged by docId, and
    * re-encoded (block metadata stays exact); docs/norms/lexicon/manifest
    * merge accordingly. One shuffle keyed by (term, shard, salt) — the
    * same key and layout as the bulk build, so compaction scales exactly
    * like the build itself.
    */
  def compact(spark: SparkSession, dirs: Seq[String], outDir: String): IndexManifest = {
    import spark.implicits._
    require(dirs.nonEmpty, "nothing to compact")
    val manifests = dirs.map(d =>
      IndexManifest.fromJson(graft.core.Fs.readString(spark, s"$d/manifest.json")))
    require(manifests.map(m => (m.tokenizerName, m.withPositions, m.nShards, m.withWeights)).distinct.size == 1,
      "incompatible index configs (tokenizer/positions/shards/weights must match)")
    val m0 = manifests.head
    graft.core.Fs.mkdirs(spark, outDir)

    // docs: union (docIds must be globally unique across deltas)
    dirs.map(d => spark.read.parquet(s"$d/docs"))
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/docs")

    // tombstones carry forward: union the inputs' deletes so a merge never
    // resurrects deleted docs (queries keep subtracting them until a
    // Deletes.compact physically drops the rows)
    val deleteDirs = dirs.filter(d => graft.core.Fs.exists(spark, s"$d/deletes"))
    if (deleteDirs.nonEmpty) {
      deleteDirs.map(d => spark.read.parquet(s"$d/deletes"))
        .reduce(_ unionByName _).distinct()
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/deletes")
    }

    // segments: merge posting lists per (term, shard, salt)
    val withPos = m0.withPositions
    val withW = m0.withWeights
    val allSegs = dirs.map(d => spark.read.parquet(s"$d/segments").as[SegmentRow])
      .reduce(_ unionByName _)
    allSegs.groupByKey(r => (r.term, r.shard, r.salt))
      .mapGroups { (key: (String, Int, Int), rows: Iterator[SegmentRow]) =>
        val (term, shard, salt) = key
        val all = rows.toSeq
        if (all.size == 1) all.head
        else {
          val merged = graft.search.Searcher.mergeSalts(all, withPos)
          val (blocks, df, cf) = PostingCodec.encode(merged.iterator, withPos, withW)
          SegmentRow(shard, term, salt, df, cf,
            blocks.map(b => BlockRow(b.firstDoc, b.lastDoc, b.n, b.maxTf, b.data)))
        }
      }
      .toDF()
      .repartitionByRange(col("term"), col("shard"))
      .sortWithinPartitions("term", "shard", "salt")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/segments")

    // norms: concat per-shard blobs (docId-sorted merge)
    dirs.map(d => spark.read.parquet(s"$d/norms").as[(Int, Array[Byte])])
      .reduce(_ unionByName _)
      .groupByKey(_._1)
      .mapGroups { (shard, rows) =>
        val all = rows.flatMap { case (_, blob) =>
          val lk = Norms.decode(blob)
          lk.docIds.zip(lk.lens)
        }.toArray.sortBy(_._1)
        (shard, Norms.encode(all.iterator))
      }
      .toDF("shard", "norms")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/norms")

    // lexicon: re-aggregate the merged segments through the build's writer
    IndexBuilder.writeLexicon(spark.read.parquet(s"$outDir/segments")
      .groupBy("term").agg(sum("df").as("df"), sum("cf").as("cf")), outDir)

    // metrics lineage: union of input metrics tagged by source dir
    dirs.zipWithIndex.map { case (d, i) =>
      spark.read.parquet(s"$d/metrics").withColumn("sourceIdx", lit(i))
    }.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/metrics")

    val merged = IndexManifest(
      numDocs = manifests.map(_.numDocs).sum,
      avgDoclen = {
        val tt = manifests.map(_.totalTokens).sum
        val nd = manifests.map(_.numDocs).sum
        if (nd == 0) 0.0 else tt.toDouble / nd
      },
      totalTokens = manifests.map(_.totalTokens).sum,
      tokenizerName = m0.tokenizerName,
      withPositions = m0.withPositions,
      nShards = m0.nShards,
      nSalts = manifests.map(_.nSalts).max,
      contentShaXor = manifests.map(_.contentShaXor).sum,
      hotTerms = manifests.flatMap(_.hotTerms).distinct.sorted.toArray,
      stagesDone = Seq("docs", "segments", "norms", "lexicon"),
      withWeights = m0.withWeights,
      builtFromContent = manifests.forall(_.builtFromContent)
    )
    graft.core.Fs.writeString(spark, s"$outDir/manifest.json", IndexManifest.toJson(merged))
    merged
  }
}
