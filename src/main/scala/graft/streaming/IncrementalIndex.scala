package graft.streaming

import graft.index.{IndexBuilder, IndexConfig, IndexManifest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental index maintenance — the Spark-native form of the
  * reference's real-time update path (column-set hooks →
  * grn_ii_column_update, reference lib/db.c:7747 + lib/ii.c): new
  * documents arrive as a stream; each micro-batch bulk-builds a DELTA
  * index (the same three-phase build, so every invariant — sha256
  * lineage, per-partition metrics, posting layout — holds for deltas
  * too); a periodic [[compact]] rewrites base and deltas as one index
  * through the same build stages, fed the stored postings (the
  * buffer→chunk merge of the reference's two-tier design, done as a
  * rebuild the way SURVEY maps `load` onto grn_ii_build). Tombstones are
  * applied, not carried forward, and a term whose df crosses `hotTermDf`
  * only in the union is salted.
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

  /** Compact base + delta indexes into `outDir`: one
    * [[graft.index.IndexBuilder.compact]], so the result is the index a bulk
    * build over the union of their live docs writes.
    */
  def compact(spark: SparkSession, dirs: Seq[String], outDir: String): IndexManifest =
    IndexBuilder.compact(spark, dirs, outDir)
}
