package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Record deletion — Groonga's `delete` / `truncate` commands (reference
  * lib/proc.c:5207-5211, grn_ii_truncate lib/grn_ii.h:171) re-expressed
  * LSM-style for immutable distributed storage: deletes APPEND docId
  * tombstone files under `<index>/deletes/`; every query path subtracts the
  * tombstone set; `compact` rewrites the index without the deleted docs
  * through [[IndexBuilder.compact]] (the mutate-in-place of the reference's
  * mmap'd segments has no distributed analogue — tombstone-plus-rewrite is
  * the Iceberg/Delta pattern for the same contract).
  *
  * Tombstones broadcast to executors (they are small between compactions);
  * at 10^12-doc scale they would instead co-partition with the shards, the
  * same regime note as the norms sidecar.
  */
object Deletes {

  /** Tombstone every doc matching `cond`. Returns the number of NEW
    * tombstones. Reopen the reader (or call `reader.invalidateDeletes()`)
    * to observe the deletion.
    */
  def delete(reader: IndexReader, cond: Column): Long = {
    val ids = reader.docs.filter(cond).select("docId")
    val n = ids.count()
    if (n > 0)
      ids.write.mode("append").parquet(s"${reader.dir}/deletes")
    n
  }

  /** Tombstone every doc (reference `truncate`). */
  def truncate(reader: IndexReader): Long = delete(reader, lit(true))

  /** Rewrite the index at `newDir` without tombstoned docs — compaction.
    * One [[IndexBuilder.compact]] over the stored postings, with the
    * config the index's manifest records: the result is identical to a
    * fresh build (or `buildFromPostings`) over the live docs.
    */
  def compact(spark: SparkSession, reader: IndexReader, newDir: String): IndexManifest =
    IndexBuilder.compact(spark, Seq(reader.dir), newDir)

  private[index] def deletedIdsDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    if (graft.core.Fs.exists(spark, s"$dir/deletes"))
      spark.read.parquet(s"$dir/deletes").select("docId").distinct()
    else spark.emptyDataset[Long].toDF("docId")
  }
}
