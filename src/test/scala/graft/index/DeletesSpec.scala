package graft.index

import graft.SparkTestBase
import graft.search.Engine
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tombstone delete / truncate / compact semantics (reference delete /
  * truncate commands, lib/proc.c:5207): every query path subtracts
  * tombstones; compaction reproduces a fresh build over the live docs.
  */
class DeletesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val rows = Seq(
    (0L, "spark sql engine"),
    (1L, "spark streaming"),
    (2L, "flink streaming"),
    (3L, "spark spark core"),
    (4L, "batch engine")
  )

  private def freshIndex(): String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_del_").toString
    IndexBuilder.build(spark, rows.toDF("docId", "content"), d,
      IndexConfig(tokenizerName = "TokenDelimit", nShards = 2,
        buildPartitions = 2, hotTermDf = 1000, nSalts = 2))
    d
  }

  test("delete removes docs from match, bm25, or-terms, and docs-scan paths") {
    val dir = freshIndex()
    val r0 = new IndexReader(spark, dir)
    assert(Deletes.delete(r0, col("docId") === 1L || col("docId") === 3L) == 2)
    val r = new IndexReader(spark, dir) // reopen to observe

    val m = Engine.matchScores(r, "spark").collect().map(_.docId).toSet
    assert(m == Set(0L))

    val b = Engine.bm25TopK(r, "spark engine", 10).collect().map(_.docId).toSet
    assert(b == Set(0L, 4L)) // 1,3 tombstoned; 2 has neither term

    val p = Engine.prefixSearch(r, "s").collect().map(_.docId).toSet
    assert(!p.contains(1L) && !p.contains(3L))

    assert(r.liveDocs.count() == 3)
  }

  test("wand and exhaustive agree under deletion") {
    val dir = freshIndex()
    Deletes.delete(new IndexReader(spark, dir), col("docId") === 0L)
    val r = new IndexReader(spark, dir)
    val w = Engine.bm25TopK(r, "spark engine", 10, useWand = true).collect().toSeq.sortBy(_.docId)
    val e = Engine.bm25TopK(r, "spark engine", 10, useWand = false).collect().toSeq.sortBy(_.docId)
    assert(w == e)
    assert(!w.exists(_.docId == 0L))
  }

  test("truncate tombstones everything; compact rebuilds without tombstones") {
    import spark.implicits._
    val dir = freshIndex()
    val r0 = new IndexReader(spark, dir)
    Deletes.delete(r0, col("docId") === 2L)
    val r1 = new IndexReader(spark, dir)

    // compact → fresh index without doc 2, no tombstones
    val cDir = java.nio.file.Files.createTempDirectory("graft_delc_").toString
    val m = Deletes.compact(spark, r1, cDir)
    assert(m.numDocs == 4)
    val rc = new IndexReader(spark, cDir)
    assert(rc.deletedIds.isEmpty)
    assert(Engine.matchScores(rc, "streaming").collect().map(_.docId).toSet == Set(1L))
    // compacted lexicon df is exact for live docs
    val df = rc.lexicon.filter(col("term") === "streaming").select("df").as[Long].head()
    assert(df == 1L)

    // truncate: all gone
    val dir2 = freshIndex()
    Deletes.truncate(new IndexReader(spark, dir2))
    val rt = new IndexReader(spark, dir2)
    assert(rt.liveDocs.count() == 0)
    assert(Engine.matchScores(rt, "spark").collect().isEmpty)
  }
}
