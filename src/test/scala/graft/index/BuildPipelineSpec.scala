package graft.index

import graft.SparkTestBase
import graft.analysis.Tokenizers
import graft.streaming.IncrementalIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `build`, `buildFromPostings` and compaction run one staged pipeline: fed
  * the postings `build` derives itself, `buildFromPostings` writes the same
  * index files and leaves the same stage markers, and compacting indexes
  * (base + delta, or tombstones) writes the files a fresh build over the
  * live docs writes.
  */
class BuildPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val docs = Seq(
    0L -> "the quick brown fox",
    1L -> "the lazy dog and the fox",
    2L -> "Kurosawa Akira\uFFFEdrama\uFFFEfilm\uFFFEthe",
    3L -> "the film noir",
    4L -> "東京都の天気",
    5L -> "fox film the end",
    6L -> "a dog",
    7L -> "the the the")
  // hot terms (df >= 3) are salted over 4 sub-lists
  private val cfg = IndexConfig(tokenizerName = "TokenBigram", nShards = 2,
    buildPartitions = 3, hotTermDf = 3L, nSalts = 4)

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(s"graft_pipe_${name}_").toString
  private def docsDf(ids: Set[Long]): DataFrame = {
    import spark.implicits._
    docs.filter(d => ids(d._1)).toDF("docId", "content")
  }
  private def postingsDf(ids: Set[Long]): DataFrame = {
    import spark.implicits._
    docs.filter(d => ids(d._1)).flatMap { case (docId, content) =>
      DocCombiner.docPostings(Tokenizers.byName(cfg.tokenizerName),
        new DocCombiner(cfg.withPositions), docId, content).toSeq
    }.toDF("term", "docId", "tf", "positions")
  }
  private val all = docs.map(_._1).toSet

  private def lexicon(d: String) = {
    import spark.implicits._
    spark.read.parquet(s"$d/lexicon")
      .select("term", "df", "cf", "rev").as[(String, Long, Long, String)].collect().sorted.toSeq
  }
  private def norms(d: String) = {
    import spark.implicits._
    spark.read.parquet(s"$d/norms").as[(Int, Array[Byte])]
      .collect().map { case (s, blob) => (s, blob.toSeq) }.sortBy(_._1).toSeq
  }
  private def segments(d: String) = {
    import spark.implicits._
    spark.read.parquet(s"$d/segments").as[SegmentRow].collect()
      .map(r => ((r.shard, r.term, r.salt), (r.df, r.cf,
        r.blocks.map(b => (b.firstDoc, b.lastDoc, b.n, b.maxTf, b.data.toSeq)))))
      .sortBy(_._1).toSeq
  }
  private def manifest(d: String) = graft.core.Fs.readString(spark, s"$d/manifest.json")

  /** The index at `got` holds the lexicon, norms, segments and manifest of
    * the index at `want`.
    */
  private def assertSameIndex(got: String, want: String): Unit = {
    assert(lexicon(got) == lexicon(want))
    assert(norms(got) == norms(want))
    assert(segments(got) == segments(want))
    assert(manifest(got) == manifest(want))
  }

  /** A base index over docs 0-4 and a delta over 5-7. */
  private def baseAndDelta(): (String, String) = {
    val base = tmp("base")
    val delta = tmp("delta")
    IndexBuilder.build(spark, docsDf(Set(0L, 1L, 2L, 3L, 4L)), base, cfg)
    IndexBuilder.build(spark, docsDf(Set(5L, 6L, 7L)), delta, cfg)
    (base, delta)
  }

  test("buildFromPostings on build's own postings writes build's index") {
    val dirB = tmp("b")
    val dirP = tmp("p")
    val mB = IndexBuilder.build(spark, docsDf(all), dirB, cfg)
    val mP = IndexBuilder.buildFromPostings(spark, docsDf(all), postingsDf(all), dirP, cfg)

    assert(mB.hotTerms.toSeq == Seq("fox", "the"))
    assert(segments(dirB).exists(_._1._3 > 0), "no salted sub-list")
    assert(lexicon(dirP) == lexicon(dirB))
    assert(norms(dirP) == norms(dirB))
    assert(segments(dirP) == segments(dirB))

    assert(mB.builtFromContent && !mP.builtFromContent)
    def rest(m: IndexManifest) =
      IndexManifest.toJson(m.copy(contentShaXor = 0L, builtFromContent = true))
    assert(rest(mP) == rest(mB))

    for (f <- Seq("_stage_docs.done", "_stage_lexicon.done", "_stage_norms.done",
        "_stage_segments.done", "_hot_terms"))
      assert(graft.core.Fs.exists(spark, s"$dirP/$f"), f)
  }

  test("IncrementalIndex.compact of base + delta writes build's index over the union") {
    val (base, delta) = baseAndDelta()
    // fox (df 2 + 1) reaches hotTermDf only in the union
    for (d <- Seq(base, delta))
      assert(!new IndexReader(spark, d).manifest.hotTerms.contains("fox"))
    val merged = tmp("merged")
    val bulk = tmp("bulk")
    val m = IncrementalIndex.compact(spark, Seq(base, delta), merged)
    IndexBuilder.build(spark, docsDf(all), bulk, cfg)
    assert(m.hotTerms.toSeq == Seq("fox", "the"))
    assert(segments(merged).exists(r => r._1._2 == "fox" && r._1._3 > 0), "fox not salted")
    assertSameIndex(merged, bulk)
  }

  test("compacting with a tombstone in the delta writes build's index over the live docs") {
    val (base, delta) = baseAndDelta()
    assert(Deletes.delete(new IndexReader(spark, delta), col("docId") === 6L) == 1)
    val merged = tmp("merged")
    val bulk = tmp("bulk")
    val m = IncrementalIndex.compact(spark, Seq(base, delta), merged)
    IndexBuilder.build(spark, docsDf(all - 6L), bulk, cfg)
    assert(m.numDocs == 7)
    assert(!graft.core.Fs.exists(spark, s"$merged/deletes"))
    assertSameIndex(merged, bulk)
  }

  test("Deletes.compact of a buildFromPostings index writes buildFromPostings' index over the live rows") {
    val dir = tmp("p")
    IndexBuilder.buildFromPostings(spark, docsDf(all), postingsDf(all), dir, cfg)
    // doc 1 holds the fox that makes it hot: the compacted index drops its salting
    assert(Deletes.delete(new IndexReader(spark, dir), col("docId") === 1L) == 1)
    val compacted = tmp("compacted")
    val fresh = tmp("fresh")
    val m = Deletes.compact(spark, new IndexReader(spark, dir), compacted)
    IndexBuilder.buildFromPostings(spark, docsDf(all - 1L), postingsDf(all - 1L), fresh, cfg)
    assert(!m.builtFromContent && m.numDocs == 7)
    assert(!m.hotTerms.contains("fox"))
    assertSameIndex(compacted, fresh)
  }

  test("compaction resumes past its completed stages") {
    val (base, delta) = baseAndDelta()
    val out = tmp("merged")
    IncrementalIndex.compact(spark, Seq(base, delta), out)
    val before = (lexicon(out), norms(out), segments(out), manifest(out))
    def files(part: String) = new java.io.File(s"$out/$part").list().toSet
    val kept = Seq("docs", "lexicon", "norms").map(files)

    for (f <- Seq("_stage_segments.done", "segments", "manifest.json"))
      assert(org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/$f")), f)
    IncrementalIndex.compact(spark, Seq(base, delta), out)
    assert((lexicon(out), norms(out), segments(out), manifest(out)) == before)
    // the docs, lexicon and norms stages were skipped, not rewritten
    assert(Seq("docs", "lexicon", "norms").map(files) == kept)
  }
}
