package graft.search

import graft.SparkTestBase
import graft.index.{IndexBuilder, IndexConfig, IndexReader}
import org.scalatest.funsuite.AnyFunSuite

/** The too-many-matches AND escape: when one operand's df dwarfs the
  * other's, the hot postings are never decoded — candidates verify against
  * the source column. Results must be identical to the pure index path.
  */
class AndAdaptiveSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val reader: IndexReader = {
    import spark.implicits._
    // "the" is hot (every doc, several occurrences); "fig"/"kiwi" are rare
    val docs = (0L until 60L).map { i =>
      val rare = if (i % 20 == 3) " fig" else if (i % 20 == 7) " kiwi fig" else ""
      (i, s"the quick the lazy word$i the end$rare")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_aa_").toString
    IndexBuilder.build(spark, docs.toDF("docId", "content"), dir,
      IndexConfig(tokenizerName = "TokenDelimit", nShards = 2,
        buildPartitions = 2, hotTermDf = 100000L, nSalts = 2))
    new IndexReader(spark, dir)
  }

  private def scoresOf(ds: org.apache.spark.sql.Dataset[ScoredDoc]): Map[Long, Double] =
    ds.collect().map(s => s.docId -> s.score).toMap

  test("scan-verify path == index AND (hot term never decoded)") {
    val idx = scoresOf(Engine.SetOps.and(
      Engine.matchScores(reader, "fig"), Engine.matchScores(reader, "the")))
    // ratio 1: df(the)=60 > 1×df(fig)=6 forces the scan-verify path
    val adaptive = scoresOf(Engine.andAdaptive(reader, "fig", "the", ratio = 1.0))
    assert(idx.nonEmpty && adaptive == idx)
    // argument order must not matter
    assert(scoresOf(Engine.andAdaptive(reader, "the", "fig", ratio = 1.0)) == idx)
  }

  test("below the ratio both operands stay on the index path, same result") {
    val idx = scoresOf(Engine.SetOps.and(
      Engine.matchScores(reader, "fig"), Engine.matchScores(reader, "kiwi")))
    val adaptive = scoresOf(Engine.andAdaptive(reader, "fig", "kiwi", ratio = 8.0))
    assert(adaptive == idx && idx.keySet == Set(7L, 27L, 47L))
  }

  test("absent term short-circuits to empty") {
    assert(Engine.andAdaptive(reader, "fig", "zzz-not-here").isEmpty)
  }

  test("an index NOT built from content never takes the scan-verify escape") {
    import spark.implicits._
    // buildFromPostings: postings are externally supplied — re-tokenizing
    // the docs' content column could disagree, so the manifest must record
    // builtFromContent=false and the escape must stay on the index path
    val postings = Seq(
      // tf=9 NOT derivable from the content text (positions array length
      // must equal tf for the positional codec)
      (0L, "fig", 1, Seq(0)), (0L, "the", 9, (1 to 9).toSeq),
      (1L, "the", 2, Seq(0, 1))
    ).toDF("docId", "term", "tf", "positions")
    val docs = Seq((0L, "fig the"), (1L, "the")).toDF("docId", "content")
    val dir = java.nio.file.Files.createTempDirectory("graft_aa_fp_").toString
    IndexBuilder.buildFromPostings(spark, docs, postings, dir,
      IndexConfig(tokenizerName = "TokenDelimit", nShards = 1,
        buildPartitions = 1, hotTermDf = 100000L, nSalts = 1))
    val r = new IndexReader(spark, dir)
    assert(!r.manifest.builtFromContent)
    // ratio 0.1 would force the escape if it were allowed; the index path
    // must keep the stored tf (9), which a content recount would turn to 1
    val got = scoresOf(Engine.andAdaptive(r, "fig", "the", ratio = 0.1))
    assert(got == Map(0L -> 10.0), s"got $got")
  }

  test("query-syntax AND takes the escape when the right term is hot") {
    import graft.query.QueryExec
    // df(the)=60 > 8 x df(fig)=6: "fig the" routes the right clause through
    // the scan verify; results must equal the plain set-algebra evaluation
    val viaQuery = scoresOf(QueryExec.run(reader, "fig the"))
    val direct = scoresOf(Engine.SetOps.and(
      Engine.matchScores(reader, "fig"), Engine.matchScores(reader, "the")))
    assert(viaQuery == direct && viaQuery.nonEmpty)
    // the escape is visible in the plan: no postings scan for "the"
    val plan = QueryExec.run(reader, "fig the").queryExecution.sparkPlan.toString
    assert(!plan.contains("term,the") && plan.contains("EqualTo(term,fig)"),
      s"hot term should not reach a postings scan:\n$plan")
    // reversed order stays on the index path (left bound is the hot term)
    val rev = scoresOf(QueryExec.run(reader, "the fig"))
    assert(rev == direct)
  }

  test("phrase hot side: scan-verify aligns positions, == index phrase AND") {
    // "the quick"/"the lazy" are phrases of hot tokens (df 60 each);
    // positions must align — token-presence AND would be wrong
    val idxQuick = scoresOf(Engine.SetOps.and(
      Engine.matchScores(reader, "fig"), Engine.matchScores(reader, "the quick")))
    val viaScan = scoresOf(Engine.andAdaptive(reader, "fig", "the quick", ratio = 1.0))
    assert(idxQuick.nonEmpty && viaScan == idxQuick)
    // phrase occurrence COUNT (not presence): "the" appears 3×/doc but
    // "the quick" exactly once → score = tf(fig) + 1
    assert(viaScan.values.forall(_ == 2.0), viaScan.toString)
    // a phrase absent as a SEQUENCE (both tokens present) yields empty on
    // both paths — alignment is really checked
    assert(Engine.andAdaptive(reader, "fig", "quick lazy", ratio = 1.0).isEmpty)
    assert(Engine.SetOps.and(Engine.matchScores(reader, "fig"),
      Engine.matchScores(reader, "quick lazy")).isEmpty)
  }

  test("phraseCount: a single token ignores its offset (posting-tf parity)") {
    import graft.core.Posting
    // one document: spark at positions {0, 2}, batch at {1}
    val spark = Posting(0L, 2, Array(0, 2))
    val batch = Posting(0L, 1, Array(1))
    def count(terms: (Posting, Array[Int])*): Int =
      Searcher.phraseCount(terms.map(_._2).toArray, terms.map(_._1).toArray)
    // a lone token can carry offset > 0 (stop-word-filtered query); the
    // single-token rule counts full tf regardless, not dropping positions
    // below the offset
    assert(count(spark -> Array(1)) == 2)
    assert(count(spark -> Array(0)) == 2)
    // multi-token alignment still honors offsets
    assert(count(spark -> Array(0), batch -> Array(1)) == 1)
    assert(count(batch -> Array(0), spark -> Array(1)) == 1)
    // and a sequence that does NOT occur counts zero
    assert(count(batch -> Array(0, 1)) == 0)
  }

  test("query-syntax quoted phrase takes the escape and matches the index path") {
    import graft.query.QueryExec
    val viaQuery = scoresOf(QueryExec.run(reader, "fig \"the lazy\""))
    val direct = scoresOf(Engine.SetOps.and(
      Engine.matchScores(reader, "fig"), Engine.matchScores(reader, "the lazy")))
    assert(viaQuery == direct && viaQuery.nonEmpty)
    // the hot phrase's postings never reach a scan
    val plan = QueryExec.run(reader, "fig \"the lazy\"")
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("term,the") && !plan.contains("term,lazy") &&
      plan.contains("EqualTo(term,fig)"),
      s"hot phrase tokens should not reach a postings scan:\n$plan")
  }
}
