package graft.index

import graft.SparkTestBase
import graft.search.Engine
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** WITH_WEIGHT postings via buildFromPostings: score = (noccur + tscore) *
  * weight (reference lib/ii.c:6984 with tscore = summed posting weights) —
  * the weighted-vector-column semantics of the adjuster/match fixtures.
  */
class WeightedIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** The weighted index over the docs `keep` selects, built in a new dir. */
  private def weightedIndex(keep: Long => Boolean = _ => true): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_w_").toString
    // docs: 1=groonga:100, 2=mroonga:100+groonga:10, 3=ruby:100
    val pSchema = StructType(Seq(
      StructField("term", StringType), StructField("docId", LongType),
      StructField("tf", IntegerType),
      StructField("positions", ArrayType(IntegerType)),
      StructField("weight", IntegerType)))
    val postings = Seq(
      Row("groonga", 1L, 1, Seq(0), 100),
      Row("mroonga", 2L, 1, Seq(0), 100),
      Row("groonga", 2L, 1, Seq(1), 10),
      Row("ruby", 3L, 1, Seq(0), 100)
    ).filter(r => keep(r.getLong(1)))
    val dSchema = StructType(Seq(
      StructField("docId", LongType), StructField("label", StringType)))
    val docsMeta = Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "c")).filter(r => keep(r.getLong(0)))
    import scala.jdk.CollectionConverters._
    IndexBuilder.buildFromPostings(spark,
      spark.createDataFrame(docsMeta.asJava, dSchema),
      spark.createDataFrame(postings.asJava, pSchema), d,
      IndexConfig(tokenizerName = "TokenDelimit", withPositions = true,
        withWeights = true, nShards = 2, buildPartitions = 2,
        hotTermDf = 1000, nSalts = 1))
    d
  }

  private lazy val reader = new IndexReader(spark, weightedIndex())

  test("match score = (tf + weight) * clauseWeight") {
    val got = Engine.matchScores(reader, "groonga", weight = 2.0)
      .collect().map(s => s.docId -> s.score).toMap
    assert(got == Map(1L -> 202.0, 2L -> 22.0)) // (1+100)*2, (1+10)*2
  }

  test("weights survive codec roundtrip and manifest records the flag") {
    assert(reader.manifest.withWeights)
    val rows = reader.segmentsFor(Seq("groonga")).collect()
    val ps = rows.flatMap(r => graft.codec.PostingCodec.decode(r.blocks.map(_.toBlock)))
    assert(ps.map(p => p.docId -> p.weight).toMap == Map(1L -> 100, 2L -> 10))
  }

  test("lexicon and norms derive from postings input") {
    import spark.implicits._
    val lex = reader.lexicon.select("term", "df", "cf").as[(String, Long, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(lex("groonga") == ((2L, 2L)))
    assert(reader.manifest.numDocs == 3)
  }

  test("Deletes.compact keeps the stored weighted postings") {
    val dir = weightedIndex()
    assert(Deletes.delete(new IndexReader(spark, dir), col("docId") === 3L) == 1)
    val cDir = java.nio.file.Files.createTempDirectory("graft_wc_").toString
    val m = Deletes.compact(spark, new IndexReader(spark, dir), cDir)
    assert(!m.builtFromContent && m.withWeights && m.numDocs == 2)
    val compacted = new IndexReader(spark, cDir)
    val fresh = new IndexReader(spark, weightedIndex(_ != 3L))
    for (q <- Seq("groonga", "mroonga", "ruby")) {
      def scores(r: IndexReader) =
        Engine.matchScores(r, q, weight = 2.0).collect().map(s => s.docId -> s.score).toMap
      assert(scores(compacted) == scores(fresh), q)
    }
    assert(Engine.matchScores(compacted, "groonga").collect().map(_.docId).toSet == Set(1L, 2L))
  }
}
