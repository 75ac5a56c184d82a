package graft.search

import graft.SparkTestBase
import graft.index.{IndexBuilder, IndexConfig, IndexReader}
import org.scalatest.funsuite.AnyFunSuite

/** Driver-local serving walks one docId space: the same corpus indexed with
  * different shard counts and salting serves the same results and scores
  * the same documents, query by query.
  */
class LocalServingLayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  // "hot" 1-4 times in every doc, "warm" in every 3rd, "mid mid" in every
  // 5th, "rare" in every 17th and "odd" in every 41st: doclens vary, and
  // many scores tie
  private val docs = (0L until 600L).map { i =>
    val words = Seq.fill(1 + (i % 4).toInt)("hot") ++
      (if (i % 3 == 0) Seq("warm") else Nil) ++
      (if (i % 5 == 0) Seq("mid", "mid") else Nil) ++
      (if (i % 17 == 0) Seq("rare") else Nil) ++
      (if (i % 41 == 0) Seq("odd") else Nil)
    (i, words.mkString(" "))
  }

  private def index(nShards: Int, nSalts: Int, hotTermDf: Long): String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory(s"graft_lsl_${nShards}_").toString
    IndexBuilder.build(spark, docs.toDF("docId", "content"), d,
      IndexConfig(tokenizerName = "TokenDelimit", nShards = nShards,
        buildPartitions = 4, hotTermDf = hotTermDf, nSalts = nSalts))
    d
  }

  test("results and documents scored do not depend on the shard layout") {
    val queries = for (q <- Seq("hot rare", "warm mid odd", "hot warm", "mid rare odd", "hot", "rare");
                       k <- Seq(1, 5, 20)) yield (q, k)
    val layouts = Seq((1, 1, Long.MaxValue), (4, 2, 100L), (16, 4, 100L))
    val runs = layouts.map { case (nShards, nSalts, hotTermDf) =>
      val ls = new LocalServing(new IndexReader(spark, index(nShards, nSalts, hotTermDf)))
      queries.map { case (q, k) =>
        val before = ls.docsScored
        val result = ls.bm25TopK(q, k)
        (result, ls.docsScored - before)
      }
    }
    assert(runs.head.forall(_._1.nonEmpty))
    for ((layout, run) <- layouts.zip(runs).tail; ((q, k), (want, got)) <- queries.zip(runs.head.zip(run))) {
      assert(got._1 == want._1, s"results of <$q> k=$k at $layout")
      assert(got._2 == want._2, s"documents scored by <$q> k=$k at $layout")
    }
  }
}
