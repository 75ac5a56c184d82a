package graft.index

import graft.SparkTestBase
import graft.analysis.{Tokenizers, TokenizeMode, Token}
import graft.core.Corpus
import graft.search._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end: build the sharded index over a deterministic corpus, then
  * verify every query path against a driver-side brute-force oracle that
  * shares only the tokenizer.
  */
class IndexSearchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val nDocs = 300
  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft_idx_").toString
    val files = Corpus.generate(spark, nDocs, seed = 7L, partitions = 4)
    import spark.implicits._
    val withIds = IndexBuilder.assignDocIds(spark, files.toDF(), Seq("repo", "path", "commit"))
    IndexBuilder.build(spark, withIds, d,
      IndexConfig(nShards = 4, buildPartitions = 4, hotTermDf = 50, nSalts = 3))
    d
  }
  private lazy val reader = new IndexReader(spark, dir)

  // driver-side oracle corpus: docId -> tokens (ADD mode)
  private lazy val oracle: Map[Long, Vector[Token]] = {
    reader.docs.select("docId", "content").collect()
      .map(r => r.getLong(0) -> Tokenizers.TokenBigram.tokenize(r.getString(1), TokenizeMode.Add))
      .toMap
  }

  private def bruteMatch(text: String): Map[Long, Int] = {
    val q = Tokenizers.TokenBigram.tokenize(text, TokenizeMode.Get)
    oracle.flatMap { case (docId, toks) =>
      if (q.size == 1) {
        val tf = toks.count(_.term == q.head.term)
        if (tf > 0) Some(docId -> tf) else None
      } else {
        val posByTerm = toks.groupBy(_.term).map { case (t, ts) => t -> ts.map(_.pos).toSet }
        val anchor = q.head
        val ok = q.forall(t => posByTerm.contains(t.term))
        if (!ok) None
        else {
          val bases = posByTerm(anchor.term).map(_ - anchor.pos).filter(_ >= 0)
          val n = bases.count(b => q.forall(t => posByTerm(t.term).contains(b + t.pos)))
          if (n > 0) Some(docId -> n) else None
        }
      }
    }
  }

  private def bruteBm25(text: String, k: Int, bm25: Bm25): Seq[ScoredDoc] = {
    val terms = Searcher.queryTokens(reader, text).map(_.term).distinct
    val n = oracle.size.toLong
    val dfs = terms.map(t => t -> oracle.count(_._2.exists(_.term == t)).toLong).toMap
    val avgdl = oracle.values.map(_.size).sum.toDouble / n
    val scores = oracle.flatMap { case (docId, toks) =>
      val dl = toks.size
      var s = 0.0
      var any = false
      terms.foreach { t =>
        val tf = toks.count(_.term == t)
        if (tf > 0) {
          s += bm25.idf(n, dfs(t)) * bm25.tfNorm(tf, dl, avgdl)
          any = true
        }
      }
      if (any) Some(ScoredDoc(docId, s)) else None
    }
    scores.toSeq.sortWith((a, b) => a.score > b.score || (a.score == b.score && a.docId < b.docId)).take(k)
  }

  test("build produces consistent manifest, metrics and sha invariant") {
    val m = reader.manifest
    assert(m.numDocs == nDocs)
    assert(m.stagesDone.toSet == Set("docs", "segments", "norms", "lexicon"))
    assert(reader.verifyShaInvariant())
    // lineage metrics: every build partition emitted a row; totals line up
    val met = reader.metrics.agg(sum("terms"), sum("postings")).collect()(0)
    val lexTotal = reader.lexicon.agg(sum("df")).collect()(0).getLong(0)
    assert(met.getLong(1) == lexTotal)
    // hot terms got salted: 'if' appears in every doc
    assert(m.hotTerms.nonEmpty)
    val ifRows = reader.segmentsFor(Seq("if")).collect()
    assert(ifRows.map(_.salt).distinct.length > 1, "hot term should have >1 salt")
  }

  test("single-term match: score = tf (reference noccur semantics)") {
    val got = Engine.matchScores(reader, "return").collect()
      .map(s => s.docId -> s.score.toInt).toMap
    assert(got == bruteMatch("return"))
  }

  test("hot salted term match is exact") {
    val got = Engine.matchScores(reader, "if").collect()
      .map(s => s.docId -> s.score.toInt).toMap
    assert(got == bruteMatch("if"))
  }

  test("phrase match: multi-token alignment count") {
    // a phrase that occurs in generated shape-1 lines: "if (" → tokens if,(
    val q = "if ("
    val got = Engine.matchScores(reader, q).collect().map(s => s.docId -> s.score.toInt).toMap
    val want = bruteMatch(q)
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("longer phrase with symbols") {
    // shape 3: "while (identifier < number)" — query the stable prefix
    val q = "while ("
    val got = Engine.matchScores(reader, q).collect().map(s => s.docId -> s.score.toInt).toMap
    assert(got == bruteMatch(q))
  }

  test("match weight multiplies score") {
    val w = Engine.matchScores(reader, "return", weight = 10.0).collect().map(s => s.docId -> s.score).toMap
    val base = Engine.matchScores(reader, "return").collect().map(s => s.docId -> s.score).toMap
    assert(w == base.map { case (d, s) => d -> s * 10.0 })
  }

  test("bm25 exhaustive matches brute force exactly") {
    val bm = Bm25()
    Seq("return", "if return", "while val def", "qq zz xx").foreach { q =>
      val got = Engine.bm25TopK(reader, q, 10, useWand = false).collect().toSeq
        .sortWith((a, b) => a.score > b.score || (a.score == b.score && a.docId < b.docId))
      val want = bruteBm25(q, 10, bm)
      assert(got == want, s"for query [$q]")
    }
  }

  test("WAND is rank-identical to exhaustive (property, 25 random queries)") {
    val rnd = new scala.util.Random(99)
    val vocab = reader.lexicon.select("term").collect().map(_.getString(0))
    (1 to 25).foreach { _ =>
      val nTerms = 1 + rnd.nextInt(4)
      val terms = Seq.fill(nTerms)(vocab(rnd.nextInt(vocab.length)))
      val q = terms.mkString(" ")
      val k = 1 + rnd.nextInt(15)
      val a = Engine.bm25TopK(reader, q, k, useWand = true).collect().toSeq
        .sortWith((x, y) => x.score > y.score || (x.score == y.score && x.docId < y.docId))
      val b = Engine.bm25TopK(reader, q, k, useWand = false).collect().toSeq
        .sortWith((x, y) => x.score > y.score || (x.score == y.score && x.docId < y.docId))
      assert(a == b, s"WAND != exhaustive for [$q] k=$k")
    }
  }

  test("bm25TopKBatch ≡ per-query bm25TopK (shared DecodeCache path)") {
    val rnd = new scala.util.Random(3)
    val vocab = reader.lexicon.select("term").collect().map(_.getString(0))
    // repeated hot terms across the batch so the per-shard decode memo is
    // actually hit (identical blocks served from cache for later queries)
    val queries = (0 until 40).map { i =>
      val nTerms = 1 + rnd.nextInt(3)
      i.toLong -> Seq.fill(nTerms)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val k = 7
    val batch = Engine.bm25TopKBatch(reader, queries, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (qid, rows) => qid -> rows.map(t => (t._2, t._3)).sortBy(x => (-x._2, x._1)).toSeq }
    queries.foreach { case (qid, q) =>
      val single = Engine.bm25TopK(reader, q, k).collect().toSeq
        .sortWith((x, y) => x.score > y.score || (x.score == y.score && x.docId < y.docId))
        .map(s => (s.docId, s.score))
      assert(batch.getOrElse(qid, Seq.empty) == single, s"batch != single for [$q]")
    }
  }

  test("building a bm25TopK plan runs only the df lookup: no job when serving or when memoized") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    def jobsIn(f: => Any): Int = {
      org.apache.spark.SparkTestBus.drain(sc)
      jobs.set(0)
      f
      org.apache.spark.SparkTestBus.drain(sc)
      jobs.get
    }
    sc.addSparkListener(listener)
    val serving = new IndexReader(spark, dir).cacheForServing()
    try {
      assert(jobsIn(Engine.bm25TopK(serving, "if return", 10)) == 0)
      val fresh = new IndexReader(spark, dir)
      // the first call opens the reader's relations and scans the lexicon
      // for the terms' df; the same terms again are memoized; a new term
      // costs exactly its lexicon scan
      assert(jobsIn(Engine.bm25TopK(fresh, "if return", 10)) > 0)
      assert(jobsIn(Engine.bm25TopK(fresh, "return if", 10)) == 0)
      assert(jobsIn(Engine.bm25TopK(fresh, "if while", 10)) == 1)
    } finally {
      sc.removeSparkListener(listener)
      serving.segments.unpersist()
    }
  }

  test("set ops: or/and/andNot/adjust score arithmetic") {
    import spark.implicits._
    val a = Engine.matchScores(reader, "return")
    val b = Engine.matchScores(reader, "if")
    val am = a.collect().map(s => s.docId -> s.score).toMap
    val bm = b.collect().map(s => s.docId -> s.score).toMap

    val or = Engine.SetOps.or(a, b).collect().map(s => s.docId -> s.score).toMap
    assert(or == (am.keySet ++ bm.keySet).map(d => d -> (am.getOrElse(d, 0.0) + bm.getOrElse(d, 0.0))).toMap)

    val and = Engine.SetOps.and(a, b).collect().map(s => s.docId -> s.score).toMap
    assert(and == (am.keySet & bm.keySet).map(d => d -> (am(d) + bm(d))).toMap)

    val anot = Engine.SetOps.andNot(a, b).collect().map(s => s.docId -> s.score).toMap
    assert(anot == am.view.filterKeys(d => !bm.contains(d)).toMap)

    val adj = Engine.SetOps.adjust(a, b).collect().map(s => s.docId -> s.score).toMap
    assert(adj == am.map { case (d, s) => d -> (s + bm.getOrElse(d, 0.0)) })

    val (da, db) = Engine.SetOps.difference(a, b)
    assert(da.collect().map(s => s.docId -> s.score).toMap ==
      am.view.filterKeys(d => !bm.contains(d)).toMap)
    assert(db.collect().map(s => s.docId -> s.score).toMap ==
      bm.view.filterKeys(d => !am.contains(d)).toMap)
  }

  test("build is resumable: second run skips all stages, same manifest") {
    val before = java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "manifest.json"))
    import spark.implicits._
    // second build over the same dir must not recompute (markers present) —
    // feed it an EMPTY frame: any stage re-run would produce different output
    val empty = spark.emptyDataset[(Long, String)].toDF("docId", "content")
      .withColumn("repo", lit("")).withColumn("path", lit(""))
      .withColumn("commit", lit("")).withColumn("lang", lit(""))
    IndexBuilder.build(spark, empty, dir,
      IndexConfig(nShards = 4, buildPartitions = 4, hotTermDf = 50, nSalts = 3))
    val after = java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "manifest.json"))
    assert(reader.manifest.numDocs == nDocs)
    assert(before == after)
  }

  test("index builds and serves at an explicit file:-scheme dir (Hadoop FS route)") {
    // sidecar IO (stage markers, hot terms, manifest, deletes fingerprint)
    // resolves via FileSystem, so any Spark-readable scheme works
    val d = "file://" + java.nio.file.Files.createTempDirectory("graft_idx_fs_").toString
    import spark.implicits._
    val files = Corpus.generate(spark, 50, seed = 11L, partitions = 2)
    val withIds = IndexBuilder.assignDocIds(spark, files.toDF(), Seq("repo", "path", "commit"))
    val m = IndexBuilder.build(spark, withIds, d,
      IndexConfig(nShards = 2, buildPartitions = 2, hotTermDf = 1000000L, nSalts = 1))
    assert(m.numDocs == 50)
    val r = new IndexReader(spark, d)
    assert(r.manifest.numDocs == 50)
    assert(Engine.bm25TopK(r, "if return", 5).collect().nonEmpty)
    // tombstones + cacheEpoch through the same route
    val e0 = r.cacheEpoch
    assert(Deletes.delete(r, col("docId") === 0L) == 1L)
    r.invalidateDeletes()
    assert(r.deletedIds == Set(0L))
    assert(r.cacheEpoch != e0)
  }

  test("docId assignment is the deterministic global sort rank") {
    import spark.implicits._
    val files = Corpus.generate(spark, 100, seed = 3L, partitions = 3).toDF()
    val a = IndexBuilder.assignDocIds(spark, files, Seq("repo", "path", "commit"))
      .select("docId", "repo", "path").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val b = IndexBuilder.assignDocIds(spark, files.repartition(7), Seq("repo", "path", "commit"))
      .select("docId", "repo", "path").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    assert(a.map(_._1).toSeq == (0L until 100L))
  }
}
