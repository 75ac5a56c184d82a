package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits for the headline queries: freeze the plan SHAPE
  * properties that make them scale — filter pushdown to the parquet scan,
  * column pruning, broadcast joins for dimension tables, partial (map-side)
  * aggregation, and top-k via TakeOrderedAndProject instead of a global
  * sort. A regression here means a query silently lost its 100 TB shape
  * even if its small-scale results stay correct.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan.toString

  test("q3: predicates push to the parquet scan and columns prune") {
    val p = plan("q3_filter_between_in")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,10.0)"),
      s"range predicate not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string>"),
      s"scan reads more than the 2 needed columns:\n$p")
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
  }

  test("q4: both dimension joins broadcast, no sort-merge or cartesian") {
    val p = plan("q4_ref_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, s"expected 2 broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join shuffled:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(p.contains("ReadSchema: struct<c_nationkey:int>"),
      s"fact scan not pruned to the join key:\n$p")
  }

  test("q2: top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q2_sort_topk")
    assert(p.contains("TakeOrderedAndProject(limit=20"), s"no partial top-k:\n$p")
    assert(!p.contains("Sort ["), s"global sort instead of top-k:\n$p")
  }

  test("sim_topk: one narrow pass + TakeOrderedAndProject, no shuffle/UDF") {
    val p = plan("sim_topk")
    assert(p.contains("TakeOrderedAndProject(limit=10"), s"no partial top-k:\n$p")
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in the hot path (should be zip_with/aggregate):\n$p")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"embedding scan not pruned:\n$p")
  }

  test("ta_quality: narrow codegen projects, no shuffle before output sort, no UDF") {
    val p = plan("ta_quality")
    assert(!p.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF where builtins should be:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"documents scan not pruned:\n$p")
  }

  test("ta_repetition/ta_gopher_keep: one narrow map, zero shuffle") {
    // the repetition path deliberately runs the typed KERNEL (a compiled
    // scalar function) — Catalyst higher-order lambda folds evaluate
    // interpreted and measured ~8x slower; the expression twin stays as
    // the cross-engine spec (RepetitionSpec asserts row-identity)
    for (name <- Seq("ta_repetition", "ta_gopher_keep")) {
      val p = plan(name)
      assert(!p.contains("Exchange hashpartitioning"), s"$name shuffles:\n$p")
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$name scan not pruned:\n$p")
    }
  }

  test("dd_contamination: bench shingles broadcast — corpus never shuffled on content") {
    val p = plan("dd_contamination")
    assert(p.contains("BroadcastHashJoin"), s"gram join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the gram join:\n$p")
    assert(p.contains("partial_count"), s"no map-side combine for hit counts:\n$p")
  }

  test("ta_split/ta_pii: pure narrow maps over the scan") {
    for (name <- Seq("ta_split", "ta_pii")) {
      val p = plan(name)
      assert(!p.contains("Exchange hashpartitioning"), s"$name shuffles:\n$p")
    }
  }

  test("dd_exact: map-side partial aggregation before the one shuffle") {
    val p = plan("dd_exact")
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
    assert(p.contains("ReadSchema: struct<text:string>"), s"scan not pruned:\n$p")
  }

  test("sim_ivf_topk: narrow assignment + probe filter + top-k, no shuffle/UDF/cartesian") {
    val p = plan("sim_ivf_topk")
    assert(p.contains("TakeOrderedAndProject(limit=10"), s"no partial top-k:\n$p")
    assert(!p.contains("Exchange"), s"IVF probe should be a narrow filter, got shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in the assignment path:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"centroids must fold into the projection, not cross-join:\n$p")
  }

  test("dd_ngram_jaccard: no cartesian product; every join is keyed") {
    val p = plan("dd_ngram_jaccard")
    assert(!p.contains("CartesianProduct"), s"unkeyed pair join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"unkeyed pair join:\n$p")
  }

  test("sim_cos_pairs: multi-table candidates stay keyed — no cartesian, no UDF") {
    val p = plan("sim_cos_pairs")
    assert(!p.contains("CartesianProduct"), s"unkeyed pair join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"unkeyed pair join:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in the bucket/cosine path:\n$p")
  }

  test("dd_simhash_pairs: blocked tables stay keyed — no cartesian") {
    val p = plan("dd_simhash_pairs")
    assert(!p.contains("CartesianProduct"), s"unkeyed pair join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"unkeyed pair join:\n$p")
  }

  test("ft_and_hot: only the small term's postings are scanned") {
    val p = plan("ft_and_hot")
    assert(p.contains("EqualTo(term,dup)"),
      s"small side's postings scan should be term-pruned:\n$p")
    assert(!p.contains("term,batch") && !p.contains("[batch"),
      s"hot term must never reach a postings scan:\n$p")
  }

  test("index read paths: term predicates push down to the parquet scans") {
    // the scans behind every query: segments (postings) and lexicon (stats)
    // must be term-pruned file scans — with the term-ordered layout, parquet
    // row-group min/max stats then skip everything but the queried terms
    val r = index.DocIndex.reader(spark, dir)
    val seg = r.segmentsFor(Seq("spark", "fast")).queryExecution.executedPlan.toString
    assert(seg.contains("PushedFilters: [In(term, [fast,spark])]"),
      s"segments scan not term-pruned:\n$seg")
    val lex = r.lexicon
      .filter(org.apache.spark.sql.functions.col("term").isin("spark", "fast"))
      .queryExecution.executedPlan.toString
    assert(lex.contains("PushedFilters: [In(term, [fast,spark])]"),
      s"lexicon scan not term-pruned:\n$lex")
    // a single BM25 query is a lazy batch of one: its plan holds the
    // term-pruned segments scan and merges per-shard top-k by query id,
    // not through an object aggregate run eagerly inside the call
    val bm25 = search.Engine.bm25TopK(r, "spark fast", 10)
      .queryExecution.executedPlan.toString
    assert(bm25.contains("PushedFilters: [In(term, [fast,spark])]"),
      s"single-query BM25 plan lacks the term-pruned segments scan:\n$bm25")
    assert(!bm25.contains("ObjectHashAggregate"),
      s"single-query BM25 merges through an object aggregate:\n$bm25")
  }

  test("log_count: interior shards count with ZERO columns; boundaries read only ts") {
    // the cover_type :all analogue: fully-covered shards satisfy count()
    // from parquet row-group metadata (ReadSchema struct<>), only the two
    // boundary shards evaluate the shard-key predicate — and the whole
    // count is one partial_count tree, no shuffle
    val p = plan("log_count")
    assert(p.contains("ReadSchema: struct<>"),
      s"interior count scan reads columns:\n$p")
    assert(p.contains("ReadSchema: struct<ts:timestamp"),
      s"boundary scan should read only ts:\n$p")
    assert(p.contains("PartitionFilters: [isnotnull(_shard"),
      s"interior scan not partition-bounded:\n$p")
    assert(p.contains("partial_count"), s"no map-side count:\n$p")
    assert(!p.contains("Exchange"), s"count should not shuffle:\n$p")
  }

  test("log_range: shard partitions prune, ts pushes down, page is TakeOrdered") {
    // the sharded logical_* scale shape: out-of-range day shards are
    // eliminated at planning (PartitionFilters — the reference never opens
    // out-of-range tables), the shard-key predicate reaches the parquet
    // scan, and the ordered page is per-partition top-k, not a global sort
    val p = plan("log_range")
    assert(p.contains("PartitionFilters: [") && p.contains("_shard"),
      s"no shard partition pruning:\n$p")
    assert(p.contains("GreaterThanOrEqual(ts"),
      s"shard-key range not pushed to the scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"page is not a partial top-k:\n$p")
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
  }

  test("ta_surprisal: the LM side joins BROADCAST; shuffle only on request") {
    // the capped LM (top-K + OOV) must reach tokens as a broadcast hash
    // join — a token-keyed shuffle of the exploded corpus would be the
    // 100 TB bottleneck the cap exists to avoid
    val docs = graft.SparkEntry.queries("ta_surprisal")(spark, dir)
    val p = docs.queryExecution.sparkPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"LM join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"LM join shuffled:\n$p")
    // broadcastLm=false drops the HINT and lets Catalyst pick; with
    // auto-broadcast off (an over-budget LM's situation) the join keys on
    // token — while the hinted default still broadcasts regardless
    val tbl = spark.read.parquet(s"$dir/documents.parquet")
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val shuffled = graft.ops.TextAnalysis
        .unigramSurprisal(tbl, broadcastLm = false)
        .queryExecution.sparkPlan.toString
      assert(shuffled.contains("SortMergeJoin") ||
        shuffled.contains("ShuffledHashJoin"),
        s"broadcastLm=false did not key the join on token:\n$shuffled")
      val hinted = graft.ops.TextAnalysis.unigramSurprisal(tbl)
        .queryExecution.sparkPlan.toString
      assert(hinted.contains("BroadcastHashJoin"),
        s"explicit broadcast hint lost:\n$hinted")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }
}
