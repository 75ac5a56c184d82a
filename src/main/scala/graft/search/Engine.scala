package graft.search

import graft.codec.Norms
import graft.index.{IndexReader, SegmentRow}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed query execution over the sharded index.
  *
  * Layout rationale (100 TB design): each shard is a complete sub-index for a
  * docId range. A query touches only the segment rows of its terms (parquet
  * predicate pushdown on `term`), grouped by shard — every shard evaluates
  * independently in parallel (the intra-query parallelism Groonga lacks,
  * SURVEY.md §4.2) and emits at most its local top-k; the global answer is a
  * tree-reduce of k-heaps via [[TopKAgg]]. No shuffle touches posting data
  * larger than the per-shard candidate lists.
  */
/** Corpus-wide BM25 statistics (total docs, global avgdl, per-term df) for
  * scoring ONE index's postings under GLOBAL idf — merged over a shard set
  * by [[graft.command.LogicalSearch.corpusStats]].
  */
final case class CorpusStats(
    numDocs: Long, avgDoclen: Double, df: Map[String, Long])

object Engine {

  /** Full-text match with reference score semantics:
    * `_score = (noccur + tscore) * weight` (reference lib/ii.c:6984, tscore=0
    * without stored weights). Multi-token text is a phrase match, like
    * Groonga's `column @ "multi word"` (reference lib/ii.c:6941-6973).
    */
  def matchScores(
      reader: IndexReader,
      text: String,
      kind: MatchKind = PhraseMatch,
      weight: Double = 1.0,
      /** Raw-score ceiling BEFORE the weight — scorer_tf_at_most
        * (reference plugins/scorers, min(tf, max)·w).
        */
      cap: Option[Double] = None,
      /** scorer_tf_idf (reference lib/scorers.c:26): replace the raw tf with
        * max(tf · ln(N / estMatchDocs), 1) truncated to an integer score,
        * where estMatchDocs = Σ estimated posting size / nTokens (the
        * reference's grn_ii_estimate_size: df + 2, or 1 for an inline
        * single-posting term — lib/ii.c:4704).
        */
      tfIdf: Boolean = false
  ): Dataset[ScoredDoc] = {
    val spark = reader.spark
    import spark.implicits._
    val qtoks = Searcher.queryTokens(reader, text)
    if (qtoks.isEmpty) return spark.emptyDataset[ScoredDoc]
    val withPos = reader.manifest.withPositions
    val terms = qtoks.map(_.term)
    val delB = reader.deletedBroadcast
    // driver-side per-query constant for the tf-idf scorer (query terms
    // only; the pruned termStats scan, not a lexicon collect)
    val idfOpt: Option[Double] =
      if (!tfIdf) None
      else {
        val n = reader.manifest.numDocs.toDouble
        val stats = reader.termStats(terms)
        val est = terms.map { t =>
          stats.get(t) match {
            case Some((df, cf)) => if (df == 1L && cf == 1L) 1.0 else df + 2.0
            case None => 0.0
          }
        }.sum / terms.size
        if (est >= n || est <= 0.0) Some(0.0) // idf 0 → min score 1
        else Some(math.log(n / est))
      }
    reader.segmentsFor(terms)
      .groupByKey(_.shard)
      .flatMapGroups { (_, rows) =>
        Searcher.evalShardMatch(qtoks, rows.toSeq, withPos, kind, delB.value)
          .map { case (d, n, ts) =>
            val raw0 = n + ts
            val raw = idfOpt match {
              case Some(idf) => math.floor(math.max(raw0 * idf, 1.0))
              case None => raw0.toDouble
            }
            ScoredDoc(d, cap.fold(raw)(c => math.min(raw, c)) * weight)
          }
      }
  }

  /** Disjunctive (bag-of-terms) top-k BM25 — the north-star query path.
    * Per-shard evaluation cogroups the query's segment rows with the shard's
    * norms sidecar; WAND prunes on block-max bounds; [[TopKAgg]] merges.
    */
  def bm25TopK(
      reader: IndexReader,
      text: String,
      k: Int,
      useWand: Boolean = true,
      bm25: Bm25 = Bm25(),
      corpusStats: Option[CorpusStats] = None
  ): Dataset[ScoredDoc] = {
    val spark = reader.spark
    import spark.implicits._
    val plan = Bm25Plan.forQuery(reader, text, bm25, corpusStats)
    if (plan.terms.isEmpty) return spark.emptyDataset[ScoredDoc]

    val delB = reader.deletedBroadcast
    val perShard = scoreShards(reader, plan.terms) { (segRows, normsBlob) =>
      val lookup = Norms.decode(normsBlob)
      val byTerm = segRows.groupBy(_.term)
      val cursors = plan.terms.flatMap { t =>
        byTerm.get(t).map(rows => plan.cursor(t, TermCursor.mergedBlocks(rows)))
      }
      // one heap per shard call: each shard emits its own top-k, merged by topK
      val top = new Bm25Shard.TopK(k)
      if (useWand) Bm25Shard.wand(cursors, lookup.apply, plan, top, delB.value)
      else Bm25Shard.exhaustive(cursors, lookup.apply, plan, top, delB.value)
      top.result.iterator
    }
    topK(perShard, k)
  }

  /** Runs `score(segRows, normsBlob)` once per shard holding any of
    * `terms`. Serving mode reads norms from the pinned broadcast (minimum
    * latency); batch mode cogroups the norms sidecar ON SHARD — no driver
    * collect, so the path holds at 10^12 docs where norms exceed driver memory.
    */
  private def scoreShards[T: org.apache.spark.sql.Encoder](reader: IndexReader, terms: Seq[String])(
      score: (Seq[SegmentRow], Array[Byte]) => Iterator[T]): Dataset[T] = {
    import reader.spark.implicits._
    val segs = reader.segmentsFor(terms).groupByKey(_.shard)
    if (reader.isServing) {
      val normsB = reader.normsBroadcast
      segs.flatMapGroups((shard, segIt) => score(segIt.toSeq, normsB.value(shard)))
    } else
      segs.cogroup(reader.norms.groupByKey(_._1)) { (_, segIt, normIt) =>
        val segRows = segIt.toSeq
        if (segRows.isEmpty) Iterator.empty
        else normIt.toSeq.headOption match {
          case Some((_, blob)) => score(segRows, blob)
          case None => Iterator.empty
        }
      }
  }

  /** AND of two term matches with the reference's too-many-matches escape
    * (grn_ii_select's sequential-scan fallback: lib/ii.c:6536-6654,
    * grn_ii_select_sequential_search_should_be_used compares df × ratio
    * against the current result-set size): when one term's df exceeds
    * `ratio` × the other's, the hot side's postings are NEVER decoded — the
    * small side's result docs verify the hot term against the source
    * content column instead (re-tokenize only the candidate docs), so cost
    * is ∝ candidates where posting decode is ∝ df(hot). Result is
    * identical to `SetOps.and(matchScores(a), matchScores(b))` — score =
    * tf_a + tf_b on the intersection (AndAdaptiveSpec pins equality).
    *
    * `ratio` mirrors the reference's
    * grn_ii_select_too_many_index_match_ratio knob. Default 8: the scan
    * verify re-tokenizes ~|candidates| docs (one pass each), which pays off
    * once the skipped posting list is roughly an order of magnitude larger
    * than the candidate set. Multi-token (phrase) sides verify by position
    * alignment over the re-tokenized candidates ([[Searcher.countAligned]]
    * — the reference's sequential phrase check); a phrase hot side needs
    * stored positions, else the index path runs.
    */
  def andAdaptive(
      reader: IndexReader,
      termA: String,
      termB: String,
      ratio: Double = 8.0
  ): Dataset[ScoredDoc] = {
    val spark = reader.spark
    import spark.implicits._
    val qtA = Searcher.queryTokens(reader, termA)
    val qtB = Searcher.queryTokens(reader, termB)
    val stats = reader.termStats((qtA ++ qtB).map(_.term).distinct)
    // per side: (result-size upper bound, index-path decode cost) — the
    // bound is the rarest token's df (grn_ii_estimate_size), the cost the
    // HOTTEST token's df (its postings must decode even when another token
    // drives the intersection)
    def bounds(qts: Seq[Searcher.QTok]): (Long, Long) = {
      if (qts.isEmpty) return (0L, 0L)
      val dfs = qts.map(q => stats.get(q.term).map(_._1).getOrElse(0L))
      (dfs.min, dfs.max)
    }
    val ((estA, costA), (estB, costB)) = (bounds(qtA), bounds(qtB))
    if (estA == 0L || estB == 0L) return spark.emptyDataset[ScoredDoc]
    def indexPath = SetOps.and(matchScores(reader, termA), matchScores(reader, termB))
    // scan-verify recounts tf/alignments by tokenizing the docs' content
    // column — only sound when that is literally what produced the
    // postings; phrases additionally need stored positions
    if (!reader.manifest.builtFromContent) return indexPath
    val (small, hotQts, estSmall, costHot) =
      if (estA <= estB) (termA, qtB, estA, costB) else (termB, qtA, estB, costA)
    if (costHot.toDouble <= ratio * estSmall) indexPath
    else if (hotQts.size > 1 && !reader.manifest.withPositions) indexPath
    else andScanVerify(matchScores(reader, small), reader, hotQts)
  }

  /** The scan-verify half of the too-many-matches escape: AND a hot term
    * onto an already-evaluated result set by re-tokenizing ONLY the
    * candidate docs' source content — never decoding the hot term's
    * postings. `hotTok` must be an index token (already normalized).
    * Scores follow res_add AND semantics: candidate score + tf.
    */
  def andScanVerify(left: Dataset[ScoredDoc], reader: IndexReader,
      hotTok: String): Dataset[ScoredDoc] =
    andScanVerify(left, reader, Seq(Searcher.QTok(hotTok, 0)))

  /** Phrase form of the scan-verify escape: the hot right side is a full
    * token sequence (offsets from GET-mode tokenization); candidates
    * re-verify by position alignment over their re-tokenized content
    * (reference sequential phrase fallback, lib/ii.c:6536-6654). Scores
    * follow res_add AND semantics: candidate score + noccur, where noccur
    * is the alignment count ([[Searcher.countAligned]]) — tf for a single
    * token, phrase-occurrence count otherwise.
    */
  def andScanVerify(left: Dataset[ScoredDoc], reader: IndexReader,
      qtoks: Seq[Searcher.QTok]): Dataset[ScoredDoc] = {
    // soundness precondition enforced HERE, not just at the rewrite sites:
    // the recount reproduces posting tf/positions only when the postings
    // came from tokenizing this docs table's content column
    require(reader.manifest.builtFromContent,
      "andScanVerify needs an index built from the docs' content column " +
        "(manifest.builtFromContent): externally-supplied postings cannot " +
        "be re-verified against content")
    require(qtoks.size == 1 || reader.manifest.withPositions,
      "phrase scan-verify needs positions in the index (the index path " +
        "degrades to presence without them; the escape must not differ)")
    val spark = reader.spark
    import spark.implicits._
    val tokName = reader.manifest.tokenizerName
    val qtoksB = qtoks.toVector
    left.toDF("docId", "s1")
      .join(reader.liveDocs.select(col("docId"), col("content")), "docId")
      .select(col("docId").cast("long"), col("s1").cast("double"),
        col("content").cast("string"))
      .as[(Long, Double, String)]
      .mapPartitions { it =>
        val tok = graft.analysis.Tokenizers.byName(tokName)
        it.flatMap { case (id, s1, content) =>
          // Add-mode tokenization = exactly what the build indexed, so
          // the aligned count equals the posting-path noccur it replaces
          val toks = tok.tokenizeEnabled(if (content == null) "" else content,
            graft.analysis.TokenizeMode.Add)
          val noccur = Searcher.countAligned(toks, qtoksB)
          if (noccur > 0) Some(ScoredDoc(id, s1 + noccur)) else None
        }
      }
  }

  /** Match with escalation (reference grn_ii_sel, lib/ii.c:7212-7233):
    * after EXACT, if the hit count is <= threshold, retry UNSPLIT (the
    * whole normalized query as one prefix-expanded key) and then PARTIAL
    * (per-token prefix expansion, AND-folded), each time ADDing into the
    * result set (op OR semantics). The reference escalates by default at
    * threshold 0 (GRN_DEFAULT_MATCH_ESCALATION_THRESHOLD); the size probe
    * is `limit(threshold+1).count()` so a stage's check never scans past
    * threshold+1 hits. PARTIAL divergence: the reference keeps phrase
    * alignment across the expanded cursor heaps; we fold expanded token
    * sets conjunctively with presence scores.
    */
  def matchScoresEscalating(
      reader: IndexReader,
      text: String,
      threshold: Long,
      weight: Double = 1.0,
      cap: Option[Double] = None,
      tfIdf: Boolean = false
  ): Dataset[ScoredDoc] = {
    // bounded size probe: stop counting at threshold+1 (cheap when 0)
    def moreThan(ds: Dataset[ScoredDoc], t: Long): Boolean =
      ds.limit(math.min(t + 1, Int.MaxValue.toLong).toInt).count() > t
    val exact = matchScores(reader, text, PhraseMatch, weight, cap, tfIdf)
    if (threshold < 0) return exact
    if (moreThan(exact, threshold)) return exact
    val tokenizer = graft.analysis.Tokenizers.byName(reader.manifest.tokenizerName)
    val wholeKey = tokenizer.normalizer(text).text
    // UNSPLIT prefix expansion under the tf-idf scorer: one token_info over
    // the expansion set — est = Σ estimated sizes / 1 (reference ii.c:6897
    // n_candidates = ti->size with ntoken-term expansion counted once per
    // record; scorers.c:26)
    val unsplit0 = prefixSearch(reader, wholeKey)
    val unsplit =
      if (!tfIdf) unsplit0
      else {
        val spark = reader.spark
        import spark.implicits._
        val exp = reader.termsWithPrefix(wholeKey, 1000)
        val stats = reader.termStats(exp)
        val n = reader.manifest.numDocs.toDouble
        val est = exp.map(t => stats.get(t) match {
          case Some((df, cf)) => if (df == 1L && cf == 1L) 1.0 else df + 2.0
          case None => 0.0
        }).sum
        val idf = if (est >= n || est <= 0.0) 0.0 else math.log(n / est)
        unsplit0.map(s => ScoredDoc(s.docId,
          math.floor(math.max(s.score * idf, 1.0)) * weight))
      }
    val withUnsplit = SetOps.or(exact, unsplit)
    if (moreThan(withUnsplit, threshold)) return withUnsplit
    val toks = Searcher.queryTokens(reader, text).map(_.term).distinct
    val partial = toks.map { t =>
      val spark = reader.spark
      import spark.implicits._
      prefixSearch(reader, t).map(s => ScoredDoc(s.docId, 1.0))
    }.reduceOption((a, b) => SetOps.and(a, b))
    partial.map(p => SetOps.or(withUnsplit, p)).getOrElse(withUnsplit)
  }

  /** Batched top-k BM25: evaluates a whole query workload in ONE Spark job —
    * a single term-pruned segments scan serves every query, each shard
    * evaluates all queries locally, and a final tiny shuffle (≤ queries ×
    * shards × k candidate rows) merges per-query top-k. This is the
    * throughput-serving mode: per-query cost amortizes the job overhead
    * that dominates single-query latency in a cluster scheduler.
    * Returns (query_id, doc_id, score).
    */
  def bm25TopKBatch(
      reader: IndexReader,
      queries: Seq[(Long, String)],
      k: Int,
      useWand: Boolean = true,
      bm25: Bm25 = Bm25()
  ): DataFrame = {
    val spark = reader.spark
    import spark.implicits._
    val qTerms: Seq[(Long, Seq[String])] =
      queries.map { case (qid, text) =>
        qid -> Searcher.queryTokens(reader, text).map(_.term).distinct
      }
    val allTerms = qTerms.flatMap(_._2).distinct
    if (allTerms.isEmpty)
      return spark.emptyDataset[(Long, Long, Double)].toDF("query_id", "doc_id", "score")
    reader.termStats(allTerms) // one lexicon scan; the per-query plans hit its memo
    // per-query plans, one broadcast for the batch
    val plansB = spark.sparkContext.broadcast(
      qTerms.map { case (qid, ts) => qid -> Bm25Plan.forTerms(reader, ts, bm25) })
    val delB = reader.deletedBroadcast
    val kLocal = k
    val perShard = scoreShards(reader, allTerms) { (segRows, normsBlob) =>
      // merge salted sub-lists ONCE per (shard, term) — shared by every
      // query in the batch (hot terms are exactly the ones many queries hit)
      val byTerm: Map[String, Array[graft.codec.PostingBlock]] =
        segRows.groupBy(_.term)
          .map { case (t, rows) => t -> TermCursor.mergedBlocks(rows) }
      val lookup = Norms.decode(normsBlob)
      // one decode memo for the whole batch: every query that walks a hot
      // term's block reuses the first decode instead of re-paying it
      val decodeCache = new DecodeCache()
      plansB.value.iterator.flatMap { case (qid, plan) =>
        val cursors = plan.terms.flatMap { t =>
          byTerm.get(t).map(blocks => plan.cursor(t, blocks, decodeCache))
        }
        if (cursors.isEmpty) Iterator.empty
        else {
          val top = new Bm25Shard.TopK(kLocal)
          if (useWand) Bm25Shard.wand(cursors, lookup.apply, plan, top, delB.value)
          else Bm25Shard.exhaustive(cursors, lookup.apply, plan, top, delB.value)
          top.result.iterator.map(s => (qid, s.docId, s.score))
        }
      }
    }
    perShard.groupByKey(_._1).flatMapGroups { (qid, it) =>
      it.toSeq.sortWith((a, b) => a._3 > b._3 || (a._3 == b._3 && a._2 < b._2))
        .take(kLocal).iterator
    }.toDF("query_id", "doc_id", "score")
  }

  /** Weighted disjunction over explicit terms: score(doc) = Σ tf·w(term) —
    * the OR-with-score-add primitive behind prefix / fuzzy / similar search
    * (each expands to a term set first, like the reference's lexicon
    * expansions, reference lib/ii.c:5856 token_info_build EX_* modes).
    */
  def orTermsScores(
      reader: IndexReader,
      termWeights: Map[String, Double]
  ): Dataset[ScoredDoc] = {
    val spark = reader.spark
    import spark.implicits._
    if (termWeights.isEmpty) return spark.emptyDataset[ScoredDoc]
    val withPos = reader.manifest.withPositions
    val twB = spark.sparkContext.broadcast(termWeights)
    val delB = reader.deletedBroadcast
    reader.segmentsFor(termWeights.keys.toSeq)
      .groupByKey(_.shard)
      .flatMapGroups { (_, rows) =>
        val del = delB.value
        val acc = new java.util.HashMap[Long, java.lang.Double]()
        // deterministic float accumulation: term order, then docId order
        rows.toSeq.sortBy(r => (r.term, r.salt)).foreach { r =>
          val w = twB.value(r.term)
          graft.codec.PostingCodec.decode(r.blocks.map(_.toBlock), withPos)
            .foreach { p =>
              if (!del.contains(p.docId)) {
                val s = p.tf * w
                val prev = acc.get(p.docId)
                acc.put(p.docId, if (prev == null) s else prev + s)
              }
            }
        }
        val it = acc.entrySet().iterator()
        new Iterator[ScoredDoc] {
          def hasNext = it.hasNext
          def next() = { val e = it.next(); ScoredDoc(e.getKey, e.getValue) }
        }
      }
  }

  /** Prefix search (reference PAT descendant walk, lib/pat.c:1091): expand
    * the prefix against the lexicon, OR the expanded terms, scores add tf.
    */
  def prefixSearch(reader: IndexReader, prefix: String, maxExpansion: Int = 1000): Dataset[ScoredDoc] = {
    val terms = reader.termsWithPrefix(prefix, maxExpansion)
    orTermsScores(reader, terms.map(_ -> 1.0).toMap)
  }

  /** Suffix search (reference PAT KEY_WITH_SIS suffix walk, lib/pat.c:1150):
    * expand against the reversed-term lexicon column, OR the terms.
    */
  def suffixSearch(reader: IndexReader, suffix: String, maxExpansion: Int = 1000): Dataset[ScoredDoc] = {
    val terms = reader.termsWithSuffix(suffix, maxExpansion)
    orTermsScores(reader, terms.map(_ -> 1.0).toMap)
  }

  /** Fuzzy search (reference grn_pat_fuzzy_search, lib/pat.c:1441 +
    * proc_fuzzy_search.c): lexicon terms within `maxDistance` Levenshtein
    * edits of the query term (distributed filter over the lexicon), OR'd.
    */
  def fuzzySearch(
      reader: IndexReader,
      term: String,
      maxDistance: Int = 1,
      prefixLength: Int = 0,
      maxExpansion: Int = 100
  ): Dataset[ScoredDoc] = {
    import reader.spark.implicits._
    val pre = term.take(prefixLength)
    val expanded = reader.lexicon
      .filter(levenshtein(col("term"), lit(term)) <= maxDistance)
      .filter(col("term").startsWith(pre))
      .select("term").as[String]
      .orderBy("term").take(maxExpansion).toSeq
    orTermsScores(reader, expanded.map(_ -> 1.0).toMap)
  }

  /** Similar-document search (GRN_OP_SIMILAR, reference
    * grn_ii_similar_search lib/ii.c:6217-6356), faithful weights:
    * per distinct query term, w = qtf + 1048576/est where est is the
    * posting-size estimate (grn_ii_estimate_size lib/ii.c:4704 — an
    * embedded single posting estimates 1, a buffer-resident list df+2);
    * keep the top (n>>3)+1 terms by weight (or `similarityThreshold` when
    * given), score(doc) = Σ w·tf, OR-merged.
    */
  def similarSearch(reader: IndexReader, text: String,
      similarityThreshold: Int = 0): Dataset[ScoredDoc] = {
    val toks = Searcher.queryTokens(reader, text).map(_.term)
    val order = scala.collection.mutable.LinkedHashMap[String, Long]()
    toks.foreach(t => order(t) = order.getOrElse(t, 0L) + 1L)
    val stats = reader.termStats(order.keys.toSeq)
    val maxSize = 1048576L
    val weighted = order.toSeq.zipWithIndex.flatMap { case ((t, qtf), i) =>
      stats.get(t).map { case (_, cf) =>
        // posting-list size estimate ≈ total occurrences (reference
        // grn_ii_estimate_size, lib/ii.c:4704: 1 for an inline posting,
        // else the buffer entry size — our collection frequency analogue;
        // matches the reference's select/query/similar_search scores)
        val est = math.max(cf, 1L)
        (t, qtf + maxSize / est, i)
      }
    }
    val limit =
      if (similarityThreshold > 0) math.min(similarityThreshold, weighted.size)
      else (weighted.size >> 3) + 1
    val chosen = weighted.sortBy { case (_, w, i) => (-w, i) }.take(limit)
    orTermsScores(reader, chosen.map { case (t, w, _) => t -> w.toDouble }.toMap)
  }

  /** Global top-k via the typed k-heap aggregator. */
  def topK(scored: Dataset[ScoredDoc], k: Int): Dataset[ScoredDoc] = {
    val spark = scored.sparkSession
    import spark.implicits._
    val buf = scored.select(new TopKAgg(k).toColumn).head()
    spark.createDataset(buf.items)
  }

  /** Set algebra on scored result sets (reference grn_table_setoperation,
    * lib/db.c:4195-4306 + res_add lib/ii.c:6029): scores ADD on collision.
    */
  object SetOps {
    private def df(ds: Dataset[ScoredDoc], nm: String): DataFrame =
      ds.toDF("docId", nm)

    /** OR: union, scores add (GRN_OP_OR). */
    def or(a: Dataset[ScoredDoc], b: Dataset[ScoredDoc]): Dataset[ScoredDoc] = {
      val spark = a.sparkSession
      import spark.implicits._
      df(a, "s1").join(df(b, "s2").withColumnRenamed("docId", "docId2"),
          col("docId") === col("docId2"), "full_outer")
        .select(
          coalesce(col("docId"), col("docId2")).as("docId"),
          (coalesce(col("s1"), lit(0.0)) + coalesce(col("s2"), lit(0.0))).as("score"))
        .as[ScoredDoc]
    }

    /** AND: intersection, scores add (GRN_OP_AND). */
    def and(a: Dataset[ScoredDoc], b: Dataset[ScoredDoc]): Dataset[ScoredDoc] = {
      val spark = a.sparkSession
      import spark.implicits._
      df(a, "s1").join(df(b, "s2").withColumnRenamed("docId", "docId2"),
          col("docId") === col("docId2"), "inner")
        .select(col("docId"), (col("s1") + col("s2")).as("score"))
        .as[ScoredDoc]
    }

    /** AND_NOT: difference, removed side's score ignored (GRN_OP_AND_NOT). */
    def andNot(a: Dataset[ScoredDoc], b: Dataset[ScoredDoc]): Dataset[ScoredDoc] = {
      val spark = a.sparkSession
      import spark.implicits._
      df(a, "score").join(df(b, "s2"), Seq("docId"), "left_anti")
        .as[ScoredDoc]
    }

    /** ADJUST: keep left set, add right score for members (GRN_OP_ADJUST). */
    def adjust(a: Dataset[ScoredDoc], b: Dataset[ScoredDoc]): Dataset[ScoredDoc] = {
      val spark = a.sparkSession
      import spark.implicits._
      df(a, "s1").join(df(b, "s2"), Seq("docId"), "left_outer")
        .select(col("docId"), (col("s1") + coalesce(col("s2"), lit(0.0))).as("score"))
        .as[ScoredDoc]
    }

    /** Symmetric difference (reference grn_table_difference,
      * lib/db.c:4309: common keys are removed from BOTH sides — used by
      * the suggest-correct pipeline). Returns (a∖b, b∖a); two co-keyed
      * anti-joins, one shuffle each, broadcastable when a side is small.
      */
    def difference(a: Dataset[ScoredDoc], b: Dataset[ScoredDoc])
        : (Dataset[ScoredDoc], Dataset[ScoredDoc]) = {
      val spark = a.sparkSession
      import spark.implicits._
      val l = df(a, "score").join(df(b, "s2"), Seq("docId"), "left_anti").as[ScoredDoc]
      val r = df(b, "score").join(df(a, "s2"), Seq("docId"), "left_anti").as[ScoredDoc]
      (l, r)
    }
  }
}
