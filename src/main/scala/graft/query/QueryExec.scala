package graft.query

import graft.index.{IndexReader, SectionedReader, SectionWeight}
import graft.search.{Engine, MatchKind, NearMatch, PhraseMatch, ScoredDoc}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Evaluate a parsed query AST to a scored result set, mirroring
  * grn_table_select's scan-unit evaluation (reference lib/expr.c:6283):
  * match clauses resolve through the inverted index (all match_columns
  * sections, weighted, score-merged — reference lib/expr.c:6126-6193),
  * column predicates filter the docs table (contributing score 1 per matched
  * record, like a non-match scan unit), and boolean structure folds
  * left-to-right through the set algebra (scores add on AND/OR collisions,
  * reference lib/db.c:4195 + res_add lib/ii.c:6029).
  */
object QueryExec {
  import QueryParser._

  /** Match context: the docs table + the weighted match targets.
    * Single-section queries have one target; `match_columns "a*10 || b"`
    * queries have several, and a Match clause evaluates against each then
    * OR-merges (scores add) — the reference's per-section weighted match.
    */
  final case class Ctx(
      docs: DataFrame,
      sections: Seq[(IndexReader, SectionWeight)],
      byCol: Map[String, IndexReader]
  )

  object Ctx {
    def single(reader: IndexReader, matchColumn: Option[String],
        weight: Double = 1.0, cap: Option[Double] = None,
        tfIdf: Boolean = false): Ctx =
      Ctx(reader.liveDocs,
        Seq((reader, SectionWeight(matchColumn.getOrElse(""), weight, cap, tfIdf))),
        matchColumn.map(_ -> reader).toMap)

    def sectioned(sidx: SectionedReader, spec: Seq[SectionWeight]): Ctx =
      Ctx(sidx.primary.liveDocs, sidx.targets(spec),
        sidx.sectionNames.map(c => c -> sidx.readers(c)).toMap)
  }

  def run(reader: IndexReader, q: String,
      matchColumn: Option[String] = None,
      escalationThreshold: Long = -1L,
      weight: Double = 1.0,
      cap: Option[Double] = None,
      tfIdf: Boolean = false,
      flags: QueryFlags = QueryFlags.default): Dataset[ScoredDoc] = {
    val parsed = QueryParser.parse(q, flags)
    val esc = parsed.escalationThreshold.getOrElse(escalationThreshold)
    eval(Ctx.single(reader, matchColumn, weight, cap, tfIdf), parsed.root, esc,
      escalating = true)
  }

  def runSectioned(sidx: SectionedReader, q: String, spec: Seq[SectionWeight],
      escalationThreshold: Long = -1L,
      flags: QueryFlags = QueryFlags.default): Dataset[ScoredDoc] = {
    val parsed = QueryParser.parse(q, flags)
    val esc = parsed.escalationThreshold.getOrElse(escalationThreshold)
    eval(Ctx.sectioned(sidx, spec), parsed.root, esc, escalating = true)
  }

  /** Weighted score-merge across the ctx's sections (OR, scores add). */
  private def acrossSections(ctx: Ctx)(f: (IndexReader, SectionWeight) => Dataset[ScoredDoc]): Dataset[ScoredDoc] =
    ctx.sections.map { case (r, sw) => f(r, sw) }.reduce(Engine.SetOps.or)

  /** True when a match clause's query text survives GET tokenization with
    * ZERO tokens (every token stop-filtered): such a clause must act as
    * the identity on the accumulated result set.
    */
  private def tokenless(ctx: Ctx, node: Node): Boolean = node match {
    case Match(text, _) =>
      text.nonEmpty && ctx.sections.forall { case (r, _) =>
        graft.search.Searcher.queryTokens(r, text).isEmpty
      }
    case _ => false
  }

  def eval(ctx: Ctx, node: Node, esc: Long, escalating: Boolean): Dataset[ScoredDoc] = {
    val spark = ctx.docs.sparkSession
    import spark.implicits._
    node match {
      // escalation fires only for OR-merged scan units (reference
      // grn_ii_sel guards on op == GRN_OP_OR) — the first clause and both
      // sides of an OR; never the right side of AND/AND_NOT/ADJUST
      case Match(text, _) if escalating && esc >= 0 =>
        acrossSections(ctx)((r, sw) =>
          Engine.matchScoresEscalating(r, text, esc, sw.weight, sw.cap, sw.tfIdf))
      case Match(text, _) =>
        acrossSections(ctx)((r, sw) =>
          Engine.matchScores(r, text, PhraseMatch, sw.weight, sw.cap, sw.tfIdf))
      case Prefix(p) =>
        acrossSections(ctx)((r, sw) =>
          Engine.prefixSearch(r, p).map(s => ScoredDoc(s.docId, s.score * sw.weight)))
      case Near(text, maxInterval) =>
        acrossSections(ctx)((r, sw) =>
          Engine.matchScores(r, text, kind = NearMatch(maxInterval),
            weight = sw.weight, cap = sw.cap))
      case Similar(text, threshold) =>
        // threshold <= 0 = "use default" (reference
        // DEFAULT_SIMILARITY_THRESHOLD 0 → top (n>>3)+1 terms)
        acrossSections(ctx)((r, sw) =>
          Engine.similarSearch(r, text,
            similarityThreshold = math.max(threshold, 0))
            .map(s => ScoredDoc(s.docId, s.score * sw.weight)))
      // `col:@word` on an indexed column routes through that column's index
      // (the selector-proc index-resolution of reference lib/expr.c:6018)
      case ColPred(colName, "@", value) if ctx.byCol.contains(colName) =>
        Engine.matchScores(ctx.byCol(colName), value)
      case ColPred(colName, "^", value) if ctx.byCol.contains(colName) =>
        Engine.prefixSearch(ctx.byCol(colName), value)
      case ColPred(colName, "$", value) if ctx.byCol.contains(colName) =>
        Engine.suffixSearch(ctx.byCol(colName), value)
      case ColPred(colName, op, value) =>
        val c = col(colName)
        val pred = op match {
          case "" => c === value
          case "!" => c =!= value
          case "<" => c < value
          case ">" => c > value
          case "<=" => c <= value
          case ">=" => c >= value
          // sequential (unindexed) match/prefix/suffix normalize both sides
          // like NormalizerAuto (reference lib/expr.c:5367 sequential exec)
          case "@" => lower(c).contains(value.toLowerCase)
          case "^" => lower(c).startsWith(value.toLowerCase)
          case "$" => lower(c).endsWith(value.toLowerCase)
          case "~" => c.rlike(value)
          case other => throw new IllegalArgumentException(s"unknown op $other")
        }
        ctx.docs.filter(pred).select(col("docId").as("docId"), lit(1.0).as("score"))
          .as[ScoredDoc]
      // a RIGHT-side match clause whose GET tokens were all filtered away
      // (stop words) leaves the result set untouched in the reference
      // (grn_ii_select builds no token infos and returns) — identity in
      // the set algebra, NOT the empty set. Left-side/first clauses need
      // no special case: OR with an empty set and AND onto an empty
      // result already match the reference's sequential-res semantics.
      case And(l, r) if tokenless(ctx, r) => eval(ctx, l, esc, escalating)
      case AndNot(l, r) if tokenless(ctx, r) => eval(ctx, l, esc, escalating)
      case Adjust(l, r, _) if tokenless(ctx, r) => eval(ctx, l, esc, escalating)
      case And(l, r) =>
        val left = eval(ctx, l, esc, escalating)
        // too-many-matches escape (reference grn_ii_select sequential
        // fallback, lib/ii.c:6536): when the right clause is a plain match
        // — single token OR phrase — whose hottest token's df dwarfs the
        // left set's upper bound, verify against the candidates' source
        // column instead of decoding the hot postings (phrases re-verify
        // by position alignment) — cost ∝ candidates, not ∝ df(hot). The
        // bound is the static df estimate (grn_ii_estimate_size spirit),
        // so the decision is action-free.
        scanFallbackMatch(ctx, r) match {
          case Some((reader, qtoks, dfHot))
              if dfHot > TooManyMatchRatio * estimateSize(ctx, l) =>
            Engine.andScanVerify(left, reader, qtoks)
          case _ =>
            Engine.SetOps.and(left, eval(ctx, r, esc, escalating = false))
        }
      case Or(l, r) =>
        Engine.SetOps.or(eval(ctx, l, esc, escalating),
          eval(ctx, r, esc, escalating))
      case AndNot(l, r) =>
        Engine.SetOps.andNot(eval(ctx, l, esc, escalating),
          eval(ctx, r, esc, escalating = false))
      case Adjust(l, r, w) =>
        val rs = eval(ctx, r, esc, escalating = false)
          .map(s => ScoredDoc(s.docId, s.score * w))
        Engine.SetOps.adjust(eval(ctx, l, esc, escalating), rs)
      case MatchAll =>
        ctx.docs.select(col("docId"), lit(0.0).as("score")).as[ScoredDoc]
      // leading-NOT's implicit left side: every record, score 1 (reference
      // ALLOW_LEADING_NOT dummy ALL_RECORDS — fixture expects _score 1)
      case AllRecords =>
        ctx.docs.select(col("docId"), lit(1.0).as("score")).as[ScoredDoc]
      // assignment matches every record (the value write is the caller's
      // job — our tables are immutable DataFrames, so the runner applies
      // the update to its row store and re-runs dependent selects)
      case ColAssign(_, _) =>
        ctx.docs.select(col("docId"), lit(1.0).as("score")).as[ScoredDoc]
    }
  }

  /** Right-side-df : left-size ratio beyond which an AND clause takes the
    * sequential scan-verify path — the analogue of the reference's
    * grn_ii_select_too_many_index_match_ratio knob (default off there, but
    * the check itself is the documented escape hatch; 8 means the skipped
    * posting list must be nearly an order of magnitude larger than the
    * candidate bound before re-tokenizing candidates pays).
    */
  val TooManyMatchRatio: Double = 8.0

  /** The (reader, query tokens, hottest df) of a right-side clause
    * eligible for the scan-verify escape: a plain Match — single token or
    * phrase — in a single-section context with default weight/cap/scorer
    * (anything else changes the score algebra the escape reproduces), on
    * an index [[Engine.scanVerifiable]] accepts for its tokens. The
    * returned df is the LARGEST token df: that posting list is what the
    * index path must decode and the escape avoids. A token absent from the
    * lexicon keeps the index path — the empty intersection is already
    * cheap there.
    */
  private def scanFallbackMatch(
      ctx: Ctx, node: Node): Option[(IndexReader, Seq[graft.search.Searcher.QTok], Long)] =
    node match {
      case Match(text, _) if ctx.sections.size == 1 =>
        val (reader, sw) = ctx.sections.head
        if (sw.weight != 1.0 || sw.cap.nonEmpty || sw.tfIdf) None
        else {
          val qtoks = graft.search.Searcher.queryTokens(reader, text)
          if (qtoks.isEmpty || !Engine.scanVerifiable(reader, qtoks)) None
          else {
            val terms = qtoks.map(_.term).distinct
            val st = reader.termStats(terms)
            if (terms.exists(t => !st.contains(t))) None
            else Some((reader, qtoks, terms.map(t => st(t)._1).max))
          }
        }
      case _ => None
    }

  /** Static upper bound on a subtree's result-set size, from query-term
    * dfs only (no Spark action — the grn_ii_estimate_size discipline):
    * a match is bounded by its rarest token's df; AND by the smaller side;
    * AND_NOT/ADJUST by the left side; OR by the sum. Column predicates and
    * whole-table nodes are unbounded (no fallback triggers through them).
    */
  private def estimateSize(ctx: Ctx, node: Node): Long = {
    val Unbounded = Long.MaxValue / 4
    def est(n: Node): Long = n match {
      case Match(text, _) =>
        val perSection = ctx.sections.map { case (r, _) =>
          val toks = graft.search.Searcher.queryTokens(r, text).map(_.term)
          if (toks.isEmpty) 0L
          else {
            val st = r.termStats(toks)
            toks.map(t => st.get(t).map(_._1).getOrElse(0L)).min
          }
        }
        val s = perSection.sum
        if (s < 0) Unbounded else s
      case And(a, b) => math.min(est(a), est(b))
      case AndNot(a, _) => est(a)
      case Adjust(a, _, _) => est(a)
      case Or(a, b) =>
        val s = est(a) + est(b)
        if (s < 0 || s > Unbounded) Unbounded else s
      case _ => Unbounded
    }
    est(node)
  }

  /** Back-compat single-reader eval (used by tests). */
  def eval(reader: IndexReader, node: Node,
      matchColumn: Option[String] = None,
      esc: Long = -1L,
      escalating: Boolean = false): Dataset[ScoredDoc] =
    eval(Ctx.single(reader, matchColumn), node, esc, escalating)
}
