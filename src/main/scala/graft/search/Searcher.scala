package graft.search

import graft.analysis.{Tokenizers, TokenizeMode}
import graft.codec.PostingCodec
import graft.core.Posting
import graft.index.{IndexReader, SegmentRow}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

final case class ScoredDoc(docId: Long, score: Double)

/** Scoring strategies. The reference default is `(noccur + tscore) * weight`
  * (lib/ii.c:6984); `scorer_tf_idf` per lib/scorers.c:26-52; BM25 is our new
  * scorer in the same pluggable slot (reference include/groonga/scorer.h) —
  * all the inputs it needs (tf, df, N, doclen) are stored by the build.
  */
sealed trait Scorer extends Serializable
case object DefaultScorer extends Scorer
final case class Bm25(k1: Double = 1.2, b: Double = 0.75) extends Scorer {
  def idf(n: Long, df: Long): Double =
    math.log((n - df + 0.5) / (df + 0.5) + 1.0)
  def tfNorm(tf: Int, dl: Int, avgdl: Double): Double =
    tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
  /** Upper bound of tfNorm over all doclens, for a tf bound. */
  def tfNormUb(tfMax: Int): Double = tfMax * (k1 + 1.0) / (tfMax + k1 * (1.0 - b))
}
case object TfIdfScorer extends Scorer

/** Match kinds dispatched like grn_ii_select (reference lib/ii.c:6734):
  * Phrase = multi-token EXACT (consecutive position alignment), Near = *N.
  */
sealed trait MatchKind extends Serializable
case object PhraseMatch extends MatchKind
final case class NearMatch(maxInterval: Int) extends MatchKind

object Searcher {

  final case class QTok(term: String, offset: Int)

  /** Tokenize query text in GET mode against the index's analysis chain. */
  def queryTokens(reader: IndexReader, text: String): Seq[QTok] = {
    // tokenizeEnabled: search cursors honor the U+FFFE pre-tokenized
    // delimiter (reference token_info_build opens its cursor with
    // ENABLE_TOKENIZED_DELIMITER, lib/ii.c:5864)
    Tokenizers.byName(reader.manifest.tokenizerName)
      .tokenizeEnabled(text, TokenizeMode.Get)
      .map(t => QTok(t.term, t.pos))
  }

  /** A term's (possibly salted) segment rows as one docId-ascending list. */
  private[search] def mergeSalts(rows: Seq[SegmentRow], withPos: Boolean): Array[Posting] = {
    if (rows.size == 1)
      PostingCodec.decode(rows.head.blocks.map(_.toBlock), withPos).toArray
    else
      rows.iterator.flatMap(r => PostingCodec.decode(r.blocks.map(_.toBlock), withPos))
        .toArray.sortBy(_.docId)
  }

  /** Binary search: does sorted `arr` contain `v`? */
  @inline private def containsSorted(arr: Array[Int], v: Int): Boolean =
    java.util.Arrays.binarySearch(arr, v) >= 0

  /** Phrase-occurrence count over a RE-TOKENIZED document: one occurrence
    * per base position where every query token's term appears at
    * base+offset — the scan-side twin of the PhraseMatch alignment in
    * [[evalShardMatch]] (reference sequential phrase check,
    * lib/ii.c:6536-6654), so the too-many-matches escape can re-verify a
    * phrase against candidates' source text instead of decoding hot
    * postings. For a single-token query this degenerates to tf (every
    * position counts), matching the posting path's `noccur = tf`.
    */
  def countAligned(tokens: Seq[graft.analysis.Token], qtoks: Seq[QTok]): Int = {
    if (qtoks.isEmpty) return 0
    val posByTerm: Map[String, Array[Int]] = tokens.groupBy(_.term)
      .map { case (t, ts) => t -> ts.map(_.pos).distinct.sorted.toArray }
    // single-token query: noccur = tf, OFFSET IGNORED — mirroring the
    // posting path's singleTerm shortcut (evalShardMatch: driver(i).tf).
    // A lone token can carry offset > 0 (e.g. a stop-word filter dropped
    // the query's first token without rebasing positions); the base>=0
    // alignment below would then wrongly drop occurrences at positions
    // below the offset.
    if (qtoks.size == 1)
      return posByTerm.get(qtoks.head.term).map(_.length).getOrElse(0)
    val uniq = qtoks.groupBy(_.term).toSeq
      .map { case (t, qs) => (qs.map(_.offset), posByTerm.getOrElse(t, null)) }
    if (uniq.exists(_._2 == null)) return 0
    // drive from the sparsest term, like the posting path
    val lists = uniq.sortBy(_._2.length)
    val (driverOffs, driverPs) = lists.head
    var cnt = 0
    var p = 0
    while (p < driverPs.length) {
      val base = driverPs(p) - driverOffs.head
      if (base >= 0) {
        var all = true
        var d = 1
        while (all && d < driverOffs.size) {
          all = containsSorted(driverPs, base + driverOffs(d)); d += 1
        }
        var q = 1
        while (all && q < lists.size) {
          val (offs, ps) = lists(q)
          var d2 = 0
          while (all && d2 < offs.size) {
            all = containsSorted(ps, base + offs(d2)); d2 += 1
          }
          q += 1
        }
        if (all) cnt += 1
      }
      p += 1
    }
    cnt
  }

  /** Galloping advance: smallest index >= lo with arr(idx).docId >= target. */
  private def advance(arr: Array[Posting], lo: Int, target: Long): Int = {
    var step = 1
    var hi = lo
    while (hi < arr.length && arr(hi).docId < target) { hi = math.min(arr.length, hi + step); step <<= 1 }
    // binary search in (lo-ish, hi]
    var a = math.max(lo, hi - (step >> 1))
    var b = hi
    while (a < b) {
      val m = (a + b) >>> 1
      if (arr(m).docId < target) a = m + 1 else b = m
    }
    a
  }

  /** Shard-local evaluation of a multi-token match with the reference
    * semantics: rarest-first conjunctive docID intersection with skipping
    * (reference lib/ii.c:6804-6973 token_info_skip), phrase check via
    * position alignment (one occurrence per full alignment), NEAR via a
    * min-heap position window (reference lib/ii.c:6900-6940 bt_push/bt_pop).
    * Returns (docId, noccur, tscore) — tscore is the summed weight of the
    * matched postings (reference lib/ii.c:6984); caller applies
    * `(noccur + tscore) * weight` score arithmetic.
    */
  def evalShardMatch(
      qtoks: Seq[QTok],
      segRows: Seq[SegmentRow],
      withPos: Boolean,
      kind: MatchKind,
      deleted: Long => Boolean = _ => false
  ): Iterator[(Long, Int, Int)] = {
    val byTerm: Map[String, Array[Posting]] =
      segRows.groupBy(_.term).map { case (t, rs) => t -> mergeSalts(rs, withPos) }
    val uniq = qtoks.groupBy(_.term).toSeq // (term, offsets-with-dups)
    if (uniq.exists { case (t, _) => !byTerm.contains(t) }) return Iterator.empty
    // rarest-first: drive from the smallest per-shard posting list
    val lists = uniq.map { case (t, qs) => (qs.map(_.offset), byTerm(t)) }
      .sortBy(_._2.length)
    if (lists.isEmpty) return Iterator.empty

    val driverOffsets = lists.head._1
    val driver = lists.head._2
    val others = lists.tail.toArray
    val idx = new Array[Int](others.length)
    val out = Vector.newBuilder[(Long, Int, Int)]
    val singleTerm = others.isEmpty && driverOffsets.size == 1

    var i = 0
    while (i < driver.length) {
      val docId = driver(i).docId
      var ok = !deleted(docId)
      var j = 0
      while (ok && j < others.length) {
        idx(j) = advance(others(j)._2, idx(j), docId)
        ok = idx(j) < others(j)._2.length && others(j)._2(idx(j)).docId == docId
        j += 1
      }
      if (ok) {
        val noccur: Int =
          if (singleTerm) driver(i).tf // single-token query: noccur = tf
          else if (!withPos) 1 // positions not stored: presence only
          else kind match {
            case PhraseMatch =>
              // one occurrence per base where every query offset aligns
              val driverPs = driver(i).positions
              var cnt = 0
              var p = 0
              while (p < driverPs.length) {
                val base = driverPs(p) - driverOffsets.head
                if (base >= 0) {
                  var all = true
                  var d = 1
                  while (all && d < driverOffsets.size) {
                    all = containsSorted(driverPs, base + driverOffsets(d)); d += 1
                  }
                  var q = 0
                  while (all && q < others.length) {
                    val ps = others(q)._2(idx(q)).positions
                    val offs = others(q)._1
                    var d2 = 0
                    while (all && d2 < offs.size) {
                      all = containsSorted(ps, base + offs(d2)); d2 += 1
                    }
                    q += 1
                  }
                  if (all) cnt += 1
                }
                p += 1
              }
              cnt
            case NearMatch(maxInterval) =>
              // one cursor per QUERY TOKEN, positions adjusted by the
              // token's query offset (reference token_info pos semantics:
              // ti->pos = p->pos - offset, so aligned tokens compare equal;
              // negatives are skipped by the initial skip-to-0)
              val buf = scala.collection.mutable.ArrayBuffer[Array[Int]]()
              driverOffsets.foreach { off =>
                buf += driver(i).positions.map(_ - off).filter(_ >= 0)
              }
              var q = 0
              while (q < others.length) {
                val ps = others(q)._2(idx(q)).positions
                others(q)._1.foreach { off =>
                  buf += ps.map(_ - off).filter(_ >= 0)
                }
                q += 1
              }
              nearCount(buf.toArray, maxInterval)
          }
        if (noccur > 0) {
          // tscore = summed posting weights of the matched entries
          // (reference res_add tscore accumulation, lib/ii.c:6984)
          var tscore = driver(i).weight
          var q = 0
          while (q < others.length) { tscore += others(q)._2(idx(q)).weight; q += 1 }
          out += ((docId, noccur, tscore))
        }
      }
      i += 1
    }
    out.result().iterator
  }

  /** Count NEAR windows over offset-adjusted position lists — faithful to
    * the reference's min-heap loop (lib/ii.c:6901-6940): when the [min,max]
    * span fits, count one occurrence and advance the min cursor to
    * max+1; otherwise advance the min cursor to max-maxInterval; stop when
    * a cursor exhausts.
    */
  def nearCount(lists: Array[Array[Int]], maxInterval: Int): Int = {
    if (lists.exists(_.isEmpty)) return 0
    val idx = new Array[Int](lists.length)
    var noccur = 0
    var done = false
    while (!done) {
      var minV = Int.MaxValue; var maxV = Int.MinValue; var minI = -1
      var i = 0
      while (i < lists.length) {
        val v = lists(i)(idx(i))
        if (v < minV) { minV = v; minI = i }
        if (v > maxV) maxV = v
        i += 1
      }
      val target =
        if (maxV - minV <= maxInterval) { noccur += 1; maxV + 1 }
        else maxV - maxInterval
      var j = idx(minI)
      val lst = lists(minI)
      while (j < lst.length && lst(j) < target) j += 1
      if (j >= lst.length) done = true else idx(minI) = j
    }
    noccur
  }
}
