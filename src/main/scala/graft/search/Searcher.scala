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

  /** Occurrences of a query in ONE document, given each distinct query
    * term's offsets in the query and its posting in the document (reference
    * lib/ii.c:6941-6973): one occurrence per base >= 0 where every term's
    * positions hold base + each of its offsets. Every base is counted once
    * whichever term drives, so the count does not depend on the terms'
    * order. A single-token query counts the posting's tf and ignores the
    * offset: a lone token can carry offset > 0 (a stop-word filter dropped
    * the query's first token without rebasing positions), and the
    * alignment would drop occurrences below it. The index path
    * ([[evalShardMatch]]) counts a matched doc's stored postings with it,
    * the scan-verify escape ([[Engine.andScanVerify]]) a candidate's
    * re-tokenized ones.
    */
  def phraseCount(offsets: Array[Array[Int]], postings: Array[Posting]): Int = {
    if (offsets.length == 1 && offsets(0).length == 1) return postings(0).tf
    val driverPs = postings(0).positions
    var cnt = 0
    var p = 0
    while (p < driverPs.length) {
      val base = driverPs(p) - offsets(0)(0)
      if (base >= 0) {
        var all = true
        var t = 0
        while (all && t < offsets.length) {
          val ps = postings(t).positions
          val offs = offsets(t)
          var d = 0
          while (all && d < offs.length) { all = containsSorted(ps, base + offs(d)); d += 1 }
          t += 1
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
    val uniq = qtoks.groupBy(_.term).toSeq // (term, offsets-with-dups)
    // one distinct token at one offset: its count is the posting's tf, so
    // no alignment reads positions
    val singleTerm = uniq.size == 1 && uniq.head._2.size == 1
    val byTerm: Map[String, Array[Posting]] =
      segRows.groupBy(_.term).map { case (t, rs) => t -> mergeSalts(rs, withPos && !singleTerm) }
    if (uniq.exists { case (t, _) => !byTerm.contains(t) }) return Iterator.empty
    // rarest-first: drive from the smallest per-shard posting list
    val lists = uniq.map { case (t, qs) => (qs.map(_.offset).toArray, byTerm(t)) }
      .sortBy(_._2.length).toArray
    if (lists.isEmpty) return Iterator.empty

    val offsets = lists.map(_._1)
    val driver = lists.head._2
    val others = lists.tail.map(_._2)
    val idx = new Array[Int](others.length)
    // each term's posting in the current doc, in `lists` order
    val hit = new Array[Posting](lists.length)
    val out = Vector.newBuilder[(Long, Int, Int)]

    var i = 0
    while (i < driver.length) {
      val docId = driver(i).docId
      hit(0) = driver(i)
      var ok = !deleted(docId)
      var j = 0
      while (ok && j < others.length) {
        idx(j) = advance(others(j), idx(j), docId)
        ok = idx(j) < others(j).length && others(j)(idx(j)).docId == docId
        if (ok) hit(j + 1) = others(j)(idx(j))
        j += 1
      }
      if (ok) {
        val noccur: Int =
          if (!withPos && !singleTerm) 1 // positions not stored: presence only
          else kind match {
            case NearMatch(maxInterval) if !singleTerm =>
              // one cursor per QUERY TOKEN, positions adjusted by the
              // token's query offset (reference token_info pos semantics:
              // ti->pos = p->pos - offset, so aligned tokens compare equal;
              // negatives are skipped by the initial skip-to-0)
              val cursors = for (t <- hit.indices; off <- offsets(t))
                yield hit(t).positions.map(_ - off).filter(_ >= 0)
              nearCount(cursors.toArray, maxInterval)
            case _ => phraseCount(offsets, hit)
          }
        if (noccur > 0) {
          // tscore = summed posting weights of the matched entries
          // (reference res_add tscore accumulation, lib/ii.c:6984)
          var tscore = 0
          var t = 0
          while (t < hit.length) { tscore += hit(t).weight; t += 1 }
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
