package graft.index

import graft.analysis.{AddSink, GTokenizer, Normalized, Normalizer}

/** Per-document tokenize+combine kernel for the index build — the
  * allocation-discipline analogue of Groonga's block-local tmp_lexicon
  * accumulation (reference lib/ii.c:7561-7580 ii_buffer_counter): an
  * open-addressing hash over TOKEN SPANS of the normalized text, unboxed
  * position lists, and one String materialization per DISTINCT term per doc.
  *
  * Reused across documents within a partition (`reset` between docs), so
  * steady-state per-token cost is a probe + an int append — no Token object,
  * no boxed Integer, no per-token String. This is what lets the tokenize
  * stage scale with cores instead of memory bandwidth.
  */
final class DocCombiner(withPositions: Boolean) extends AddSink {

  /** Reusable normalization buffers (one per combiner = one per task). */
  val scratch = new graft.analysis.Normalizer.Scratch

  private var nz: Normalized = _

  // open-addressing table: slot -> entry index (-1 empty)
  private var cap = 1024
  private var mask = cap - 1
  private var table = { val t = new Array[Int](cap); java.util.Arrays.fill(t, -1); t }

  // entry storage (parallel arrays)
  private var eCap = 256
  private var n = 0
  private var hashes = new Array[Int](eCap)
  private var starts = new Array[Int](eCap)
  private var ends = new Array[Int](eCap)
  private var terms = new Array[String](eCap) // string-mode terms (filter chains)
  private var tfs = new Array[Int](eCap)
  private var posArr = new Array[Array[Int]](eCap)
  private var posLen = new Array[Int](eCap)

  private var tokens = 0 // total token count this doc (= doclen)

  def reset(normalized: Normalized): Unit = {
    nz = normalized
    if (n > cap / 4) { // table got crowded last doc: keep size, just clear
      java.util.Arrays.fill(table, -1)
    } else {
      var i = 0
      while (i < n) { clearSlotOf(i); i += 1 }
    }
    n = 0
    tokens = 0
  }

  /** Clear only the slots the previous doc populated (cheaper than a full
    * table wipe when the doc had few distinct terms).
    */
  private def clearSlotOf(entry: Int): Unit = {
    var slot = hashes(entry) & mask
    while (table(slot) != -1) { table(slot) = -1; slot = (slot + 1) & mask }
  }

  def docTokens: Int = tokens

  private def growEntries(): Unit = {
    eCap *= 2
    hashes = java.util.Arrays.copyOf(hashes, eCap)
    starts = java.util.Arrays.copyOf(starts, eCap)
    ends = java.util.Arrays.copyOf(ends, eCap)
    terms = java.util.Arrays.copyOf(terms, eCap)
    tfs = java.util.Arrays.copyOf(tfs, eCap)
    posArr = java.util.Arrays.copyOf(posArr, eCap)
    posLen = java.util.Arrays.copyOf(posLen, eCap)
  }

  private def growTable(): Unit = {
    cap *= 2
    mask = cap - 1
    table = new Array[Int](cap)
    java.util.Arrays.fill(table, -1)
    var i = 0
    while (i < n) {
      var slot = hashes(i) & mask
      while (table(slot) != -1) slot = (slot + 1) & mask
      table(slot) = i
      i += 1
    }
  }

  @inline private def addPos(e: Int, pos: Int): Unit = {
    tfs(e) += 1
    if (withPositions) {
      var a = posArr(e)
      if (a == null || posLen(e) >= a.length) {
        a = if (a == null) new Array[Int](4) else java.util.Arrays.copyOf(a, a.length * 2)
        posArr(e) = a
      }
      a(posLen(e)) = pos
      posLen(e) += 1
    }
  }

  private def insert(hash: Int, slot: Int, start: Int, endEx: Int, term: String, pos: Int): Unit = {
    if (n >= eCap) growEntries()
    val e = n
    n += 1
    hashes(e) = hash; starts(e) = start; ends(e) = endEx; terms(e) = term
    tfs(e) = 0; posLen(e) = 0
    addPos(e, pos)
    table(slot) = e
    if (n > cap / 2) growTable()
  }

  def acceptSpan(start: Int, endEx: Int, pos: Int): Unit = {
    tokens += 1
    val cps = nz.cps
    var h = 0x811c9dc5
    var i = start
    while (i < endEx) { h ^= cps(i); h *= 0x01000193; i += 1 }
    var slot = h & mask
    while (true) {
      val e = table(slot)
      if (e == -1) { insert(h, slot, start, endEx, null, pos); return }
      if (hashes(e) == h && spanEq(e, start, endEx)) { addPos(e, pos); return }
      slot = (slot + 1) & mask
    }
  }

  private def spanEq(e: Int, start: Int, endEx: Int): Boolean = {
    val len = endEx - start
    if (ends(e) - starts(e) != len) return false
    if (terms(e) != null) return false // string-mode entry can't equal a span here
    val cps = nz.cps
    var i = 0
    while (i < len) {
      if (cps(starts(e) + i) != cps(start + i)) return false
      i += 1
    }
    true
  }

  def acceptTerm(term: String, pos: Int): Unit = {
    tokens += 1
    val h = term.hashCode * 0x9e3779b1 // spread low-entropy String hashes
    var slot = h & mask
    while (true) {
      val e = table(slot)
      if (e == -1) { insert(h, slot, 0, 0, term, pos); return }
      if (hashes(e) == h && term == terms(e)) { addPos(e, pos); return }
      slot = (slot + 1) & mask
    }
  }

  /** Materialize this doc's combined postings: (term, docId, tf, positions).
    * Must be consumed before the next [[reset]].
    */
  def result(docId: Long): Array[(String, Long, Int, Array[Int])] = {
    val out = new Array[(String, Long, Int, Array[Int])](n)
    var i = 0
    while (i < n) {
      val term = if (terms(i) != null) terms(i) else nz.slice(starts(i), ends(i))
      val ps =
        if (withPositions) java.util.Arrays.copyOf(posArr(i), posLen(i))
        else Array.emptyIntArray
      out(i) = (term, docId, tfs(i), ps)
      i += 1
    }
    out
  }
}

object DocCombiner {
  /** Fused per-doc kernel: normalize → tokenize spans → combined postings. */
  def docPostings(
      tok: GTokenizer,
      comb: DocCombiner,
      docId: Long,
      content: String
  ): Array[(String, Long, Int, Array[Int])] = {
    tokenize(tok, comb.scratch, content, comb)(comb.reset)
    comb.result(docId)
  }

  /** The build's one tokenization of a document: `start` receives the
    * normalized text the spans index into, then every token goes to `sink`.
    * The postings pass ([[docPostings]]) and the norms pass both call it, so
    * a document's doclen is the sum of tf over its postings.
    */
  def tokenize(tok: GTokenizer, scratch: Normalizer.Scratch, content: String, sink: AddSink)(
      start: Normalized => Unit): Unit =
    if (content.indexOf('\uFFFE') >= 0) {
      // pre-tokenized content: the build cursor honors the U+FFFE
      // delimiter (GTokenizer.tokenizeEnabled) — the rare-doc allocating
      // Token path; the scan costs one indexOf on the common path
      val toks = tok.tokenizeEnabled(content, graft.analysis.TokenizeMode.Add)
      start(tok.normalizeWith("", scratch))
      toks.foreach(t => sink.acceptTerm(t.term, t.pos))
    } else {
      val nz = tok.normalizeWith(content, scratch)
      start(nz)
      tok.tokenizeAddNormalized(nz, sink)
    }
}
