package graft.analysis

/** A produced token.
  * @param term        token text (normalized)
  * @param pos         token ordinal (Groonga token_cursor position semantics:
  *                    reference lib/token_cursor.c — one position per cursor
  *                    step, including GET-mode skipped unmatured overlaps)
  * @param forcePrefix GET mode: token was unmatured (shorter than the n-gram
  *                    unit) and reached end of input → must be prefix-expanded
  *                    against the lexicon (reference lib/token_cursor.c:241-252)
  * @param startOff    original codepoint offset of the first char (for
  *                    highlight/snippet)
  * @param endOff      original codepoint offset one past the last char
  */
final case class Token(term: String, pos: Int, forcePrefix: Boolean, startOff: Int, endOff: Int)

sealed trait TokenizeMode
object TokenizeMode {
  /** Index-build mode: emit every token including overlapping n-grams. */
  case object Add extends TokenizeMode
  /** Query mode: skip unmatured overlaps, stop at end of input. */
  case object Get extends TokenizeMode
}

/** Raw token statuses (internal; mirror of GRN_TOKEN_* in
  * reference include/groonga/token.h).
  */
private object TokenStatus {
  val Overlap = 1
  val Unmatured = 2
  val ReachEnd = 4
  val Last = 8
}

/** Allocation-free receiver for Add-mode (index-build) tokenization: span
  * tokenizers call [[acceptSpan]] with codepoint bounds into the Normalized
  * they were given; term-rewriting chains (stemming) call [[acceptTerm]].
  */
trait AddSink {
  def acceptSpan(start: Int, endEx: Int, pos: Int): Unit
  def acceptTerm(term: String, pos: Int): Unit
}

/** Receiver of the spans a tokenizer's cursor loop emits. An abstract class
  * with primitive parameters rather than a function type: Scala does not
  * specialize Function3/Function4, so a `(Int, Int, Int, Boolean) => Unit`
  * callback boxes every token's offsets and position. A lambda converts to
  * this class (single abstract method) without boxing.
  */
private[analysis] abstract class SpanEmitter {
  def emit(start: Int, endEx: Int, pos: Int, forcePrefix: Boolean): Unit
}

trait GTokenizer extends Serializable {
  def normalizer: String => Normalized
  def tokenize(s: String, mode: TokenizeMode): Vector[Token] =
    tokenizeNormalized(normalizer(s), mode)
  def tokenizeNormalized(n: Normalized, mode: TokenizeMode): Vector[Token]

  /** Cursor entry point with the pre-tokenized-delimiter feature ENABLED —
    * the reference's index-build and search token cursors pass
    * GRN_TOKEN_CURSOR_ENABLE_TOKENIZED_DELIMITER (lib/ii.c:5864,5968,6226;
    * the intended load behavior per the tokenized_delimiter fixtures'
    * expectations), so an input containing U+FFFE is pre-tokenized
    * content. The base (ngram-family) behavior drops the marker and
    * tokenizes the remaining text normally; [[DelimitTokenizer]] overrides
    * to emit whole segments. Inputs without the marker take the normal
    * path unchanged (the reference's have_tokenized_delimiter scan,
    * lib/tokenizer.c:68-96).
    */
  def tokenizeEnabled(s: String, mode: TokenizeMode): Vector[Token] =
    if (s == null || s.indexOf('\uFFFE') < 0) tokenize(s, mode)
    else tokenize(s.filter(_ != '\uFFFE'), mode)

  /** Add-mode tokenize without per-token allocation — the index-build hot
    * path. Default falls back to the Token path (used by filter chains whose
    * terms are rewritten strings, not spans).
    */
  def tokenizeAddNormalized(nz: Normalized, sink: AddSink): Unit =
    tokenizeNormalized(nz, TokenizeMode.Add).foreach(t => sink.acceptTerm(t.term, t.pos))

  /** Normalize via caller-owned scratch buffers when the tokenizer uses the
    * standard auto normalizer (zero per-doc array churn); falls back to the
    * allocating normalizer otherwise.
    */
  def normalizeWith(s: String, scr: Normalizer.Scratch): Normalized =
    if (normalizer eq Normalizer.AutoFn) Normalizer.autoScratch(s, scr)
    else normalizer(s)
}

/** Character n-gram tokenizer with uni-run grouping — a re-expression of
  * Groonga's `ngram_next` (reference lib/tokenizers.c:349-455):
  *
  *   - consecutive ALPHA chars emit one token when `uniAlpha` (same for
  *     DIGIT/SYMBOL runs); runs always break at blanks (alpha/digit) or at
  *     blanks-unless-ignoreBlank (symbol);
  *   - other char classes (CJK, ...) emit overlapping n-grams of `unit`
  *     chars, stopping early at blanks or class boundaries — a short gram is
  *     flagged UNMATURED;
  *   - cursor-level filtering per reference lib/token_cursor.c:182-252:
  *     ADD emits everything; GET skips unmatured overlapping grams (position
  *     still advances) and stops once input end was reached.
  *
  * TokenBigram = unit 2, uniAlpha/Digit/Symbol; variants per
  * reference lib/tokenizers.c:306-345.
  */
final class NgramTokenizer(
    val unit: Int,
    val uniAlpha: Boolean,
    val uniDigit: Boolean,
    val uniSymbol: Boolean,
    val ignoreBlank: Boolean,
    val normalizer: String => Normalized
) extends GTokenizer {

  import CharType._
  import TokenStatus._

  def tokenizeNormalized(nz: Normalized, mode: TokenizeMode): Vector[Token] = {
    val out = Vector.newBuilder[Token]
    val e = nz.length
    emitTokens(nz, mode) { (p, r, posCtr, forcePrefix) =>
      out += Token(nz.slice(p, r), posCtr,
        forcePrefix && mode == TokenizeMode.Get,
        nz.offsets(p), if (r - 1 < e) nz.endOffsets(r - 1) else nz.endOffsets(e - 1))
    }
    out.result()
  }

  override def tokenizeAddNormalized(nz: Normalized, sink: AddSink): Unit =
    emitTokens(nz, TokenizeMode.Add)((p, r, pos, _) => sink.acceptSpan(p, r, pos))

  /** Core cursor loop shared by the Token and the allocation-free paths;
    * `f.emit(start, endEx, pos, forcePrefix)` per emitted token.
    */
  private def emitTokens(nz: Normalized, mode: TokenizeMode)(f: SpanEmitter): Unit = {
    val e = nz.length
    var nextIdx = 0
    var posCtr = -1 // token_cursor->pos starts at -1
    var overlap = false
    var done = e == 0

    while (!done) {
      val p = nextIdx
      var r = p
      var len = 0
      var status = 0

      if (p >= e) {
        done = true
      } else {
        val ct = nz.types(p)
        if (uniAlpha && ct == Alpha) {
          var cont = true
          while (cont && r < e) {
            len += 1; r += 1
            if (nz.blanks(r - 1)) cont = false
            else if (r < e && nz.types(r) != Alpha) cont = false
          }
          nextIdx = r; overlap = false
        } else if (uniDigit && ct == Digit) {
          var cont = true
          while (cont && r < e) {
            len += 1; r += 1
            if (nz.blanks(r - 1)) cont = false
            else if (r < e && nz.types(r) != Digit) cont = false
          }
          nextIdx = r; overlap = false
        } else if (uniSymbol && ct == Symbol) {
          var cont = true
          while (cont && r < e) {
            len += 1; r += 1
            if (!ignoreBlank && nz.blanks(r - 1)) cont = false
            else if (r < e && nz.types(r) != Symbol) cont = false
          }
          nextIdx = r; overlap = false
        } else {
          // n-gram branch
          len = 1; r = p + 1
          nextIdx = r // next gram starts one char over (overlapping grams)
          var cont = true
          while (cont && len < unit && r < e) {
            if (!ignoreBlank && nz.blanks(r - 1)) cont = false
            else {
              val t = nz.types(r)
              if ((uniAlpha && t == Alpha) || (uniDigit && t == Digit) ||
                (uniSymbol && t == Symbol)) cont = false
              else { len += 1; r += 1 }
            }
          }
          if (overlap) status |= Overlap
          if (len < unit) status |= Unmatured
          overlap = len > 1
        }

        if (p == r || nextIdx >= e) status |= Last
        if (r == e) status |= ReachEnd

        // a token longer than the max lexicon key (4096 bytes) is dropped
        // at the CURSOR level — no position is consumed (reference
        // token_cursor "ignore too long token"; lexicon keys cap at
        // GRN_TABLE_MAX_KEY_SIZE). Only uni-runs can exceed it.
        if (r - p > 1024 && Tokenizers.utf8Bytes(nz, p, r) > 4096) {
          nextIdx = r
          if (nextIdx >= e) done = true
        } else {

        // --- cursor-level handling (lib/token_cursor.c) ---
        posCtr += 1
        var emit = len > 0
        var forcePrefix = false
        if ((status & Unmatured) != 0) {
          if ((status & Overlap) != 0) {
            if (mode == TokenizeMode.Get) emit = false // skip, pos consumed
          } else if ((status & ReachEnd) != 0) forcePrefix = true
        }
        if (emit) f.emit(p, r, posCtr, forcePrefix)
        if ((status & Last) != 0) done = true
        else if (mode == TokenizeMode.Get && (status & ReachEnd) != 0) done = true
        }
      }
    }
  }
}

/** Delimiter tokenizer — split on blank runs of the normalized string
  * (reference lib/tokenizers.c:101-236 `delimited_next`, TokenDelimit splits
  * on ' '; consecutive delimiters collapse).
  */
final class DelimitTokenizer(val normalizer: String => Normalized) extends GTokenizer {
  def tokenizeNormalized(nz: Normalized, mode: TokenizeMode): Vector[Token] = {
    val out = Vector.newBuilder[Token]
    emitTokens(nz) { (i, end, pos, _) =>
      out += Token(nz.slice(i, end), pos, forcePrefix = false,
        nz.offsets(i), nz.endOffsets(end - 1))
    }
    out.result()
  }

  override def tokenizeAddNormalized(nz: Normalized, sink: AddSink): Unit =
    emitTokens(nz)((i, end, pos, _) => sink.acceptSpan(i, end, pos))

  /** U+FFFE pre-tokenized content: each non-empty delimiter-separated
    * segment is ONE whole token with interior blanks KEPT — the fixture's
    * "Kurosawa Akira" stays a single tag (reference
    * grn_tokenizer_tokenized_delimiter_next, lib/tokenizer.c:252-289,
    * via delimited_next's have_tokenized_delimiter branch,
    * lib/tokenizers.c:160-171). Segments normalize blank-keeping when
    * this tokenizer normalizes at all.
    */
  override def tokenizeEnabled(s: String, mode: TokenizeMode): Vector[Token] =
    if (s == null || s.indexOf('\uFFFE') < 0) tokenize(s, mode)
    else {
      val out = Vector.newBuilder[Token]
      var pos = 0
      s.split('\uFFFE').foreach { seg =>
        if (seg.nonEmpty) {
          // keys keep interior blanks: blank-keeping auto form when this
          // tokenizer normalizes, the raw segment otherwise (Normalizer
          // .none's .text would drop the blanks a tag key must keep)
          val v =
            if (normalizer eq Normalizer.AutoFn) Normalizer.autoKeepBlank(seg).text
            else seg
          if (v.nonEmpty) {
            out += Token(v, pos, forcePrefix = false, 0, 0)
            pos += 1
          }
        }
      }
      out.result()
    }

  private def emitTokens(nz: Normalized)(f: SpanEmitter): Unit = {
    val e = nz.length
    var i = 0
    var pos = 0
    while (i < e) {
      var j = i
      var stop = false
      while (!stop && j < e) {
        if (nz.blanks(j)) { stop = true; j += 1 }
        else j += 1
      }
      val end = if (stop) j else e
      // drop tokens over the 4096-byte lexicon key cap, no position consumed
      if (!(end - i > 1024 && Tokenizers.utf8Bytes(nz, i, end) > 4096)) {
        f.emit(i, end, pos, false)
        pos += 1
      }
      i = end
    }
  }
}

/** Registry mirroring reference lib/tokenizers.c:798-843. */
object Tokenizers {
  private def auto: String => Normalized = Normalizer.AutoFn

  /** UTF-8 byte length of a codepoint span of a [[Normalized]]. */
  private[analysis] def utf8Bytes(nz: Normalized, from: Int, until: Int): Int = {
    var n = 0
    var i = from
    while (i < until) {
      val cp = nz.cps(i)
      n += (if (cp < 0x80) 1 else if (cp < 0x800) 2
            else if (cp < 0x10000) 3 else 4)
      i += 1
    }
    n
  }

  lazy val TokenBigram = new NgramTokenizer(2, true, true, true, false, auto)
  lazy val TokenUnigram = new NgramTokenizer(1, true, true, true, false, auto)
  lazy val TokenTrigram = new NgramTokenizer(3, true, true, true, false, auto)
  lazy val TokenBigramSplitSymbol = new NgramTokenizer(2, true, true, false, false, auto)
  lazy val TokenBigramSplitSymbolAlpha = new NgramTokenizer(2, false, true, false, false, auto)
  lazy val TokenBigramSplitSymbolAlphaDigit = new NgramTokenizer(2, false, false, false, false, auto)
  lazy val TokenBigramIgnoreBlank = new NgramTokenizer(2, true, true, true, true, auto)
  lazy val TokenBigramIgnoreBlankSplitSymbol = new NgramTokenizer(2, true, true, false, true, auto)
  lazy val TokenBigramIgnoreBlankSplitSymbolAlpha = new NgramTokenizer(2, false, true, false, true, auto)
  lazy val TokenBigramIgnoreBlankSplitSymbolAlphaDigit = new NgramTokenizer(2, false, false, false, true, auto)
  lazy val TokenDelimit = new DelimitTokenizer(auto)

  /** TokenRegexp (reference lib/tokenizers.c regexp tokenizer): raw
    * overlapping bigrams over ALL character classes, with text marks —
    * ADD mode wraps the stream in begin (U+FFEF) / end (U+FFF0) marks and
    * emits a trailing unigram per blank-delimited run; GET mode walks
    * non-overlapping pairs per run, stepping BACK one char for an odd
    * tail (the last two chars re-pair instead of an unmatured single),
    * and honors explicit begin/end marks in the query text. This is what
    * makes index-backed regexp search exact: every 2-gram of the source,
    * plus anchors, is a lexicon key.
    */
  final class RegexpTokenizer(val normalizer: String => Normalized) extends GTokenizer {
    private final val Begin = 0xFFEF
    private final val End = 0xFFF0
    def tokenizeNormalized(n: Normalized, mode: TokenizeMode): Vector[Token] = {
      val len = n.length
      val out = Vector.newBuilder[Token]
      def term(from: Int, until: Int): String = n.slice(from, until)
      mode match {
        case TokenizeMode.Add =>
          var blanksBefore = 0
          out += Token("\uFFEF", 0, forcePrefix = false, 0, 0)
          var i = 0
          while (i < len) {
            val runBreak = n.blanks(i) || i + 1 >= len
            val t = if (runBreak) term(i, i + 1) else term(i, i + 2)
            out += Token(t, 1 + i + blanksBefore, forcePrefix = false, i,
              i + (if (runBreak) 1 else 2))
            if (n.blanks(i)) blanksBefore += 1
            i += 1
          }
          out += Token("\uFFF0", 1 + len + blanksBefore, forcePrefix = false, len, len)
        case TokenizeMode.Get =>
          var i = 0
          if (len > 0 && n.cps(0) == Begin) {
            out += Token("\uFFEF", 0, forcePrefix = false, 0, 0)
            i = 1
          }
          val end = if (len > 0 && n.cps(len - 1) == End) len - 1 else len
          while (i < end) {
            // run = maximal span with no blank boundary inside
            var e = i
            while (e < end && !n.blanks(e)) e += 1
            if (e < end) e += 1 // include the char carrying the blank flag
            var p = i
            while (e - p >= 2) {
              out += Token(term(p, p + 2), p, forcePrefix = false, p, p + 2)
              p += 2
            }
            if (p < e) {
              if (e - i >= 2)
                out += Token(term(e - 2, e), e - 2, forcePrefix = false, e - 2, e)
              else
                out += Token(term(p, p + 1), p,
                  forcePrefix = e == len && end == len, p, p + 1)
            }
            i = e
          }
          if (end < len) out += Token("\uFFF0", end, forcePrefix = false, end, end)
      }
      out.result()
    }
  }

  lazy val TokenRegexp = new RegexpTokenizer(auto)

  def byName(name: String): GTokenizer = {
    // "Base+Stem+StopWord=w1,w2" chain naming: filters append to the base
    // tokenizer; StopWord filters apply in GET mode only (reference
    // plugins/token_filters/stop_word.c)
    if (name.contains('+')) {
      val parts = name.split('+')
      val base = byName(parts.head)
      val filters = Seq.newBuilder[Vector[Token] => Vector[Token]]
      val getFilters = Seq.newBuilder[Vector[Token] => Vector[Token]]
      parts.tail.foreach {
        case "Stem" => filters += TokenFilters.stem _
        case s if s.startsWith("StopWord=") =>
          val stops = s.stripPrefix("StopWord=").split(',').filter(_.nonEmpty).toSet
          if (stops.nonEmpty) getFilters += TokenFilters.stopWord(stops) _
        case f => throw new IllegalArgumentException(s"unknown token filter: $f")
      }
      new FilteredTokenizer(base, filters.result(), getFilters.result())
    } else byNameBase(name)
  }

  /** `Name:none` = the tokenizer of a lexicon WITHOUT a normalizer: n-grams
    * see the raw string (no char types, no case folding, no blank removal —
    * reference grn_string_open without normalizer); delimiters still split
    * on the literal delimiter char.
    */
  private val rawCache = scala.collection.mutable.Map[String, GTokenizer]()

  private def byNameBase(name: String): GTokenizer =
    if (name.endsWith(":none")) synchronized {
      rawCache.getOrElseUpdate(name, {
        byNameNormalized(name.dropRight(5)) match {
          case ng: NgramTokenizer =>
            new NgramTokenizer(ng.unit, ng.uniAlpha, ng.uniDigit, ng.uniSymbol,
              ng.ignoreBlank, Normalizer.raw)
          case _: DelimitTokenizer => new DelimitTokenizer(Normalizer.none)
          case _: RegexpTokenizer => new RegexpTokenizer(Normalizer.raw)
          case other => other
        }
      })
    } else byNameNormalized(name)

  private def byNameNormalized(name: String): GTokenizer = name match {
    case "TokenBigram" => TokenBigram
    case "TokenUnigram" => TokenUnigram
    case "TokenTrigram" => TokenTrigram
    case "TokenBigramSplitSymbol" => TokenBigramSplitSymbol
    case "TokenBigramSplitSymbolAlpha" => TokenBigramSplitSymbolAlpha
    case "TokenBigramSplitSymbolAlphaDigit" => TokenBigramSplitSymbolAlphaDigit
    case "TokenBigramIgnoreBlank" => TokenBigramIgnoreBlank
    case "TokenBigramIgnoreBlankSplitSymbol" => TokenBigramIgnoreBlankSplitSymbol
    case "TokenBigramIgnoreBlankSplitSymbolAlpha" => TokenBigramIgnoreBlankSplitSymbolAlpha
    case "TokenBigramIgnoreBlankSplitSymbolAlphaDigit" => TokenBigramIgnoreBlankSplitSymbolAlphaDigit
    case "TokenDelimit" => TokenDelimit
    case "TokenRegexp" => TokenRegexp
    case other => throw new IllegalArgumentException(s"unknown tokenizer: $other")
  }
}
