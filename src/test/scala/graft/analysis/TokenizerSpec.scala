package graft.analysis

import org.scalatest.funsuite.AnyFunSuite
import TokenizeMode.{Add, Get}

/** Conformance tests against reference grntest fixtures
  * (test/command/suite/tokenizers) and hand-derived cases from the ngram
  * semantics (reference lib/tokenizers.c:349-455, lib/token_cursor.c:182-252).
  */
class TokenizerSpec extends AnyFunSuite {
  private val bigram = Tokenizers.TokenBigram
  private val trigram = Tokenizers.TokenTrigram
  private val delimit = Tokenizers.TokenDelimit

  private def terms(ts: Vector[Token]) = ts.map(_.term)
  private def posed(ts: Vector[Token]) = ts.map(t => (t.term, t.pos))

  // fixture: tokenizers/bigram/force_prefix/single_token/matured
  test("bigram GET matured CJK token") {
    val ts = bigram.tokenize("だよ", Get)
    assert(posed(ts) == Vector(("だよ", 0)))
    assert(ts.head.forcePrefix == false)
  }

  // fixture: tokenizers/bigram/force_prefix/single_token/unmatured
  test("bigram GET unmatured single char forces prefix") {
    val ts = bigram.tokenize("だ", Get)
    assert(posed(ts) == Vector(("だ", 0)))
    assert(ts.head.forcePrefix == true)
  }

  // fixture: tokenizers/bigram/force_prefix/multiple_tokens/matured
  test("bigram GET alpha run + CJK") {
    val ts = bigram.tokenize("ABCだよ", Get)
    assert(posed(ts) == Vector(("abc", 0), ("だよ", 1)))
    assert(ts.map(_.forcePrefix) == Vector(false, false))
  }

  // fixture: tokenizers/bigram/force_prefix/multiple_tokens/unmatured
  test("bigram GET alpha run + unmatured CJK") {
    val ts = bigram.tokenize("ABCだ", Get)
    assert(posed(ts) == Vector(("abc", 0), ("だ", 1)))
    assert(ts.map(_.forcePrefix) == Vector(false, true))
  }

  test("bigram ADD emits overlapping CJK grams with per-token positions") {
    val ts = bigram.tokenize("だよし", Add)
    assert(posed(ts) == Vector(("だよ", 0), ("よし", 1), ("し", 2)))
  }

  test("bigram GET skips trailing unmatured overlap") {
    val ts = bigram.tokenize("だよし", Get)
    // し is UNMATURED+OVERLAP → skipped in GET mode, position consumed
    assert(posed(ts) == Vector(("だよ", 0), ("よし", 1)))
  }

  test("bigram ADD groups alpha/digit/symbol runs (source-code payload)") {
    val ts = bigram.tokenize("if (x10 != y) return;", Add)
    assert(posed(ts) == Vector(
      ("if", 0), ("(", 1), ("x", 2), ("10", 3), ("!=", 4),
      ("y", 5), (")", 6), ("return", 7), (";", 8)))
  }

  test("blank splits symbol runs unless ignoreBlank") {
    assert(terms(bigram.tokenize("a + + b", Add)) == Vector("a", "+", "+", "b"))
    assert(terms(Tokenizers.TokenBigramIgnoreBlank.tokenize("a + + b", Add)) ==
      Vector("a", "++", "b"))
  }

  test("alpha run breaks at blank even for consecutive alpha") {
    assert(posed(bigram.tokenize("hello world", Add)) ==
      Vector(("hello", 0), ("world", 1)))
  }

  test("normalization lowercases and NFKC-folds") {
    assert(terms(bigram.tokenize("Hello WORLD", Add)) == Vector("hello", "world"))
    // full-width ASCII folds to half-width via NFKC
    assert(terms(bigram.tokenize("ＡＢＣ", Add)) == Vector("abc"))
  }

  test("trigram unmatured two chars forces prefix in GET") {
    val ts = trigram.tokenize("だよ", Get)
    assert(posed(ts) == Vector(("だよ", 0)))
    assert(ts.head.forcePrefix == true)
  }

  test("SplitSymbolAlpha n-grams through alpha") {
    val ts = Tokenizers.TokenBigramSplitSymbolAlpha.tokenize("abc", Add)
    assert(posed(ts) == Vector(("ab", 0), ("bc", 1), ("c", 2)))
  }

  test("delimit splits on whitespace, collapses runs") {
    val ts = delimit.tokenize("Hello   world  foo", Add)
    assert(posed(ts) == Vector(("hello", 0), ("world", 1), ("foo", 2)))
  }

  test("empty and blank-only input") {
    assert(bigram.tokenize("", Add).isEmpty)
    assert(bigram.tokenize("   ", Add).isEmpty)
    assert(delimit.tokenize("   ", Add).isEmpty)
  }

  test("digit run then alpha run") {
    assert(posed(bigram.tokenize("x86jmp", Add)) ==
      Vector(("x", 0), ("86", 1), ("jmp", 2)))
  }

  test("offsets point back into original text") {
    val ts = bigram.tokenize("foo BAR", Add)
    assert(ts(0).startOff == 0 && ts(0).endOff == 3)
    assert(ts(1).startOff == 4 && ts(1).endOff == 7)
  }

  test("U+FFFE pre-tokenized delimiter (tokenizeEnabled)") {
    // ngram family: marker stripped, remaining text tokenizes normally
    // (reference fixture table_create/default_tokenizer/bigram/
    // tokenized_delimiter — "Th\uFFFEis is a p\uFFFEen." indexes as the
    // bigrams of "This is a pen.")
    assert(posed(bigram.tokenizeEnabled("Th\uFFFEis a p\uFFFEen.", Add)) ==
      posed(bigram.tokenize("This a pen.", Add)))
    // delimit: each segment is ONE token, interior blanks kept
    assert(delimit.tokenizeEnabled(
      "Samurai\uFFFEKurosawa Akira\uFFFE\uFFFEJapan", Add).map(_.term) ==
      Vector("samurai", "kurosawa akira", "japan"))
    // raw (:none) variant keeps case and blanks
    assert(Tokenizers.byName("TokenDelimit:none").tokenizeEnabled(
      "Samurai\uFFFEKurosawa Akira", Add).map(_.term) ==
      Vector("Samurai", "Kurosawa Akira"))
    // no marker -> identical to the plain path
    assert(posed(delimit.tokenizeEnabled("a b", Add)) ==
      posed(delimit.tokenize("a b", Add)))
  }

  test("Add-mode tokenize into an AddSink allocates nothing per token") {
    final class Counting extends AddSink {
      var n = 0L
      def acceptSpan(start: Int, endEx: Int, pos: Int): Unit = n += 1
      def acceptTerm(term: String, pos: Int): Unit = n += 1
    }
    val doc = (0 until 700).map(i => s"def f$i(x) = x + $i // 検索エンジン").mkString("\n")
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    for (tok <- Seq(bigram, delimit)) {
      val nz = tok.normalizer(doc)
      val sink = new Counting
      (1 to 300).foreach(_ => tok.tokenizeAddNormalized(nz, sink)) // JIT warm-up
      sink.n = 0
      val before = bean.getCurrentThreadAllocatedBytes
      tok.tokenizeAddNormalized(nz, sink)
      val allocated = bean.getCurrentThreadAllocatedBytes - before
      if (tok eq bigram) assert(sink.n >= 10000, s"${sink.n} tokens")
      assert(allocated < 1024, s"$allocated bytes for ${sink.n} tokens")
    }
  }
}
