package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("a document is a pure function of (seed, row)") {
    assert(Gen.doc(42L, 7L) == Gen.doc(42L, 7L))
    assert(Gen.doc(42L, 7L) != Gen.doc(43L, 7L))
    assert(Gen.doc(42L, 7L) != Gen.doc(42L, 8L))
    assert((0L until 50L).map(i => Gen.docDigest(Gen.doc(1L, i))).sum ==
      (0L until 50L).reverse.map(i => Gen.docDigest(Gen.doc(1L, i))).sum)
  }

  test("seeds give different corpora, not the same documents in another order") {
    def corpus(seed: Long) = (0L until 64L).map(i => Gen.doc(seed, i).content).toSet
    assert(corpus(1L) != corpus(2L))
    assert((corpus(1L) intersect corpus(2L)).isEmpty)
  }

  test("documents have the code-file shape: keyword-led lines, 5 to 44 of them") {
    (0L until 200L).map(Gen.doc(3L, _)).foreach { d =>
      val lines = d.content.split('\n')
      assert(lines.length >= 5 && lines.length < 45)
      assert(Set("scala", "c", "py", "js").contains(d.lang))
      assert(d.path.endsWith("." + d.lang))
    }
  }

  test("identifiers are fixed per rank") {
    assert(Gen.ident(3) == Gen.ident(3))
    assert(Gen.ident(3).length == 5)
    assert((0 until Gen.VocabSize).map(Gen.ident).forall(_.forall(c => c >= 'a' && c <= 'z')))
  }

  test("the query pool and stream are fixed per seed") {
    assert(Gen.queryPool(5L, 32) == Gen.queryPool(5L, 32))
    assert(Gen.queryPool(5L, 32) != Gen.queryPool(6L, 32))
    assert(Gen.stream(5L, 32, 1000).sameElements(Gen.stream(5L, 32, 1000)))
    assert(Gen.streamDigest(Gen.stream(5L, 32, 1000)) != Gen.streamDigest(Gen.stream(6L, 32, 1000)))
    assert(Gen.stream(5L, 32, 1000).forall(i => i >= 0 && i < 32))
  }

  test("the stream sends every query once per round") {
    val st = Gen.stream(7L, 16, 16 * 50 + 5)
    st.grouped(16).filter(_.length == 16).foreach(r => assert(r.sorted.sameElements(0 until 16)))
    assert(st.grouped(16).map(_.toSeq).toSet.size > 40)
  }

  test("query classes have fixed shares and their shape") {
    val pool = Gen.queryPool(9L, 32)
    assert(pool.map(_.cls) == Seq.fill(13)("rare") ++ Seq.fill(10)("hot_rare") ++ Seq.fill(9)("multi"))
    assert(Gen.queryPool(10L, 32).map(_.cls) == pool.map(_.cls))
    pool.foreach { q =>
      val words = q.text.split(' ')
      q.cls match {
        case "rare" => assert(words.length == (if (q.id % 2 == 0) 1 else 2))
        case "hot_rare" => assert(words.length == 2 && Set("if", "return", "while", "for", "else", "class")(words(0)))
        case "multi" => assert(words.length == 3)
      }
    }
  }
}
