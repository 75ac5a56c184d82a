package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("self time subtracts the union of the children, not their sum") {
    // children overlap on [20, 30)
    assert(Intervals.selfTime(0, 100, Seq((10, 30), (20, 40))) == 70)
    assert(Intervals.selfTime(0, 100, Seq((20, 40), (10, 30), (50, 60))) == 60)
  }

  test("self time clips children to the parent span") {
    assert(Intervals.selfTime(10, 20, Seq((0, 15), (18, 40))) == 3)
    assert(Intervals.selfTime(10, 20, Seq((30, 40))) == 10)
    assert(Intervals.selfTime(10, 20, Seq((0, 100))) == 0)
  }

  test("self time of a span without children is its length") {
    assert(Intervals.selfTime(5, 9, Seq.empty) == 4)
  }

  test("touching children are covered once, without a gap") {
    assert(Intervals.coveredWithin(0, 100, Seq((0, 10), (10, 20))) == 20)
  }

  private val markers = Seq("docs" -> 1100.0, "lexicon" -> 1300.0, "hot_terms" -> 1350.0,
    "norms" -> 1450.0, "segments" -> 1900.0, "manifest" -> 1950.0)

  test("marker timeline: each stage runs from the previous marker to its own") {
    val st = Timeline.stages(1000.0, markers)
    assert(st.map(_.name) == Seq("docs", "lexicon", "hot_terms", "norms", "segments", "manifest"))
    assert(st.head == Timeline.Stage("docs", 1000.0, 1100.0))
    assert(st(4) == Timeline.Stage("segments", 1450.0, 1900.0))
    assert(math.abs(st.map(_.seconds).sum - 0.95) < 1e-9)
  }

  test("marker timeline attributes an event to the stage open at its time") {
    val st = Timeline.stages(1000.0, markers)
    assert(Timeline.attribute(1000.0, st) == "docs")
    assert(Timeline.attribute(1099.9, st) == "docs")
    assert(Timeline.attribute(1100.0, st) == "lexicon")
    assert(Timeline.attribute(1500.0, st) == "segments")
    assert(Timeline.attribute(1949.0, st) == "manifest")
    // clock skew: before the start is the first stage, after the end the last
    assert(Timeline.attribute(900.0, st) == "docs")
    assert(Timeline.attribute(2500.0, st) == "manifest")
  }
}
