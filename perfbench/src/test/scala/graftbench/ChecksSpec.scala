package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** Each output check accepts a correct result and rejects a doctored one. */
class ChecksSpec extends AnyFunSuite {
  private val exact = Seq((7L, 3.5), (2L, 1.25), (9L, 1.25), (4L, 0.5))

  test("canonicalOrder: score desc, doc_id asc") {
    assert(Checks.canonicalOrder(exact).isEmpty)
    assert(Checks.canonicalOrder(Seq((7L, 3.5), (9L, 1.25), (2L, 1.25))).isDefined)
    assert(Checks.canonicalOrder(Seq((2L, 1.25), (7L, 3.5))).isDefined)
  }

  test("sameTopK: WAND top-k must equal exhaustive top-k") {
    assert(Checks.sameTopK(exact, exact.map { case (d, s) => (d, s + 1e-12) }).isEmpty)
    // a dropped row, a swapped doc, a score off by more than 1e-9
    assert(Checks.sameTopK(exact, exact.init).isDefined)
    assert(Checks.sameTopK(exact, exact.updated(3, (5L, 0.5))).isDefined)
    assert(Checks.sameTopK(exact, exact.updated(0, (7L, 3.5 + 1e-6))).isDefined)
    // the right rows in the wrong order
    assert(Checks.sameTopK(exact, Seq(exact(0), exact(2), exact(1), exact(3))).isDefined)
  }

  test("nonEmpty: an in-vocabulary query matches something") {
    assert(Checks.nonEmpty(exact).isEmpty)
    assert(Checks.nonEmpty(Nil).isDefined)
  }

  test("noneRemoved: removed documents never come back") {
    assert(Checks.noneRemoved(exact, Set(1L, 3L)).isEmpty)
    assert(Checks.noneRemoved(exact, Set(1L, 9L)).contains("removed doc 9 returned"))
  }

  test("liveCount: the index counts exactly the live documents") {
    assert(Checks.liveCount(4050, 4050).isEmpty)
    assert(Checks.liveCount(4100, 4050).isDefined)
  }
}
