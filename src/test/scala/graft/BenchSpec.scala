package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("capped crawl arrays: one set of best-efficiency pairs, in pair order") {
    val effs = Array(0.60, 0.95, 0.70, 0.90)
    assert(Bench.bestPairs(effs, 2) == Seq(1, 3))
    assert(Bench.bestPairs(effs, 10) == Seq(0, 1, 2, 3))
  }
}
