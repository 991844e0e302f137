package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("failed queries (rows = -1) are left out of the total and listed") {
    val (total, failed) = Bench.tally(Seq(("q01", 1.5, 10L), ("q02", 0.01, -1L), ("q03", 2.0, 0L)))
    assert(math.abs(total - 3.5) < 1e-9)
    assert(failed == Seq("q02"))
  }

  test("an all-green run totals every query and lists none") {
    assert(Bench.tally(Seq(("q01", 1.0, 1L), ("q02", 2.0, 5L))) == ((3.0, Nil)))
    assert(Bench.tally(Nil) == ((0.0, Nil)))
  }
}
