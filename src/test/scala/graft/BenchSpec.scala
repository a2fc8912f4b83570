package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench bookkeeping: a failing query never reads as a fast one. */
class BenchSpec extends AnyFunSuite {

  test("collate keeps the per-query min and sets apart every query that " +
    "failed in any pass") {
    val runs = Seq(
      Map("q_ok" -> Right(2.0), "q_flaky" -> Right(0.5), "q_broken" -> Left("boom")),
      Map("q_ok" -> Right(1.5), "q_flaky" -> Left("late"), "q_broken" -> Left("boom")))
    val (results, failed) = Bench.collate(runs)
    assert(results === Map("q_ok" -> 1.5))
    assert(failed === Map("q_flaky" -> "late", "q_broken" -> "boom"))
  }
}
