package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.Bench.{QueryResult, Run}

/** The per-query reduction Bench reports: a broken query must never look
  * fast. */
class BenchSpec extends AnyFunSuite {
  private def ok(s: Double) = Right(Run(s / 4, s * 3 / 4))

  test("all iterations succeed: the median of the times, the median run's layers") {
    val r = QueryResult("q", Seq(ok(3.0), ok(1.0), ok(2.0)), Seq(ok(8.0), ok(0.5)))
    assert(r.median == 2.0 && r.min == 0.5 && r.runs == Seq(0.5, 1.0, 2.0, 3.0, 8.0))
    assert(r.medianRun.map(_._2).contains(2)) // run order: the third primary
    assert(r.err.isEmpty && r.retryErr.isEmpty)
    assert(Bench.total(Seq(r, QueryResult("p", Seq(ok(1.0))))) == 3.0)
  }

  test("one failed primary iteration: -1, an error, and no share of total") {
    val r = QueryResult("q", Seq(ok(1.0), Left("boom"), ok(2.0)))
    assert(r.median == -1.0 && r.min == -1.0 && r.medianRun.isEmpty)
    assert(r.err.contains("boom") && r.retryErr.isEmpty)
    assert(r.runs == Seq(1.0, 2.0)) // the succeeded runs stay inspectable
    assert(Bench.total(Seq(r, QueryResult("p", Seq(ok(4.0))))) == 4.0)
  }

  test("a failed extra iteration only: a retry error, not a failure") {
    val r = QueryResult("q", Seq(ok(1.0), ok(3.0), ok(2.5)), Seq(Left("late"), ok(2.0)))
    assert(r.err.isEmpty && r.retryErr.contains("late"))
    assert(r.median == 2.25 && r.min == 1.0)
    assert(Bench.total(Seq(r)) == 2.25)
  }
}
