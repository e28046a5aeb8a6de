package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's timing path: a query that throws is reported as failed and
  * never timed, so a fast failure cannot pass for a fast query. */
class BenchSpec extends AnyFunSuite {

  test("a throwing query yields no timings; a working one yields every run") {
    var badRuns = 0
    assert(Bench.timeRuns("bad", 3) { badRuns += 1; sys.error("boom") }
      .isEmpty)
    assert(badRuns === 1) // the first throw ends the query's runs
    var okRuns = 0
    val ok = Bench.timeRuns("ok", 3) { okRuns += 1; Thread.sleep(5) }
    assert(okRuns === 3)
    assert(ok.exists(ts => ts.size == 3 && ts.forall(_ >= 0.005)))
  }
}
