package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench fails honestly: a query that throws is reported as failed and
  * never timed, so a fast failure cannot pass for a fast query; a
  * failed lifecycle or prebuild fails the run too; a subset naming a
  * non-query is refused; a subset never writes the run artifacts. */
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

  test("a subset naming a non-query is refused with those names") {
    val catalog = Map("q1" -> 1, "q20" -> 20, "x1_ann_topk" -> 3)
    assert(Bench.select(None, catalog) === Right(catalog))
    assert(Bench.select(Some(Set("q1", "x1_ann_topk")), catalog) ===
      Right(Map("q1" -> 1, "x1_ann_topk" -> 3)))
    assert(Bench.select(Some(Set("q1", "q2O", "zz")), catalog) ===
      Left(Seq("q2O", "zz")))
  }

  test("a failed lifecycle or prebuild joins the failed list") {
    assert(Bench.failures(Nil, Some(12.5), Nil, prebuildFailed = false)
      .isEmpty)
    assert(Bench.failures(Nil, None, Nil, prebuildFailed = false).isEmpty)
    assert(Bench.failures(Seq("q9"), Some(-1.0), Seq("tx_a", "tx_b"),
      prebuildFailed = true) ===
      Seq("pipeline", "prebuild", "prebuild:tx_a", "prebuild:tx_b", "q9"))
  }

  test("only a full run writes BENCH_LOCAL and BENCH_HISTORY, in the working directory") {
    assert(Bench.artifactPaths(Some(Set("q1"))).isEmpty)
    val cwd = new java.io.File(System.getProperty("user.dir")).getAbsoluteFile
    val Some((local, history)) = Bench.artifactPaths(None)
    assert(local === new java.io.File(cwd, "BENCH_LOCAL.json"))
    assert(history === new java.io.File(cwd, "BENCH_HISTORY.jsonl"))
  }
}
