package graft

import graft.ext.KmvSketch

/** KMV/theta sketch: exact-regime equality, lossless union merge, and
  * sane estimation past k. */
class KmvSketchSpec extends SparkSpec {
  import spark.implicits._

  private def ids(r: Range) = r.map(_.toLong).toDF("id")

  test("exact regime: cardinality, intersection and union are exact") {
    val a = KmvSketch.sketch(ids(1 to 300), "id", k = 1024)
    val b = KmvSketch.sketch(ids(200 to 500), "id", k = 1024)
    assert(a.isExact && b.isExact)
    assert(a.estimate === 300.0)
    assert(a.intersectEstimate(b) === 101.0) // 200..300
    assert(a.merge(b).estimate === 500.0)    // 1..500
  }

  test("merge is lossless: sketch of parts equals sketch of the whole") {
    val whole = KmvSketch.sketch(ids(1 to 5000), "id", k = 256)
    val parts = KmvSketch.sketch(ids(1 to 2500), "id", k = 256)
      .merge(KmvSketch.sketch(ids(2501 to 5000), "id", k = 256))
    assert(whole.hashes.toSeq === parts.hashes.toSeq)
  }

  test("estimator regime past k: within 15% on 20k distincts at k=512") {
    val s = KmvSketch.sketch(ids(1 to 20000), "id", k = 512)
    assert(!s.isExact)
    assert(math.abs(s.estimate - 20000.0) / 20000.0 < 0.15, s.estimate)
    // intersection of identical sketches re-estimates the same set
    assert(math.abs(s.intersectEstimate(s) - s.estimate) / s.estimate < 0.05)
  }

  test("overlap estimate past k tracks the true overlap") {
    val a = KmvSketch.sketch(ids(1 to 10000), "id", k = 512)
    val b = KmvSketch.sketch(ids(5001 to 15000), "id", k = 512)
    val est = a.intersectEstimate(b) // true overlap 5000
    assert(est > 3500 && est < 6500, est)
  }

  private def segRows(rs: (String, Range)*) =
    rs.flatMap { case (s, r) => r.map(i => (s, i.toLong)) }
      .toDF("seg", "id")

  test("grouped store + overlap matrix: exact regime equals brute force") {
    val dir = tmpDir("kmv-grid")
    // batches split the id space; segments overlap pairwise by
    // construction; one pair (a, c) shares nothing
    val all = segRows("a" -> (1 to 300), "b" -> (200 to 500),
      "c" -> (1000 to 1100))
    KmvSketch.addBatchGrouped(all.filter($"id" % 2 === 0),
      "seg", "id", dir, batchId = 0L, k = 1024)
    KmvSketch.addBatchGrouped(all.filter($"id" % 2 === 1),
      "seg", "id", dir, batchId = 1L, k = 1024)
    val m = KmvSketch.overlapMatrix(spark, dir)
    val rows = m.collect().map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet === Set(("a", "b"), ("a", "c"), ("b", "c")))
    assert(rows(("a", "b")) === ((101L, 300L, 301L))) // 200..300 common
    assert(rows(("a", "c")) === ((0L, 300L, 101L)))   // disjoint, present
    assert(rows(("b", "c")) === ((0L, 301L, 101L)))
    assert(m.collect().forall(_.getBoolean(6)), "all sketches exact")
  }

  test("overlap matrix past k: theta-scaled pair estimate tracks truth") {
    val dir = tmpDir("kmv-grid-est")
    val all = segRows("big" -> (1 to 10000), "other" -> (5001 to 15000))
    KmvSketch.addBatchGrouped(all, "seg", "id", dir, batchId = 0L, k = 512)
    val r = KmvSketch.overlapMatrix(spark, dir).collect().head
    assert(!r.getBoolean(6), "past k must report inexact")
    val nCommon = r.getLong(2) // true overlap 5000
    assert(nCommon > 3500 && nCommon < 6500, nCommon)
    assert(math.abs(r.getLong(3) - 10000L) < 1500, r.getLong(3))
  }
}
