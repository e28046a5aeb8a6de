package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.TxTable
import graft.ext.IncrementalView

/** Incremental view maintenance over the TxTable CDC feed: refreshes
  * must equal a full recompute after ANY mutation mix, watermarks must
  * be atomic with the data, and double-refresh must be a no-op. */
class IvmSpec extends SparkSpec {
  import spark.implicits._

  private def src(): TxTable =
    new TxTable(spark, tmpDir("ivm") + "/src", StructType(Seq(
      StructField("k", StringType), StructField("g", StringType),
      StructField("v", LongType))), Seq("k"), numBuckets = 4)

  private def recompute(t: TxTable) =
    t.read.groupBy("g").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
      .as[(String, Long, Long)].collect().toSet

  private def viewRows(view: IncrementalView) =
    view.read.select("g", "cnt", "sum_v").as[(String, Long, Long)]
      .collect().toSet

  test("refresh after every mutation mix equals the full recompute") {
    val t = src()
    val view = new IncrementalView(spark, t, tmpDir("ivmv") + "/v",
      Seq("g"), Seq("v"), numBuckets = 2)
    t.append((1 to 40).map(i => (s"k$i", s"g${i % 5}", i.toLong)).toDF("k", "g", "v"))
    assert(view.refresh() >= 1)
    assert(viewRows(view) === recompute(t))

    // updates move rows BETWEEN groups (the hard IVM case: the old
    // group loses the preimage, the new group gains the postimage)
    t.upsert(Seq(("k1", "g9", 100L), ("k2", "g9", 200L)).toDF("k", "g", "v"))
    t.deleteWhere(col("v") > 30 && col("v") < 100)
    t.append(Seq(("kx", "g0", 7L)).toDF("k", "g", "v"))
    assert(view.refresh() === 3)
    assert(viewRows(view) === recompute(t))

    // idempotence: nothing new → no-op, no version churn
    val vv = view.table.currentVersion
    assert(view.refresh() === 0)
    assert(view.table.currentVersion === vv)
    assert(view.appliedVersion === t.currentVersion)
  }

  test("NULL sum values and NULL group keys track the recompute exactly") {
    val t = src()
    val view = new IncrementalView(spark, t, tmpDir("ivmn") + "/v",
      Seq("g"), Seq("v"), numBuckets = 2)
    // option-typed rows so v can be NULL; one group (g2) is ALL-null
    t.append(Seq(
      ("a", "g1", Some(5L)), ("b", "g1", None),
      ("c", null, Some(7L)), ("d", null, None),
      ("e", "g2", None), ("f", "g2", None)).toDF("k", "g", "v"))
    // NULL-exact comparator: sum must be NULL (not 0) for all-null groups
    def recomputeN = t.read.groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    def viewN = view.read.select("g", "cnt", "sum_v")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    view.refresh()
    assert(viewN === recomputeN)

    // the r5-advice case: a delta whose changed rows are all NULL in v
    // must neither poison the accumulated sum with NULL nor reset it
    t.append(Seq(("x", "g1", None: Option[Long]),
      ("y", null, None: Option[Long])).toDF("k", "g", "v"))
    view.refresh()
    assert(viewN === recomputeN)
    t.append(Seq(("w", "g1", Some(2L))).toDF("k", "g", "v")) // next delta sees intact sum
    view.refresh()
    assert(viewN === recomputeN)

    // NULL group key accumulates into ONE view row (no upsert dup)
    t.append(Seq(("z", null, Some(100L))).toDF("k", "g", "v"))
    view.refresh()
    assert(viewN === recomputeN)
    assert(view.table.read.filter(col("g").isNull).count() === 1)

    // a group drained of its last non-null value reads sum = NULL again
    t.deleteWhere(col("k") === "a" || col("k") === "w")
    view.refresh()
    assert(viewN === recomputeN)
  }

  test("concurrent refreshers never double-apply a delta (watermark CAS)") {
    val t = src()
    val view = new IncrementalView(spark, t, tmpDir("ivmc") + "/v",
      Seq("g"), Seq("v"), numBuckets = 2)
    t.append((1 to 30).map(i => (s"k$i", s"g${i % 3}", i.toLong)).toDF("k", "g", "v"))
    view.refresh()
    t.append(Seq(("x1", "g0", 100L), ("x2", "g1", 200L)).toDF("k", "g", "v"))
    // two racers catch up the same commit: exactly one applies it, the
    // other's guarded commit abandons (or it arrives late and no-ops)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futs = (1 to 2).map(_ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = view.refresh()
        }))
      val applied = futs.map(_.get())
      assert(applied.count(_ > 0) === 1, s"applied=$applied")
    } finally pool.shutdown()
    assert(viewRows(view) === recompute(t))
    assert(view.appliedVersion === t.currentVersion)
  }

  test("emptied groups tombstone out of read") {
    val t = src()
    val view = new IncrementalView(spark, t, tmpDir("ivmt") + "/v",
      Seq("g"), Seq("v"), numBuckets = 2)
    t.append(Seq(("a", "g1", 1L), ("b", "g2", 2L)).toDF("k", "g", "v"))
    view.refresh()
    t.deleteWhere(col("g") === "g1") // g1 empties
    view.refresh()
    assert(viewRows(view) === Set(("g2", 1L, 2L)))
    assert(view.table.read.count() === 2) // tombstone row still stored
    assert(viewRows(view) === recompute(t))
  }

  test("watermark is atomic with the data and survives unrelated view commits") {
    val t = src()
    val view = new IncrementalView(spark, t, tmpDir("ivmw") + "/v",
      Seq("g"), Seq("v"), numBuckets = 2)
    t.append(Seq(("a", "g1", 5L)).toDF("k", "g", "v"))
    view.refresh()
    val applied = view.appliedVersion
    assert(applied === t.currentVersion)
    // an unrelated commit on the view (compaction) must not clobber it
    view.table.compact()
    assert(view.appliedVersion === applied)
    // and the meta travels in the manifest, not a side file: the
    // compaction commit carries ONLY its layout_only tag (streaming
    // readers use it), never the view watermark
    assert(view.table.commitMeta(view.table.versions.last) ===
      Map("layout_only" -> "true"))
    assert(view.table.latestMeta("ivm_src_version") === Some(applied.toString))
  }

  test("a zero-net-change feed still advances the watermark") {
    val t = src()
    val view = new IncrementalView(spark, t, tmpDir("ivmz") + "/v",
      Seq("g"), Seq("v"), numBuckets = 2)
    t.append(Seq(("a", "g1", 5L)).toDF("k", "g", "v"))
    view.refresh()
    // upsert the identical row: CDC nets to zero rows
    t.upsert(Seq(("a", "g1", 5L)).toDF("k", "g", "v"))
    assert(view.refresh() === 1)
    assert(view.appliedVersion === t.currentVersion)
    assert(viewRows(view) === recompute(t))
  }

  test("min/max tracking: inserts merge, deletes recompute dirty groups only") {
    val t = src()
    val view = new IncrementalView(spark, t, tmpDir("ivmm") + "/v",
      Seq("g"), Seq("v"), numBuckets = 2, minMaxCols = Seq("v"))
    def recomputeM = t.read.groupBy("g").agg(
      count(lit(1)).as("cnt"), sum("v").as("sum_v"),
      min("v").as("min_v"), max("v").as("max_v"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet
    def viewM = view.read.select("g", "cnt", "sum_v", "min_v", "max_v")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet

    t.append((1 to 30).map(i => (s"k$i", s"g${i % 3}", i.toLong)).toDF("k", "g", "v"))
    view.refresh()
    assert(viewM === recomputeM)

    // insert-only delta: pure least/greatest merge path
    t.append(Seq(("a1", "g0", -5L), ("a2", "g1", 99L)).toDF("k", "g", "v"))
    view.refresh()
    assert(viewM === recomputeM)

    // delete the CURRENT max of g1 — the stored extremum is stranded;
    // g1 must recompute while untouched groups keep their rows
    t.deleteWhere(col("v") === 99L)
    view.refresh()
    assert(viewM === recomputeM)

    // update moves a row between groups: preimage group is dirty, the
    // postimage group merges
    t.upsert(Seq(("k3", "g9", 1000L)).toDF("k", "g", "v"))
    view.refresh()
    assert(viewM === recomputeM)

    // drain a group entirely: its stale extremum must tombstone, and a
    // later re-insert starts fresh
    t.deleteWhere(col("g") === "g9")
    view.refresh()
    assert(viewM === recomputeM)
    t.append(Seq(("r1", "g9", 3L)).toDF("k", "g", "v"))
    view.refresh()
    assert(viewM === recomputeM)
  }

  test("min/max NULL semantics: all-null groups read NULL extrema") {
    val t = src()
    val view = new IncrementalView(spark, t, tmpDir("ivmmn") + "/v",
      Seq("g"), Seq("v"), numBuckets = 2, minMaxCols = Seq("v"))
    t.append(Seq(("a", "g1", Some(5L)), ("b", "g1", None),
      ("c", "g2", None), ("d", "g2", None)).toDF("k", "g", "v"))
    view.refresh()
    val rows = view.read.select("g", "min_v", "max_v").collect()
      .map(r => r.getString(0) -> (
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(rows("g1") === ((Some(5L), Some(5L))))
    assert(rows("g2") === ((None, None)))
    // NULL-valued insert into g1 must not disturb the extremum
    t.append(Seq(("e", "g1", None: Option[Long])).toDF("k", "g", "v"))
    view.refresh()
    val r2 = view.read.filter(col("g") === "g1")
      .select("min_v", "max_v").head
    assert(r2.getLong(0) === 5L && r2.getLong(1) === 5L)
  }

  test("distinct sketches: live per-group COUNT(DISTINCT) through every mutation mix") {
    val t = src()
    val view = new IncrementalView(spark, t, tmpDir("ivmd") + "/v",
      Seq("g"), Seq("v"), numBuckets = 2, distinctCols = Seq("v"))
    def exact = t.read.groupBy("g").agg(countDistinct("v").as("nd"))
      .as[(String, Long)].collect().toSet
    def got = view.read.select("g", "nd_v").as[(String, Long)].collect().toSet
    t.append((1 to 40).map(i => (s"k$i", s"g${i % 5}", (i % 7).toLong))
      .toDF("k", "g", "v"))
    view.refresh()
    assert(got === exact) // sparse-exact at these cardinalities
    // insert-only path: the delta sketch UNIONs into the stored one
    t.append(Seq(("ka", "g0", 100L), ("kb", "g9", 1L)).toDF("k", "g", "v"))
    view.refresh()
    assert(got === exact)
    // delete → dirty-group recompute (a sketch cannot forget)
    t.deleteWhere(col("v") === 3L)
    view.refresh()
    assert(got === exact)
    // update moves a row between groups: preimage group recomputes,
    // postimage group takes the union path
    t.upsert(Seq(("k1", "g9", 50L)).toDF("k", "g", "v"))
    view.refresh()
    assert(got === exact)
    // refresh with nothing new is a no-op and estimates are stable
    assert(view.refresh() === 0)
    assert(got === exact)
  }

  test("vacuumed source horizon falls back to one-commit full recompute") {
    val t = src()
    val view = new IncrementalView(spark, t, tmpDir("ivmf") + "/v",
      Seq("g"), Seq("v"), numBuckets = 2)
    t.append(Seq(("a", "g1", 1L)).toDF("k", "g", "v"))
    view.refresh()
    t.append(Seq(("b", "g2", 2L)).toDF("k", "g", "v"))
    t.upsert(Seq(("a", "g1", 10L)).toDF("k", "g", "v"))
    t.vacuum(keepVersions = 1, minAgeMs = 0L) // watermark version is gone
    assert(view.refresh() >= 1)
    assert(viewRows(view) === recompute(t))
    assert(view.appliedVersion === t.currentVersion)
  }
}
