package graft

/** Plan-shape regression tests: the physical-plan properties the
  * queries were tuned toward (PLANS.md) must not silently regress —
  * a correct-but-shuffling plan is a failure at 100 TB even when the
  * rows match.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("star join broadcasts every dimension (no shuffle joins)") {
    val p = planOf("j5_star_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("filter+sort+limit plans TakeOrderedAndProject with pushed filters") {
    val p = planOf("p1_filter_sort_limit")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]"))
  }

  test("pricing summary does partial+final aggregation and prunes columns") {
    val p = planOf("a1_pricing_summary")
    assert(p.contains("partial_sum"))
    // column pruning: unused lineitem columns never appear in the plan
    assert(!p.contains("l_orderkey") && !p.contains("l_shipdate"))
  }

  test("dashboard stats is a single scan (one parquet read in the plan)") {
    val p = planOf("a3_dashboard_stats")
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") === 1)
  }

  test("cosine top-k broadcasts the query vector, never shuffles the corpus sort") {
    val p = planOf("x1_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("simhash pairs contains no cartesian or nested-loop join") {
    val p = planOf("x2_simhash_pairs")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("range join is an equi-join plus filter, not a nested loop") {
    val p = planOf("j_range_join")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("column profiler: one pruned scan per column, no Expand fallback") {
    val p = planOf("x_profile_columns")
    // six single-column aggregates (columnar reads: same bytes as one
    // six-column pass), NOT the 7-way Expand + SortAggregate the
    // single-agg multi-distinct form degenerates to (13x slower)
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") === 6, p)
    assert(!p.contains("Expand"), p)
  }

  test("scd2 build shuffles ONCE on the key; both windows and the run agg reuse it") {
    val p = planOf("scd2_build")
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashExchanges === 1, s"want 1 hash exchange, plan:\n$p")
  }

  test("heavy hitters: the verify pass semi-joins via a broadcast of candidates") {
    import org.apache.spark.sql.functions._
    // all-distinct items overflow every partition's capacity, so the
    // adaptive exact fast path cannot engage and the two-pass verify
    // plan is the one under test
    val items = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(concat(col("l_orderkey"), lit("-"), col("l_linenumber")).as("w"))
    val p = graft.ext.HeavyHitters.frequentItems(items, "w", 1L, 400L)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the verify shuffle carries ONLY candidate tokens, already
    // partially aggregated: the map-side partial_count sits ABOVE the
    // broadcast semi join (plans print parent-first, so the partial
    // line precedes the LeftSemi line), and the corpus re-read is
    // below the semi join — nothing non-candidate crosses the exchange
    val lines = p.linesIterator.toVector
    val partial = lines.indexWhere(_.contains("partial_count"))
    val semi = lines.indexWhere(_.contains("LeftSemi"))
    assert(partial >= 0 && semi >= 0 && partial < semi,
      s"partial aggregation must sit above the candidate semi join\n$p")
    // the whole computation — candidate dedup, sentinel-row total —
    // lives INSIDE this one plan (r10 collected candidates + total to
    // the driver, so the plan began at an in-memory LocalTableScan of
    // driver rows); the corpus size arrives as a 1-row broadcast join,
    // not a literal baked in by a driver-side action
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("hh_total"), p)
    assert(!p.toLowerCase.contains("localtablescan"), p)
  }

  test("heavy hitters: exact-summary fast path runs no second corpus pass") {
    import org.apache.spark.sql.functions._
    // the fixture vocabulary fits capacity 400 in every partition → no
    // decrement anywhere → the summaries ARE the census: the plan must
    // aggregate the checkpointed summary rows only — no semi join, no
    // re-read of the corpus parquet — while the threshold's total
    // still arrives as a 1-row broadcast join, never a driver literal
    val items = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(graft.ext.Dedup.words(col("text"))).as("w"))
    val p = graft.ext.HeavyHitters.frequentItems(items, "w", 1L, 400L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("LeftSemi"), p)
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("hh_total"), p)
    assert(!p.toLowerCase.contains("localtablescan"), p)
  }

  test("persisted ANN index probe prunes the scan to probed bucket partitions") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val idxDir = tmpDir("annidx-plan")
    graft.ext.AnnIndex.build(e, "embedding", nBits = 8, idxDir)
    val qv = e.filter(col("vec_id") === 0L).select("embedding")
      .head.getSeq[Float](0).map(_.toDouble)
    val q = graft.ext.AnnIndex.topK(spark, idxDir, e.schema, "embedding",
      qv, k = 10, nBits = 8, probeHamming = 1)
    val p = q.queryExecution.executedPlan.toString
    // bucket=… lives in directory names: the probe IN-list must appear
    // as PartitionFilters (planning-time pruning), not a data Filter
    assert(p.contains("PartitionFilters"), p)
    assert(raw"PartitionFilters: \[[^\]]*bucket[^\]]*".r.findFirstIn(p).isDefined, p)
    // and the full index is never scanned: 9 probes max out of 256 buckets
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(scanned.nonEmpty && scanned.head <= 9, s"scanned=$scanned")
  }

  test("tpch q5: all dimension joins broadcast, fact never shuffled for joins") {
    val p = planOf("sql_tpch_q5")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  /** Count scans of a given source table — on the optimized LOGICAL
    * plan (AQE hides physical scan leaves behind query stages). */
  private def scansOf(name: String, table: String): Int =
    SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan
      .collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
            if (lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.exists(_.toString.contains(table))
              case _ => false
            }) => lr
      }.size

  test("tpch q18: derived-table form scans lineitem ONCE (no re-aggregated semi join)") {
    val p = planOf("sql_tpch_q18")
    assert(!p.contains("CartesianProduct"), p)
    assert(scansOf("sql_tpch_q18", "lineitem") === 1)
  }

  test("tpch q11: windowed thresholds scan the fact join ONCE (was 3 scalar-subquery scans)") {
    val p = planOf("sql_tpch_q11")
    assert(!p.contains("CartesianProduct"), p)
    assert(scansOf("sql_tpch_q11", "lineitem") === 1)
  }

  test("knn label: broadcast query vector, top-k as TakeOrdered, no corpus sort") {
    val p = planOf("x1_knn_label")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("mixture sample: one broadcast of the per-language aggregate, no sort") {
    val p = planOf("x4_mixture_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("tpch q4: EXISTS plans as a semi join against the fact table") {
    val p = planOf("sql_tpch_q4")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch q7: two-role nation joins broadcast; no cartesian pair blowup") {
    val p = planOf("sql_tpch_q7")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch q8: the 8-table star never degenerates to cartesian/nested-loop") {
    val p = planOf("sql_tpch_q8")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tpch q17: per-part AVG is aggregate + equi-join, input semi-reduced to brand keys") {
    val p = planOf("sql_tpch_q17")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the de-correlated per-part average is a real aggregate in the plan
    assert(p.contains("avg("), p)
    // the reduction: a broadcast semi-join on the brand-filtered part
    // keys gates BOTH lineitem branches BELOW the aggregate, so the
    // per-part AVG reads the brand slice, not the whole fact table
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("tpch q19: OR-of-ANDs keeps the equi hash join") {
    val p = planOf("sql_tpch_q19")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tpch q21: EXISTS and NOT EXISTS plan as semi + anti joins") {
    val p = planOf("sql_tpch_q21")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch q22: NOT EXISTS plans as an anti join; scalar subquery evaluated once") {
    val p = planOf("sql_tpch_q22")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch q1: partial+final aggregation, only the six needed columns scanned") {
    val p = planOf("sql_tpch_q1")
    assert(p.contains("partial_"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    // column pruning: join keys never referenced, so never read
    assert(!p.contains("l_orderkey") && !p.contains("l_partkey"), p)
  }

  test("tpch q15: window-MAX keeps the fact table to ONE scan") {
    val p = planOf("sql_tpch_q15")
    // the textbook scalar-subquery form scans lineitem twice; the
    // window rewrite must not (supplier scan + ONE lineitem scan)
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") === 2, p)
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tpch q20: nested IN plans as a semi join; correlated scalar decorrelates") {
    val p = planOf("sql_tpch_q20")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("decontamination broadcasts the eval n-grams; train side never shuffle-joins") {
    val p = planOf("x4_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    // the gram-overlap join must not sort-merge the exploded train side
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("sequence packing windows per shard, never a single global partition") {
    val p = planOf("x4_seq_pack")
    // a global window would plan Exchange SinglePartition before Window
    assert(!p.contains("SinglePartition, ENSURE_REQUIREMENTS"), p)
    assert(p.contains("Window"), p)
  }

  /** Boundedness pin for the deliberate single-partition windows (the
    * WindowExec "No Partition Defined" sites): every Window in the
    * plan must read a REDUCED frame — some aggregating / top-k / limit
    * operator sits between it and any parquet scan below it. These
    * windows are benign today because their inputs are sketch-capacity
    * / calendar-domain / top-k sized; an edit that re-points one at
    * corpus rows removes the reducer from the window's subtree and
    * must fail here. (Plans print depth-first, so the lines after a
    * Window line are its subtree until the branch closes — a reducing
    * line before the next scan line is the bound.) */
  private val reducers = Seq("HashAggregate", "SortAggregate",
    "ObjectHashAggregate", "TakeOrderedAndProject", "GlobalLimit",
    "CollectLimit", "AQEShuffleRead coalesced")
  private def assertWindowsBounded(name: String): Unit = {
    val lines = planOf(name).linesIterator.toVector
    val winIdxs = lines.indices.filter(i =>
      lines(i).contains("Window ") && !lines(i).contains("WindowGroupLimit"))
    assert(winIdxs.nonEmpty,
      s"$name: expected a Window to pin\n${lines.mkString("\n")}")
    winIdxs.foreach { wi =>
      val below = lines.drop(wi + 1)
      val scan = below.indexWhere(_.contains("Scan parquet"))
      if (scan >= 0) {
        val cut = below.take(scan)
        assert(reducers.exists(r => cut.exists(_.contains(r))),
          s"$name: the Window at plan line $wi reads an unreduced " +
            s"parquet scan — its input is no longer bounded\n" +
            lines.mkString("\n"))
      }
    }
  }

  test("quantile-store quantiles: global cum window reads the folded summary, not rows") {
    // QuantileSketch.quantiles — window domain is <= batches x capacity
    // summary rows, bounded by the store contract
    assertWindowsBounded("x_quant_store_quantiles")
  }

  test("histogram quantiles: global cum window reads histogram bins, not rows") {
    // HistogramSketch.quantiles — window domain is the store's bounded
    // bin census
    assertWindowsBounded("x_hist_quantiles")
  }

  test("hybrid RRF: rank windows read top-k slices, never a corpus sort") {
    // ExtQueries.p6i_hybrid_rrf — both row_number windows ride k=50
    // limited frames (bm25Search's .limit(k) and the vector top-50)
    assertWindowsBounded("p6i_hybrid_rrf")
  }

  test("7d range frame: trailing window reads the daily roll-up, not orders") {
    // Analytics.w6_range_frame_7d — window domain is the calendar
    // (~2.4k day rows at sf1), established by the groupBy(day) below it
    assertWindowsBounded("w6_range_frame_7d")
  }

  test("merge-on-read reads mask by a broadcast anti-join; the data never shuffles") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.core.{DeltaExport, DeltaImport, IcebergExport, IcebergImport, TxTable}
    val data = (1L to 200L).map(i => (i, i * 10L)).toDF("k", "v")
    val t = new TxTable(spark, tmpDir("plan-mor") + "/t", data.schema,
      Seq("k"), numBuckets = 2)
    t.append(data)
    t.deleteWhereLight(col("k") % 7L === 0L) // DV sidecars, no rewrite
    DeltaExport.syncDeltaLog(spark, t) // Delta deletion vectors
    IcebergExport.writeIcebergMetadata(spark, t) // v2 position deletes
    Seq("TxTable.read" -> t.read,
      "DeltaImport.read" -> DeltaImport.read(spark, t.dir),
      "IcebergImport.read" -> IcebergImport.read(spark, t.dir)).foreach {
      case (name, df) =>
        // the plan AQE starts from: EnsureRequirements' exchanges are
        // in it (its inputPlan predates them)
        val plan = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        assert(plan.collect { case j: BroadcastHashJoinExec =>
          j.joinType.toString }.contains("LeftAnti"),
          s"$name must mask by a broadcast anti-join:\n$plan")
        // neither side shuffles: the tombstones are broadcast as read
        assert(plan.collect { case s: ShuffleExchangeExec => s }.isEmpty,
          s"$name shuffles:\n$plan")
        assert(df.count() === 200L - 28L, name)
    }
  }
}
