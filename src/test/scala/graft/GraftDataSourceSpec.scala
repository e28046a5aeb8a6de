package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.TxTable

/** DataSource V2 provider: `spark.read.format("graft")` and SQL over
  * a registered view must serve snapshot-isolated, DV-masked,
  * schema-evolved TxTable reads with file pruning from pushed
  * filters — all equal to the Scala API's own `read`. */
class GraftDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def load(dir: String): DataFrame =
    spark.read.format("graft").load(dir)

  test("round-trips mixed primitive types exactly") {
    val dir = tmpDir("dsv2-rt") + "/t"
    val data = Seq(
      (1L, 7, "alpha", 1.5, ts("2026-01-01 10:00:00"),
        java.sql.Date.valueOf("2026-01-01"), true,
        new java.math.BigDecimal("12.34")),
      (2L, 8, "beta", -2.5, ts("2026-02-01 11:30:00"),
        java.sql.Date.valueOf("2026-02-01"), false,
        new java.math.BigDecimal("-0.01")),
      (3L, 9, null, 0.0, null, null, true, null))
      .toDF("k", "i", "s", "d", "t", "dt", "b", "m")
      .withColumn("m", col("m").cast("decimal(9,2)"))
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data)
    val back = load(dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      t.currentSchema.map(f => (f.name, f.dataType)))
    assert(rows(back) === rows(t.read))
  }

  test("snapshot isolation: a loaded relation pins its version") {
    val dir = tmpDir("dsv2-snap") + "/t"
    val data = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data)
    val pinned = load(dir)
    t.upsert(Seq((2L, "B"), (3L, "c")).toDF("k", "s"))
    // the old relation still serves the version it was created at...
    assert(rows(pinned) === Set(Seq(1L, "a"), Seq(2L, "b")))
    // ...a fresh load sees the new commit
    assert(rows(load(dir)) ===
      Set(Seq(1L, "a"), Seq(2L, "B"), Seq(3L, "c")))
  }

  test("deletion vectors mask rows inside the partition readers") {
    val dir = tmpDir("dsv2-dv") + "/t"
    val data = (1L to 40L).map(i => (i, i % 4L)).toDF("k", "g")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data)
    t.deleteWhereLight(col("g") === 0L)
    assert(t.currentFileInfo.exists(_.dvRows > 0L), "expected live DVs")
    assert(rows(load(dir)) === rows(t.read))
    assert(load(dir).count() === 30L)
  }

  test("schema evolution: pre-evolution files null-fill new columns") {
    val dir = tmpDir("dsv2-evo") + "/t"
    val narrow = Seq((1L, "a")).toDF("k", "s")
    val t = new TxTable(spark, dir, narrow.schema, Seq("k"), numBuckets = 2)
    t.append(narrow)
    t.appendEvolving(Seq((2L, "b", 9.9)).toDF("k", "s", "x"))
    assert(rows(load(dir)) === Set(Seq(1L, "a", null), Seq(2L, "b", 9.9)))
  }

  test("pushed filters prune files; Spark still verifies row-exactly") {
    val dir = tmpDir("dsv2-push") + "/t"
    val data = (1L to 512L).map(i => (i, i / 64L, s"v$i")).toDF("k", "r", "s")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 4)
    t.append(data)
    t.compactClustered(Seq("r"), filesPerBucket = 4)
    val total = t.dataFileCount
    val q = load(dir).filter(col("r") === 2L)
    // partition count == files planned after zone-map pruning
    val planned = q.rdd.getNumPartitions
    assert(planned < total,
      s"no file pruning: planned $planned of $total files")
    assert(rows(q) === rows(t.read.filter(col("r") === 2L)))
    // pushdown is visible in EXPLAIN (the provider's description)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("r"),
      s"pushed filters not reported:\n$plan")
  }

  test("time travel: versionAsOf / timestampAsOf options and SQL AS OF") {
    val dir = tmpDir("dsv2-tt") + "/t"
    val b1 = Seq((1L, "a")).toDF("k", "s")
    val t = new TxTable(spark, dir, b1.schema, Seq("k"), numBuckets = 2)
    t.append(b1) // v0 = createIfAbsent (empty), v1 = this batch
    val tsAfterV1 = new java.io.File(
      s"$dir/_manifests/v${"%020d".format(1)}.tsv").lastModified()
    Thread.sleep(5) // commit mtimes must be distinguishable
    t.appendEvolving(Seq((2L, "b", 7.0)).toDF("k", "s", "x")) // v2 + schema

    val old = spark.read.format("graft").option("versionAsOf", "1").load(dir)
    assert(old.schema.fieldNames.toSeq === Seq("k", "s"),
      "time travel must serve the schema that version was committed with")
    assert(rows(old) === Set(Seq(1L, "a")))
    assert(rows(load(dir)) ===
      Set(Seq(1L, "a", null), Seq(2L, "b", 7.0)))

    val byTs = spark.read.format("graft")
      .option("timestampAsOf", tsAfterV1.toString).load(dir)
    assert(rows(byTs) === Set(Seq(1L, "a")))

    // SQL surface through the catalog
    val root = tmpDir("dsv2-tt-cat")
    val data = Seq((1L, 1.0)).toDF("k", "v")
    val ct = new TxTable(spark, s"$root/tt", data.schema, Seq("k"), 2)
    ct.append(data)                            // v0 empty, v1 batch
    ct.append(Seq((2L, 2.0)).toDF("k", "v"))   // v2
    spark.conf.set("spark.sql.catalog.ttc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ttc.root", root)
    assert(spark.sql("SELECT count(*) FROM ttc.tt VERSION AS OF 1")
      .head().getLong(0) === 1L)
    assert(spark.sql("SELECT count(*) FROM ttc.tt").head().getLong(0) === 2L)

    // writing to the past is refused
    val e = intercept[Exception] {
      spark.sql("INSERT INTO ttc.tt VERSION AS OF 1 VALUES (CAST(9 AS BIGINT), 9.0)")
    }
    assert(e != null)
  }

  test("statistics + runtime filtering: broadcast planning and file-level DPP") {
    val dir = tmpDir("dsv2-stats") + "/t"
    val data = (1L to 512L).map(i => (i, i / 64L, s"v$i")).toDF("k", "r", "s")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 4)
    t.append(data)
    t.compactClustered(Seq("r"), filesPerBucket = 4)

    // exact stats from the manifest feed the planner
    val scan = new graft.sources.GraftScanBuilder(
      graft.sources.GraftDataSource.openForRead(spark, dir),
      t.currentVersion, t.currentSchema).build()
    val st = scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(st.numRows().getAsLong === 512L)
    assert(st.sizeInBytes().getAsLong > 0L)

    // runtime join-key filters re-prune the file list (file-level DPP)
    val total = scan.asInstanceOf[
      org.apache.spark.sql.connector.read.Batch].planInputPartitions().length
    scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
      .filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("r", 2L)))
    val pruned = scan.asInstanceOf[
      org.apache.spark.sql.connector.read.Batch].planInputPartitions().length
    assert(pruned < total, s"runtime filter did not prune ($pruned/$total)")

    // a small provider table broadcasts under a join (stats-driven)
    val big = spark.range(100000).select(col("id").as("k"),
      (col("id") % 9L).as("grp"))
    val joined = big.join(load(dir), Seq("k"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected stats-driven broadcast:\n$plan")
    assert(joined.count() === 512L)
  }

  test("randomized decode parity: provider reader == Spark parquet reader") {
    // the provider's batch composition and its survivor copy are the
    // riskiest surface — pit them against Spark's own reader over
    // adversarial values (extremes, negative zero, NaN, unicode, empty
    // strings, decimals, null-dense rows) for several seeds, clean and
    // DV'd; any divergence is a reader bug by construction
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { round =>
      val dir = tmpDir(s"dsv2-prop$round") + "/t"
      val n = 200
      val rows = (1 to n).map { i =>
        def maybe[A](v: A): Option[A] = if (rnd.nextInt(5) == 0) None else Some(v)
        (i.toLong,
          maybe(rnd.nextInt()),
          maybe(Seq(Long.MinValue, Long.MaxValue, 0L, -1L,
            rnd.nextLong())(rnd.nextInt(5))),
          maybe(Seq(Double.MaxValue, Double.MinPositiveValue, -0.0, 0.0,
            Double.NaN, rnd.nextDouble())(rnd.nextInt(6))),
          maybe(Seq("", "héllo wörld ✓", "\ttab\nnl", rnd.nextString(8))(
            rnd.nextInt(4))),
          maybe(rnd.nextBoolean()),
          maybe(ts(f"20${10 + rnd.nextInt(30)}%d-0${1 + rnd.nextInt(9)}%d-1${rnd.nextInt(9)}%d 0${rnd.nextInt(9)}%d:3${rnd.nextInt(9)}%d:0${rnd.nextInt(9)}%d")),
          maybe(new java.math.BigDecimal(
            BigInt(rnd.nextLong() % 100000000L).bigInteger, 3)))
      }
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("i", IntegerType), StructField("l", LongType),
        StructField("d", DoubleType), StructField("s", StringType),
        StructField("b", BooleanType), StructField("t", TimestampType),
        StructField("m", DecimalType(12, 3))))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(
          r._1, r._2.orNull, r._3.orNull, r._4.orNull, r._5.orNull,
          r._6.orNull, r._7.orNull, r._8.orNull)), 4), schema)
      val t = new TxTable(spark, dir, schema, Seq("k"), numBuckets = 2)
      t.append(df)
      def canon(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq.map {
        case d: Double if d.isNaN => "NaN"
        case x => x
      }).toSet
      assert(canon(load(dir)) === canon(t.read),
        s"decode divergence in round $round")
      // tombstone a slice of keys: the batches holding them go
      // through the survivor copy
      val lo = 1 + rnd.nextInt(n / 2)
      t.deleteWhereLight(col("k").between(lo.toLong, lo + 40L))
      assert(t.currentFileInfo.exists(_.dvRows > 0L), "expected live DVs")
      val survivors = canon(t.read)
      assert(survivors.size === n - 41)
      assert(canon(load(dir)) === survivors,
        s"survivor-copy divergence in round $round")
    }
  }

  test("SQL over a registered view, including count(*) projection") {
    val dir = tmpDir("dsv2-sql") + "/t"
    val data = (1L to 100L).map(i => (i, i % 5L, i.toDouble)).toDF("k", "g", "v")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data)
    load(dir).createOrReplaceTempView("dsv2_sql_t")
    assert(spark.sql("SELECT count(*) AS n FROM dsv2_sql_t")
      .head().getLong(0) === 100L)
    val agg = spark.sql(
      """SELECT g, count(*) AS n, sum(CAST(v AS DECIMAL(18,2))) AS sv
        |FROM dsv2_sql_t WHERE k > 10 GROUP BY g ORDER BY g""".stripMargin)
    val exp = t.read.filter(col("k") > 10).groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).as("sv"))
      .orderBy("g")
    assert(agg.collect().toSeq.map(_.toSeq) ===
      exp.collect().toSeq.map(_.toSeq))
  }

  test("columnar reads: clean snapshots vectorize, DV'd ones fall back") {
    val dir = tmpDir("dsv2-col") + "/t"
    val data = (1L to 500L).map(i => (i, i % 7L, s"s$i", i * 0.5))
      .toDF("k", "g", "s", "v")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data)

    // clean table: the executed plan converts batches (ColumnarToRow
    // present) — the vectorized path is really on
    val clean = load(dir).filter(col("g") === 3L).select("k", "v")
    val cleanPlan = clean.queryExecution.executedPlan.toString
    assert(cleanPlan.contains("ColumnarToRow"),
      s"expected a columnar scan for a clean snapshot:\n$cleanPlan")
    assert(clean.count() === t.read.filter(col("g") === 3L).count())

    // metadata columns ride the columnar path too
    val meta = load(dir).select(col("k"), col("_graft_pos"), col("_graft_file"))
    assert(meta.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(meta.count() === 500L)
    assert(meta.select("_graft_file").distinct().count() === t.dataFileCount)

    // DV the table: the scan STAYS columnar (batch-side tombstone
    // masking — clean batches pass through zero-copy, dirty batches
    // compact survivors) and stays exact
    t.deleteWhereLight(col("g") === 0L)
    val masked = load(dir)
    val maskedPlan = masked.queryExecution.executedPlan.toString
    assert(maskedPlan.contains("ColumnarToRow"),
      s"DV'd snapshot must KEEP the vectorized path:\n$maskedPlan")
    assert(masked.count() === data.filter(r => r.getLong(1) != 0L).count())
    // decode parity: every surviving row byte-equal to the merge-on-
    // read Scala API, across all column types in the table
    assert(masked.orderBy("k").collect().map(_.toSeq).toSeq ===
      t.read.orderBy("k").collect().map(_.toSeq).toSeq)
    // _graft_pos stays the PHYSICAL row index under DV'd columnar
    // scans - the row identity DML tombstones; re-deleting by an
    // observed position must hit exactly that row
    val probe = load(dir)
      .select(col("k"), col("_graft_file"), col("_graft_pos"))
      .filter(col("k") === 8L).head()
    val tomb = t.read.count()
    t.deleteWhere(col("k") === 8L)
    assert(t.read.count() === tomb - 1)
    assert(load(dir).filter(col("k") === 8L).count() === 0L)
    assert(probe.getLong(2) >= 0L)

    // maintenance folds DVs — still columnar, still exact
    t.materializeDeletes()
    val folded = load(dir)
    assert(folded.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(folded.count() === masked.count() - 1)
  }

  test("columnar reads: a DV'd variant table serves through the batch copy") {
    val dir = tmpDir("dsv2-col-var") + "/t"
    val data = (1L to 60L).map(i =>
        (i, if (i % 5L == 0L) null else s"""{"a": $i, "s": "v$i"}"""))
      .toDF("k", "j").withColumn("v", parse_json(col("j"))).drop("j")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data)
    t.deleteWhereLight(col("k") % 3L === 0L)
    assert(t.currentFileInfo.exists(_.dvRows > 0L), "expected live DVs")
    def typed(df: DataFrame): Set[Seq[Any]] =
      rows(df.select(col("k"), try_variant_get(col("v"), "$.a", "int"),
        try_variant_get(col("v"), "$.s", "string")))
    val back = load(dir)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"a variant column must keep the columnar scan:\n$plan")
    assert(back.count() === 40L)
    assert(typed(back) === typed(t.read))
  }

  test("columnar reads: a row-identity-only scan serves count-only batches") {
    val dir = tmpDir("dsv2-col-ident") + "/t"
    val data = (1L to 300L).map(i => (i, i % 4L)).toDF("k", "g")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data)
    // the tombstoned identities, read before the delete
    val doomed = load(dir).filter(col("g") === 1L)
      .select("_graft_file", "_graft_pos").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    t.deleteWhereLight(col("g") === 1L)
    assert(t.currentFileInfo.exists(_.dvRows > 0L), "expected live DVs")
    val ident = load(dir).select("_graft_file", "_graft_pos")
    val plan = ident.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"an identity-only scan must be columnar:\n$plan")
    val got = ident.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.length === t.read.count())
    assert(got.toSet.size === got.length)
    assert(doomed.size === 75 && got.forall(p => !doomed(p)),
      "a tombstoned position was served")
  }

  test("columnar reads: pre-evolution files null-fill in batches") {
    val dir = tmpDir("dsv2-col-evo") + "/t"
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val t = new TxTable(spark, dir, v1.schema, Seq("k"), numBuckets = 2)
    t.append(v1)
    t.appendEvolving(Seq((3L, "c", 9.5)).toDF("k", "s", "x"))
    val back = load(dir)
    assert(back.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(rows(back.select("k", "x")) ===
      Set(Seq(1L, null), Seq(2L, null), Seq(3L, 9.5)))
  }

  test("aggregate pushdown: count(*)/min/max answered from metadata") {
    val dir = tmpDir("dsv2-agg") + "/t"
    val data = (1L to 300L).map(i =>
      (i, i * 0.5, ts(f"2026-01-${1 + (i % 28).toInt}%02d 10:00:00")))
      .toDF("k", "v", "t")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data)
    load(dir).createOrReplaceTempView("dsv2_agg_t")

    // whole-table count/min/max: ONE metadata-only scan, no parquet read
    val q = spark.sql(
      "SELECT count(*), min(k), max(k), min(v), max(v), min(t), max(t) " +
        "FROM dsv2_agg_t")
    assert(q.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      s"expected the metadata-only agg scan:\n${q.queryExecution.executedPlan}")
    val r = q.head()
    assert(r.getLong(0) === 300L)
    assert(r.getLong(1) === 1L && r.getLong(2) === 300L)
    assert(r.getDouble(3) === 0.5 && r.getDouble(4) === 150.0)
    assert(r.getTimestamp(5) === ts("2026-01-01 10:00:00"))
    assert(r.getTimestamp(6) === ts("2026-01-28 10:00:00"))

    // a filter disables the pushdown — the row-exact path answers
    val filtered = spark.sql(
      "SELECT count(*) FROM dsv2_agg_t WHERE k > 100")
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("GraftAggScan"))
    assert(filtered.head().getLong(0) === 200L)

    // string min/max declines (truncated footer stats are unsound as
    // exact answers) — full scan, still correct
    val s = spark.sql("SELECT min(CAST(k AS STRING)) FROM dsv2_agg_t")
    assert(!s.queryExecution.executedPlan.toString.contains("GraftAggScan"))

    // DVs: count stays metadata-exact (tombstone counts are recorded),
    // min/max declines (a tombstone could hide the extreme row)
    t.deleteWhereLight(col("k") === 300L)
    val fresh = load(dir)
    fresh.createOrReplaceTempView("dsv2_agg_t2")
    val c2 = spark.sql("SELECT count(*) FROM dsv2_agg_t2")
    assert(c2.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(c2.head().getLong(0) === 299L)
    val m2 = spark.sql("SELECT max(k) FROM dsv2_agg_t2")
    assert(!m2.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(m2.head().getLong(0) === 299L)

    // grouped aggregates never push — the normal scan answers
    val g = spark.sql(
      "SELECT k % 2, count(*) FROM dsv2_agg_t2 GROUP BY 1 ORDER BY 1")
    assert(!g.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(g.collect().map(_.getLong(1)).sum === 299L)
  }

  test("columnar decode parity for INT96-timestamp tables") {
    // a table written under the INT96 legacy default (sessions that
    // never set outputTimestampType) must decode identically through
    // the vectorized and row readers
    val dir = tmpDir("dsv2-int96") + "/t"
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try {
      val data = (1L to 100L).map(i =>
        (i, ts(f"2026-02-${1 + (i % 27).toInt}%02d 08:30:00"))).toDF("k", "t")
      val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
      t.append(data)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    val t = new TxTable(spark, dir,
      spark.read.parquet(s"$dir/data").schema, Seq("k"), numBuckets = 2)
    val viaProvider = load(dir)
    assert(viaProvider.queryExecution.executedPlan.toString
      .contains("ColumnarToRow")) // clean snapshot -> vectorized
    assert(rows(viaProvider) === rows(t.read))
    // DV'd: STILL vectorized (batch-side masking) and still exact —
    // INT96 decode parity must hold through the survivor-compaction
    // path too
    t.deleteWhereLight(col("k") === 1L)
    val masked = load(dir)
    assert(masked.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"))
    assert(rows(masked) === rows(t.read))
    assert(masked.count() === 99L)
  }

  test("column statistics surface from zone maps for the planner") {
    // stats build only when CBO will read them (default off)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try columnStatsBody() finally spark.conf.unset("spark.sql.cbo.enabled")
  }

  private def columnStatsBody(): Unit = {
    val dir = tmpDir("dsv2-colstats") + "/t"
    val data = (1L to 100L).map(i =>
      (i, if (i % 10 == 0) null else java.lang.Double.valueOf(i * 0.5), s"s$i"))
      .toDF("k", "v", "s")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data)
    val scan = new graft.sources.GraftScanBuilder(
      graft.sources.GraftDataSource.openForRead(spark, dir),
      t.currentVersion, t.currentSchema).build()
    val cs = scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().columnStats()
    import scala.jdk.CollectionConverters._
    val byName = cs.asScala.map { case (ref, st) =>
      ref.fieldNames().head -> st }.toMap
    // numeric columns carry zone-map extrema + null counts
    assert(byName("k").min.get === 1L)
    assert(byName("k").max.get === 100L)
    assert(byName("k").nullCount.getAsLong === 0L)
    assert(byName("v").min.get === 0.5)
    assert(byName("v").max.get === 49.5)
    assert(byName("v").nullCount.getAsLong === 10L)
    // string columns decline (truncated footer stats)
    assert(!byName.contains("s"))
  }
}
