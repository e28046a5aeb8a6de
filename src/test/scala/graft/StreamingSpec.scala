package graft

import org.apache.spark.sql.functions._

import graft.streaming.{EventStreams, StreamingScan}

/** Streaming vs batch on the same transforms (Spark unified engine).
  * Watermark semantics make streaming-append a SUBSET of batch: late
  * rows relative to an earlier micro-batch are dropped, and windows
  * not yet passed by the final watermark stay in state. The tests
  * assert exactly that contract: streamed ⊆ batch, and every window
  * safely behind the final watermark IS emitted. Files are written in
  * time-range order so watermarks advance monotonically.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val eventsDir = {
    val dir = tmpDir("events-src")
    val batch = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
    batch.repartitionByRange(3, col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private lazy val batchEvents = spark.read
    .schema(EventStreams.eventSchema).parquet(eventsDir)

  private lazy val maxTs: java.sql.Timestamp =
    batchEvents.agg(max("ts")).as[java.sql.Timestamp].collect().head

  private def safeCutoff(hoursBack: Int): java.sql.Timestamp =
    new java.sql.Timestamp(maxTs.getTime - hoursBack * 3600L * 1000)

  test("tumbling windows: streamed ⊆ batch; all safely-closed windows emitted") {
    val stream = EventStreams.readStream(spark, eventsDir, maxFilesPerTrigger = 2)
    EventStreams.runToMemory(
      EventStreams.tumblingCounts(stream, "1 hour"), "tumbling_out")
    val streamed = spark.table("tumbling_out")
      .select("window_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val batch = EventStreams.tumblingCounts(batchEvents, "1 hour")
      .select("window_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch))
    // windows ending well before (lateness + window) behind max ts must
    // all have been emitted by the final watermark
    val cutoff = safeCutoff(hoursBack = 3)
    val mustEmit = batch.filter(_._1.before(cutoff))
    assert(mustEmit.subsetOf(streamed))
  }

  test("session windows: streamed ⊆ batch; closed sessions emitted") {
    val stream = EventStreams.readStream(spark, eventsDir, maxFilesPerTrigger = 3)
    EventStreams.runToMemory(
      EventStreams.sessionCounts(stream, "30 minutes"), "session_out")
    val streamed = spark.table("session_out")
      .select("session_start", "user_id", "n_events")
      .as[(java.sql.Timestamp, Long, Long)].collect().toSet
    val batch = EventStreams.sessionCounts(batchEvents, "30 minutes")
      .select("session_start", "user_id", "n_events")
      .as[(java.sql.Timestamp, Long, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch))
    val cutoff = safeCutoff(hoursBack = 2)
    val mustEmit = batch.filter(_._1.before(cutoff))
    assert(mustEmit.subsetOf(streamed))
  }

  test("sliding windows produce denser coverage than tumbling") {
    val tumble = EventStreams.tumblingCounts(batchEvents, "1 hour").count()
    val slide = EventStreams
      .slidingCounts(batchEvents, "1 hour", "15 minutes").count()
    assert(slide > 2 * tumble)
  }

  test("flatMapGroupsWithState milestones: streaming state matches batch math") {
    val stream = EventStreams.readStream(spark, eventsDir, maxFilesPerTrigger = 2)
      .as[EventStreams.Event]
    EventStreams.runToMemory(
      EventStreams.userMilestones(stream, step = 10).toDF(), "milestones_out")
    val streamed = spark.table("milestones_out")
      .select("user_id", "n_events", "milestone")
      .as[(Long, Long, Long)].collect().toSet
    // batch math: every user emits floor(count/10) milestones
    val counts = batchEvents.groupBy("user_id").count()
      .as[(Long, Long)].collect().toMap
    val expected = counts.flatMap { case (u, n) =>
      (1L to n / 10).map(m => (u, m * 10, m))
    }.toSet
    assert(streamed === expected)
    assert(streamed.nonEmpty)
  }

  test("streaming EWMA state equals the batch closed form bit for bit") {
    val stream = EventStreams.readStream(spark, eventsDir, maxFilesPerTrigger = 2)
      .as[EventStreams.Event]
    EventStreams.runToMemory(
      EventStreams.userEwma(stream, k = 20).toDF(), "ewma_out")
    // one emission per user per micro-batch touching the user; the
    // LAST (max n_seen) is the full-corpus score
    val streamed = spark.table("ewma_out")
      .select("user_id", "n_seen", "n_used", "ewma")
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).map { case (u, rows) =>
        val last = rows.maxBy(_._2)
        (u, last._3, last._4)
      }.toSet
    val batch = graft.queries.Analytics
      .ev_ewma_users(spark, "/root/testdata/sf0.001")
      .as[(Long, Double, Long)].collect()
      .map { case (u, ewma, nUsed) => (u, nUsed, ewma) }.toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // every user's total event count was carried across micro-batches
    val seen = spark.table("ewma_out").groupBy("user_id")
      .agg(max("n_seen").as("n")).as[(Long, Long)].collect().toMap
    val counts = batchEvents.groupBy("user_id").count()
      .as[(Long, Long)].collect().toMap
    assert(seen === counts)
  }

  test("streaming funnel state matches the batch fold's per-step counts") {
    // cross-batch state: one time-range file per micro-batch, so a
    // user's click can land batches after their view — the keyed state
    // must carry the partial funnel across. Time-range files make
    // concatenation-of-sorted-batches equal the global sort, so the
    // scala state machine and the SQL higher-order fold see the same
    // event order (two independent implementations of one contract).
    // The shared eventsDir writes its 3 range files in ONE job whose
    // near-identical mtimes leave FileStreamSource's oldest-first
    // order unspecified — here delivery order IS the contract, so the
    // slices are written separately with strictly increasing mtimes.
    import graft.ext.Funnel
    val funnelDir = tmpDir("events-funnel-src")
    val (t0, t1) = batchEvents
      .agg(min(col("ts")).cast("long"), max(col("ts")).cast("long"))
      .as[(Long, Long)].collect().head
    val cuts = Seq(t0 + (t1 - t0) / 3, t0 + 2 * (t1 - t0) / 3)
    val slices = Seq(
      batchEvents.filter(col("ts").cast("long") < cuts(0)),
      batchEvents.filter(col("ts").cast("long") >= cuts(0) &&
        col("ts").cast("long") < cuts(1)),
      batchEvents.filter(col("ts").cast("long") >= cuts(1)))
    var seen = Set.empty[String]
    slices.zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.mode("append").parquet(funnelDir)
      val files = new java.io.File(funnelDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
      (files -- seen).foreach(p =>
        new java.io.File(p).setLastModified(1700000000000L + i * 60000L))
      seen = files
    }
    val steps = Seq(
      EventStreams.FunnelStepDef("view", 0),
      EventStreams.FunnelStepDef("click", 24),
      EventStreams.FunnelStepDef("purchase", 24))
    val stream = EventStreams.readStream(spark, funnelDir, maxFilesPerTrigger = 1)
      .as[EventStreams.Event]
    EventStreams.runToMemory(
      EventStreams.funnelProgress(stream, steps).toDF(), "funnel_out")
    val perUser = spark.table("funnel_out")
      .groupBy("user_id").agg(max("steps_completed").as("s"))
      .as[(Long, Int)].collect()
    val streamedCounts = (1 to 3).map(i => perUser.count(_._2 >= i).toLong)
    val b = Funnel.fold(batchEvents, col("user_id"), col("ts"),
      col("event_type"),
      Seq(Funnel.Step("view", 0, "view"), Funnel.Step("click", 24, "click"),
        Funnel.Step("purchase", 24, "purchase"))).head()
    assert(streamedCounts === (0 to 2).map(b.getLong))
    assert(streamedCounts.head > 0L)
  }

  test("streaming dedup: duplicated source events land exactly once") {
    // duplicate every event across two files, read as a stream
    val dupDir = tmpDir("events-dup")
    val base = batchEvents.limit(500)
    base.write.mode("overwrite").parquet(dupDir)
    base.write.mode("append").parquet(dupDir)
    val stream = EventStreams.readStream(spark, dupDir, maxFilesPerTrigger = 10)
    EventStreams.runToMemory(
      EventStreams.dedupedEvents(stream), "dedup_out")
    val got = spark.table("dedup_out")
    assert(got.count() === got.select("event_id").distinct().count())
    assert(got.count() === 500)
  }

  test("stream-static enrichment join broadcasts the dimension") {
    val userDim = batchEvents.select("user_id").distinct()
      .withColumn("cohort", pmod(col("user_id"), lit(3)))
    val stream = EventStreams.readStream(spark, eventsDir, maxFilesPerTrigger = 5)
    EventStreams.runToMemory(
      EventStreams.enriched(stream, userDim)
        .groupBy("cohort").agg(count(lit(1)).as("n")), "enriched_out",
      outputMode = "complete")
    val got = spark.table("enriched_out")
      .as[(Long, Long)].collect().toMap
    assert(got.values.sum === batchEvents.count())
    assert(got.keySet === Set(0L, 1L, 2L))
  }

  test("stream-stream interval join matches batch when fed in one micro-batch") {
    val stream = EventStreams.readStream(spark, eventsDir, maxFilesPerTrigger = 10)
    EventStreams.runToMemory(
      EventStreams.purchasesWithRecentClicks(stream), "ssj_out")
    val streamed = spark.table("ssj_out")
      .select("p_id", "c_id").as[(Long, Long)].collect().toSet
    val batch = EventStreams.purchasesWithRecentClicks(batchEvents)
      .select("p_id", "c_id").as[(Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  /** Event files in GUARANTEED time order: the shared eventsDir's three
    * range files are written by parallel tasks whose modification
    * times race, and FileStreamSource orders per-file triggers by
    * (modTime, path) — so write the tertiles sequentially and force
    * strictly increasing mod times. Matters only for
    * maxFilesPerTrigger = 1 tests (single-batch tests see all files at
    * once). */
  private lazy val orderedEventsDir: String = {
    val dir = tmpDir("events-src-ord")
    val ranked = batchEvents.withColumn("_t",
      ntile(3).over(org.apache.spark.sql.expressions.Window.orderBy("ts")))
    (1 to 3).foreach { i =>
      ranked.filter(col("_t") === i).drop("_t")
        .coalesce(1).write.mode("append").parquet(dir)
      new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.lastModified())
        .lastOption.foreach(_.setLastModified(1700000000000L + i * 60000L))
    }
    dir
  }

  test("stream-stream LEFT OUTER join: matches emit eagerly, nulls only past the watermark") {
    // one file per micro-batch so the watermark actually advances and
    // state for unmatched purchases expires into null-extended rows
    val stream = EventStreams.readStream(spark, orderedEventsDir, maxFilesPerTrigger = 1)
    EventStreams.runToMemory(
      EventStreams.purchasesWithClicksLeftOuter(stream), "ssoj_out")
    val out = spark.table("ssoj_out")
    val matched = out.filter(col("c_id").isNotNull)
      .select("p_id", "c_id").as[(Long, Long)].collect().toSet
    val batchInner = EventStreams.purchasesWithRecentClicks(batchEvents)
      .select("p_id", "c_id").as[(Long, Long)].collect().toSet
    // matched rows are the inner join, exactly
    assert(matched === batchInner)
    // every null-extended row is a purchase the batch join cannot match
    val nullRows = out.filter(col("c_id").isNull)
      .select("p_id").as[Long].collect().toSet
    val batchMatchedPurchases = batchInner.map(_._1)
    assert(nullRows.intersect(batchMatchedPurchases).isEmpty,
      "a matched purchase must never emit a null row")
    // completeness: state expirations emit in the batch AFTER the
    // watermark advances, so the last usable watermark comes from the
    // first two of the three files — null rows are guaranteed only for
    // purchases whose window closed safely before THAT
    val firstTwo = new java.io.File(orderedEventsDir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.lastModified())
      .take(2).map(_.toString)
    val wmBase = spark.read.schema(EventStreams.eventSchema)
      .parquet(firstTwo: _*)
      .agg(max("ts")).as[java.sql.Timestamp].collect().head
    val cutoff = new java.sql.Timestamp( // - lateness - window - slack
      wmBase.getTime - (3600L + 600L + 60L) * 1000)
    val safelyUnmatched = batchEvents
      .filter(col("event_type") === "purchase" && col("ts") < cutoff)
      .select(col("event_id").as("p_id")).as[Long].collect().toSet --
      batchMatchedPurchases
    assert(safelyUnmatched.subsetOf(nullRows),
      s"missing null rows for ${(safelyUnmatched -- nullRows).take(5)}")
    assert(safelyUnmatched.nonEmpty, "test needs some unmatched purchases")
  }

  test("foreachBatch parquet sink lands all rows") {
    val out = tmpDir("sink-out")
    val cp = tmpDir("sink-cp")
    val stream = EventStreams.readStream(spark, eventsDir, maxFilesPerTrigger = 2)
    val q = EventStreams.toParquetSink(
      stream.filter(col("event_type") === "purchase"), out, cp)
    q.awaitTermination()
    val landed = spark.read.parquet(out + "/batch=*").count()
    val expected = batchEvents.filter(col("event_type") === "purchase").count()
    assert(landed === expected)
  }

  test("streaming scan pipeline: incremental ScanJob equals one batch run") {
    import graft.core.Warehouse
    import graft.jobs.{RunTracker, ScanJob}
    import graft.pipeline.{HashEmbedder, RuleExtractor}

    // candidate corpus across several files → several micro-batches
    val cands = Seq(
      ("https://eur-lex.europa.eu/eli/reg/2024/1689", "AI Act",
        "binding regulation on ai act", "2026-01-10", "eu_news", 0),
      ("https://unece.org/r157", "UN R157",
        "automated driving un r157", "2026-01-12", "eu_news", 0),
      ("https://commission.europa.eu/news-and-media/news_en/item-9", "News",
        "guidance on type approval", "2026-01-11", "eu_news", 0),
      ("https://random.example.org/blog", "Blog",
        "battery blog", "2026-01-13", "web_search", 1),
      ("https://eur-lex.europa.eu/eli/dir/2026/5", "Directive",
        "urgent cybersecurity directive", "2026-01-09", "eu_news", 0),
      ("https://unece.org/undated", "Undated", "gdpr note", null, "eu_news", 0))
      .toDF("url", "title", "content", "published_date", "connector",
        "connector_rank")
    val candDir = tmpDir("scan-cands")
    cands.repartition(3).write.mode("overwrite").parquet(candDir)

    val params = ScanJob.Params("srun", "EU", 30, 100, 0.5, t0)

    // streaming: one file per trigger → ≥3 child runs
    val whS = new Warehouse(spark, tmpDir("wh-stream")); whS.createAll()
    val stream = spark.readStream
      .schema(ScanJob.candidateSchema)
      .option("maxFilesPerTrigger", 1).parquet(candDir)
    val q = StreamingScan.start(whS, stream, params,
      RuleExtractor, new HashEmbedder(16), tmpDir("scan-cp"))
    q.awaitTermination()

    // batch: same corpus in one ScanJob
    val whB = new Warehouse(spark, tmpDir("wh-batch")); whB.createAll()
    new RunTracker(whB).create("brun", "scan", "EU", 30, t0)
    ScanJob.run(whB, cands, params.copy(runId = "brun"),
      RuleExtractor, new HashEmbedder(16))

    // table parity after source exhaustion (ids are deterministic)
    def itemKeys(wh: Warehouse) =
      wh.domainTable("regulation_items").read
        .select("id", "url", "trust_tier", "confidence")
        .as[(String, String, String, Double)].collect().toSet
    assert(itemKeys(whS) === itemKeys(whB))
    assert(itemKeys(whS).nonEmpty)
    def docKeys(wh: Warehouse) =
      wh.domainTable("source_documents").read
        .select("id").as[String].collect().toSet
    assert(docKeys(whS) === docKeys(whB))
    def chunkKeys(wh: Warehouse) =
      wh.domainTable("vector_chunks").read
        .select("id").as[String].collect().toSet
    assert(chunkKeys(whS) === chunkKeys(whB))
    // one child run per non-empty micro-batch, all completed
    val runs = whS.domainTable("runs").read
      .select("id", "status").as[(String, String)].collect()
    assert(runs.count(_._1.startsWith("srun-b")) >= 3)
    assert(runs.filter(_._1.startsWith("srun-b")).forall(_._2 === "completed"))
  }

  test("streaming merge pipeline: request-driven MergeJob equals one batch run") {
    import graft.core.Warehouse
    import graft.jobs.{MergeJob, RunTracker, ScanJob}
    import graft.pipeline.{HashEmbedder, RuleExtractor, RuleMerger}

    val cands = Seq(
      ("https://eur-lex.europa.eu/eli/reg/2024/1689", "AI Act",
        "binding regulation on ai act", "2026-01-10", "eu_news", 0),
      ("https://unece.org/r157", "UN R157",
        "automated driving un r157", "2026-01-12", "eu_news", 0),
      ("https://eur-lex.europa.eu/eli/dir/2026/5", "Directive",
        "urgent cybersecurity directive", "2026-01-09", "eu_news", 0))
      .toDF("url", "title", "content", "published_date", "connector",
        "connector_rank")

    // identical scan seed in both warehouses (deterministic ids)
    def seeded(tag: String): Warehouse = {
      val wh = new Warehouse(spark, tmpDir(s"whm-$tag")); wh.createAll()
      new RunTracker(wh).create("seed", "scan", "EU", 30, t0)
      ScanJob.run(wh, cands, ScanJob.Params("seed", "EU", 30, 10, 0.5, t0),
        RuleExtractor, new HashEmbedder(16))
      wh
    }
    val whS = seeded("stream")
    val whB = seeded("batch")

    // streaming: one merge-request row drives one child MergeJob run
    val reqDir = tmpDir("merge-reqs")
    Seq(("EU", t0.toString)).toDF("jurisdiction", "requested_at")
      .coalesce(1).write.mode("overwrite").parquet(reqDir)
    val reqStream = spark.readStream
      .schema("jurisdiction STRING, requested_at STRING").parquet(reqDir)
    val q = graft.streaming.StreamingMerge.start(whS, reqStream,
      MergeJob.Params("mrun", "ignored", 0.5, t0), RuleMerger,
      tmpDir("merge-cp"))
    q.awaitTermination()

    // batch: same merge directly
    new RunTracker(whB).create("mrun-b0-EU", "merge", "EU", 0, t0)
    MergeJob.run(whB, MergeJob.Params("mrun-b0-EU", "EU", 0.5, t0), RuleMerger)

    // table parity (ids deterministic, so sets must be equal)
    def keySet(wh: Warehouse, table: String, cols: String*) =
      wh.domainTable(table).read
        .select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq).toSet
    assert(keySet(whS, "regulation_items", "id", "trust_tier") ===
      keySet(whB, "regulation_items", "id", "trust_tier"))
    assert(keySet(whS, "requirements", "id") === keySet(whB, "requirements", "id"))
    assert(keySet(whS, "requirements", "id").nonEmpty)
    assert(keySet(whS, "links", "id", "relation") ===
      keySet(whB, "links", "id", "relation"))
    val run = whS.domainTable("runs").read
      .filter(col("id") === "mrun-b0-EU").select("status").as[String].collect()
    assert(run.toSeq === Seq("completed"))
  }

  test("MergeJob replay under the same runId converges (review queue included)") {
    import graft.core.Warehouse
    import graft.jobs.{MergeJob, RunTracker, ScanJob}
    import graft.pipeline.{HashEmbedder, RuleExtractor, RuleMerger}
    val wh = new Warehouse(spark, tmpDir("whm-replay")); wh.createAll()
    new RunTracker(wh).create("seed", "scan", "EU", 30, t0)
    // low-confidence threshold on merge routes some rows to review
    val cands = Seq(
      ("https://random.example.org/blog", "Blog", "battery blog",
        "2026-01-13", "web_search", 1),
      ("https://eur-lex.europa.eu/eli/reg/2024/1689", "AI Act",
        "binding regulation on ai act", "2026-01-10", "eu_news", 0))
      .toDF("url", "title", "content", "published_date", "connector",
        "connector_rank")
    ScanJob.run(wh, cands, ScanJob.Params("seed", "EU", 30, 10, 0.0, t0),
      RuleExtractor, new HashEmbedder(16))
    new RunTracker(wh).create("m1", "merge", "EU", 0, t0)
    MergeJob.run(wh, MergeJob.Params("m1", "EU", 0.99, t0), RuleMerger)
    def counts = Seq("regulation_items", "requirements", "links", "review_queue")
      .map(t => t -> wh.domainTable(t).read.count()).toMap
    val first = counts
    // replay (streaming checkpoint retry semantics): same runId again
    MergeJob.run(wh, MergeJob.Params("m1", "EU", 0.99, t0), RuleMerger)
    assert(counts === first, "replay must not duplicate any table rows")
  }
}
