package graft

import org.apache.spark.sql.functions._

import graft.streaming.{EventStreams, StreamingScan}

/** Streaming vs batch on the same transforms (Spark unified engine):
  * the stream-stream interval join fed in one micro-batch, and the
  * streaming scan and merge pipelines against one batch run.
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

  test("stream-stream interval join matches batch when fed in one micro-batch") {
    val stream = spark.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 10).parquet(eventsDir)
    EventStreams.purchasesWithRecentClicks(stream).writeStream
      .format("memory").queryName("ssj_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val streamed = spark.table("ssj_out")
      .select("p_id", "c_id").as[(Long, Long)].collect().toSet
    val batch = EventStreams.purchasesWithRecentClicks(batchEvents)
      .select("p_id", "c_id").as[(Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
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
