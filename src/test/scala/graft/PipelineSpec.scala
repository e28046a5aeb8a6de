package graft

import org.apache.spark.sql.CacheEntries
import org.apache.spark.sql.functions._

import graft.core.Warehouse
import graft.jobs.{MergeJob, ReviewService, RunTracker, ScanJob}
import graft.pipeline.{HashEmbedder, RuleExtractor, RuleMerger}

/** Golden end-to-end pipeline tests (SURVEY §5.3): ScanJob → MergeJob →
  * ReviewService over fixed candidates with the deterministic stubs and
  * an injected clock.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def candidates = Seq(
    // TIER_A domain (eur-lex) → accepted into main
    ("https://eur-lex.europa.eu/eli/reg/2024/1689", "AI Act consolidated",
      "binding regulation on ai act and gdpr compliance, urgent cybersecurity rules",
      "2026-01-10", "eu_news", 0),
    // TIER_B profile match → review queue
    ("https://commission.europa.eu/news-and-media/news_en/item-2", "Commission news",
      "guidance on software update management and type approval",
      "2026-01-12", "eu_news", 0),
    // duplicate url with different connector rank → first-wins dedup
    ("https://eur-lex.europa.eu/eli/reg/2024/1689", "AI Act duplicate",
      "dup", "2026-01-10", "web_search", 1),
    // unknown domain → quarantine
    ("https://random.example.org/blog/post", "Blog post",
      "battery emissions blog", "2026-01-13", "web_search", 1),
    // stale (outside days window) but null-date passes
    ("https://unece.org/old-doc", "Old UNECE doc", "old content",
      "2020-01-01", "eu_news", 0),
    ("https://unece.org/undated-doc", "Undated UNECE doc",
      "automated driving un r157", null, "eu_news", 0))
    .toDF("url", "title", "content", "published_date", "connector", "connector_rank")

  private def freshWarehouse(): Warehouse = {
    val wh = new Warehouse(spark, tmpDir("pipe"))
    wh.createAll()
    wh
  }

  test("ScanJob end-to-end: dedup, recency, routing, links, run meta") {
    val wh = freshWarehouse()
    val tracker = new RunTracker(wh)
    tracker.create("run-1", "scan", "EU", 30, t0)

    val counters = ScanJob.run(wh, candidates,
      ScanJob.Params("run-1", "EU", 30, 10, 0.5, t0),
      RuleExtractor, new HashEmbedder(16))

    // 6 candidates - 1 url dup - 1 stale = 4 discovered
    assert(counters.discovered === 4)
    val docs = wh.domainTable("source_documents").read
    assert(docs.count() === 4)

    // TIER_A (eur-lex, unece undated) vs review (commission profile,
    // quarantine blog); acceptance also needs confidence ≥ 0.5
    val items = wh.domainTable("regulation_items").read
    val review = wh.domainTable("review_queue").read
    assert(counters.accepted === items.count())
    assert(counters.review === review.count())
    assert(counters.accepted + counters.review === 4)
    assert(items.filter(col("trust_tier") =!= "TIER_A_BINDING").count() === 0)

    // review reasons carry the composite tier message
    val reasons = review.select("reason").as[String].collect()
    assert(reasons.exists(_.contains("requires review")))

    // links: every doc produced by run; accepted items extracted_from
    val links = wh.domainTable("links").read
    assert(links.filter(col("relation") === "produced" &&
      col("to_type") === "SourceDocument").count() === 4)
    assert(links.filter(col("relation") === "extracted_from").count() >= 1)

    // vector chunks: one per doc, embedding dim 16, unit norm
    val chunks = wh.domainTable("vector_chunks").read
    assert(chunks.count() === 4)
    val norm = chunks.select(sqrt(expr(
      "aggregate(transform(embedding, x -> cast(x as double) * x), 0D, (a, b) -> a + b)")))
      .as[Double].collect()
    assert(norm.forall(n => math.abs(n - 1.0) < 1e-3))

    // run completed with counters in meta
    val run = wh.domainTable("runs").read.filter(col("id") === "run-1")
      .select("status", "meta").collect()(0)
    assert(run.getString(0) === "completed")
    assert(run.getString(1).contains("\"discovered\":4"))

    // logs ordered per run
    val logs = wh.domainTable("run_logs").read
      .filter(col("run_id") === "run-1")
    assert(logs.count() >= 3)

    // the ingest appended one HLL sketch batch for the doc batch; at
    // these tiny cardinalities sparse mode is exact, so the sketch
    // fold equals the exact distinct counts of what was persisted
    val est = graft.ext.DistinctSketch.estimateAll(
      spark, s"${wh.root}/sketches/source_documents")
    assert(est("url") === docs.select("url").distinct().count())
    assert(est("domain") === docs.select("domain").distinct().count())

    // ...and one histogram batch (content length, 200-char bins); the
    // merged histogram equals the exact bucket census of the persisted
    // docs, so quantile asks never need to rescan the table
    val hist = graft.ext.HistogramSketch.histogram(
      spark, s"${wh.root}/sketches/source_documents", "len_bucket")
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val exact = docs
      .select((floor(length(col("content")) / 200) * 200)
        .cast("double").as("b"))
      .groupBy("b").count()
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(hist === exact && hist.nonEmpty)

    // ...and one frequency-summary batch (content words): vocabulary
    // is far inside the summary capacity, so the store is untrimmed
    // and its folded counts equal the exact word census
    val freqDir = s"${wh.root}/sketches/source_documents_freq"
    val (freqExact, pivots) = graft.ext.FreqSketch.exactness(spark, freqDir)
    assert(freqExact && pivots === 0L)
    val stored = graft.ext.FreqSketch.merged(spark, freqDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val trueCounts = docs
      .select(explode(graft.ext.Dedup.words(col("content"))).as("w"))
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stored === trueCounts && stored.nonEmpty)

    // ...and one rank-quantile batch (exact content lengths): distinct
    // lengths sit far inside the summary capacity, so the store is
    // exact and its median equals the raw computation
    val qDir = s"${wh.root}/sketches/source_documents_quant"
    val (qExact, qBudget) = graft.ext.QuantileSketch.exactness(spark, qDir)
    assert(qExact && qBudget === 0L)
    val med = graft.ext.QuantileSketch.quantiles(spark, qDir, Seq(0.5))
      .collect().head.getDouble(1)
    val lens = docs.select(length(col("content")).cast("double"))
      .collect().map(_.getDouble(0)).sorted
    assert(med === lens((math.ceil(0.5 * lens.length) - 1).toInt))

    // ...and one segment-grouped KMV batch (per-domain url sketches):
    // sparse-exact at these sizes, so the folded per-domain estimates
    // equal the exact distinct-url counts of the persisted docs
    val kmvDir = s"${wh.root}/sketches/source_documents_kmvgrp"
    val grid = graft.ext.KmvSketch.overlapMatrix(spark, kmvDir,
      requireExact = true)
    val nDomains = docs.select("domain").distinct().count()
    assert(grid.count() === nDomains * (nDomains - 1) / 2)
    val perDomain = docs.groupBy("domain")
      .agg(countDistinct("url").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    grid.collect().foreach { r =>
      assert(r.getLong(3) === perDomain(r.getString(0)), "n_a exact")
      assert(r.getLong(4) === perDomain(r.getString(1)), "n_b exact")
    }
  }

  test("ScanJob is idempotent on re-run (same run id, same candidates)") {
    val wh = freshWarehouse()
    new RunTracker(wh).create("run-1", "scan", "EU", 30, t0)
    val p = ScanJob.Params("run-1", "EU", 30, 10, 0.5, t0)
    ScanJob.run(wh, candidates, p, RuleExtractor, new HashEmbedder(16))
    val items1 = wh.domainTable("regulation_items").read.count()
    val docs1 = wh.domainTable("source_documents").read.count()
    val links1 = wh.domainTable("links").read.count()
    ScanJob.run(wh, candidates, p, RuleExtractor, new HashEmbedder(16))
    assert(wh.domainTable("regulation_items").read.count() === items1)
    assert(wh.domainTable("source_documents").read.count() === docs1)
    assert(wh.domainTable("links").read.count() === links1)
    // review rows are deterministic ids too → insert path appends, but
    // ids collide only if same run; queue may grow by design (append);
    // documents and items must not duplicate.
  }

  test("MergeJob: argmax backfill, requirements gate, cartesian links") {
    val wh = freshWarehouse()
    new RunTracker(wh).create("run-1", "scan", "EU", 30, t0)
    ScanJob.run(wh, candidates, ScanJob.Params("run-1", "EU", 30, 10, 0.5, t0),
      RuleExtractor, new HashEmbedder(16))
    val nItems = wh.domainTable("regulation_items").read
      .filter(col("jurisdiction") === "EU").count()
    assert(nItems >= 1)

    new RunTracker(wh).create("run-2", "merge", "EU", 0, t0)
    val counters = MergeJob.run(wh,
      MergeJob.Params("run-2", "EU", 0.5, t0), RuleMerger)

    // input items are all TIER_A (only accepted ones stored) → inferred
    // tier is TIER_A → requirements allowed
    val reqs = wh.domainTable("requirements").read
    assert(counters.radar === reqs.count())
    assert(counters.radar >= 1)

    // mapped_to cartesian: |source items| × |requirements|
    val mapped = wh.domainTable("links").read
      .filter(col("relation") === "mapped_to")
    assert(mapped.count() === nItems * counters.radar)

    val run = wh.domainTable("runs").read.filter(col("id") === "run-2")
      .select("status", "meta").collect()(0)
    assert(run.getString(0) === "completed")
    assert(run.getString(1).contains("\"merged\""))
  }

  test("MergeJob gates requirements when no TIER_A items exist") {
    val wh = freshWarehouse()
    // seed one TIER_B item directly
    val item = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        "i1", "EU", "Org", "guidance", "t", "s",
        "https://commission.europa.eu/x", null, t0, null, "unknown",
        Seq("GDPR"), Seq(), Seq(),
        org.apache.spark.sql.Row(null, null,
          Seq(org.apache.spark.sql.Row("c", "https://commission.europa.eu/x", null))),
        0.9, "", "P2", "TIER_B_OFFICIAL_SIGNAL", "Official", null, null, t0)),
      graft.domain.Schemas.regulationItems)
    wh.domainTable("regulation_items").append(item)
    new RunTracker(wh).create("run-m", "merge", "EU", 0, t0)
    val counters = MergeJob.run(wh, MergeJob.Params("run-m", "EU", 0.5, t0),
      RuleMerger)
    assert(counters.radar === 0)
    assert(wh.domainTable("requirements").read.count() === 0)
    // merged TIER_B items route to review, not main
    assert(counters.merged === 0)
    assert(counters.review >= 1)
  }

  test("ReviewService approve normalizes dirty payload and links it") {
    val wh = freshWarehouse()
    val dirty =
      """{"id":"item-9","jurisdiction":"ATLANTIS","source_type":"blogpost",
        |"title":"  ","summary_1line":"a summary","confidence":1.7,
        |"topics":["GDPR","NOT_A_TOPIC"],"status":"weird",
        |"priority":"P1","source_document_id":"doc-7",
        |"evidence":{"raw_file_uri":null,"text_snapshot_uri":null,
        |"citations":[{"title":"c1","url":"https://eur-lex.europa.eu/x"}]}}"""
        .stripMargin.replace("\n", "")
    val row = org.apache.spark.sql.Row("rev-1", "RegulationItem", dirty,
      "Trust tier unknown requires review", "pending", t0, null, null)
    wh.domainTable("review_queue").append(spark.createDataFrame(
      java.util.Arrays.asList(row), graft.domain.Schemas.reviewQueue))

    val svc = new ReviewService(wh)
    assert(svc.approve("rev-1", t0) === "approved")

    val it = wh.domainTable("regulation_items").read.collect()(0)
    assert(it.getAs[String]("jurisdiction") === "EU")       // fallback
    assert(it.getAs[String]("source_type") === "guidance")  // fallback
    assert(it.getAs[String]("status") === "unknown")        // fallback
    assert(it.getAs[String]("title") === "a summary")       // blank title → summary
    assert(it.getAs[Double]("confidence") === 1.0)          // clamped
    assert(it.getAs[Seq[String]]("topics") === Seq("GDPR")) // domain filter

    val links = wh.domainTable("links").read
    assert(links.filter(col("relation") === "approved_into_main").count() === 1)
    assert(links.filter(col("relation") === "extracted_from").count() === 1)

    val q = wh.domainTable("review_queue").read.collect()(0)
    assert(q.getAs[String]("status") === "approved")
    assert(q.getAs[java.sql.Timestamp]("reviewed_at") !== null)

    // approving again is a no-op reporting current status
    assert(svc.approve("rev-1", t0) === "approved")
  }

  test("run state machine: failure path and JSONB-style meta merge") {
    val wh = freshWarehouse()
    val tracker = new RunTracker(wh)
    tracker.create("run-f", "scan", "EU", 30, t0)
    // a scan over candidates missing required columns throws → failed
    intercept[Exception] {
      ScanJob.run(wh, spark.range(1).toDF("bogus"),
        ScanJob.Params("run-f", "EU", 30, 10, 0.5, t0),
        RuleExtractor, new HashEmbedder(8))
    }
    val failed = wh.domainTable("runs").read.filter(col("id") === "run-f")
      .select("status", "meta").collect()(0)
    assert(failed.getString(0) === "failed")
    assert(failed.getString(1).contains("\"error\""))

    // S14: merge patches into existing meta, right side wins
    tracker.create("run-m", "scan", "EU", 30, t0)
    tracker.mergeMeta("run-m", """{"vector_error":"boom"}""")
    tracker.mergeMeta("run-m", """{"vector_error":"boom2","extra":"1"}""")
    val meta = wh.domainTable("runs").read.filter(col("id") === "run-m")
      .select("meta").collect()(0).getString(0)
    assert(meta.contains("\"vector_error\":\"boom2\""))
    assert(meta.contains("\"extra\":\"1\""))
  }

  test("ReviewService reject marks row") {
    val wh = freshWarehouse()
    val row = org.apache.spark.sql.Row("rev-2", "RegulationItem", "{}",
      "r", "pending", t0, null, null)
    wh.domainTable("review_queue").append(spark.createDataFrame(
      java.util.Arrays.asList(row), graft.domain.Schemas.reviewQueue))
    assert(new ReviewService(wh).reject("rev-2", t0) === "rejected")
    assert(wh.domainTable("review_queue").read
      .filter(col("status") === "rejected").count() === 1)
  }

  test("run_logs: concurrent log calls get distinct ids, one row each") {
    val wh = freshWarehouse()
    val tracker = new RunTracker(wh)
    val n = 6
    graft.core.Pools.runAll("logs", n)((1 to n).map { i =>
      s"log$i" -> (() => tracker.log("run-c", s"stage$i", s"message $i", t0))
    })
    val ids = wh.domainTable("run_logs").read
      .filter(col("run_id") === "run-c").select("id").as[String].collect()
    assert(ids.length === n)
    assert(ids.toSet === (1 to n).map(i => f"run-c-log-$i%05d").toSet)
  }

  test("approve and reject leave the session cache as they found it") {
    val wh = freshWarehouse()
    val payload = """{"id":"item-1","jurisdiction":"EU","title":"t",""" +
      """"summary_1line":"s","confidence":0.9,"topics":["GDPR"],""" +
      """"priority":"P1","url":"https://eur-lex.europa.eu/x",""" +
      """"source_document_id":"doc-1"}"""
    val queued = Seq("rev-ok" -> payload, "rev-bad" -> "{}",
      "rev-no" -> payload).map { case (id, p) =>
      org.apache.spark.sql.Row(id, "RegulationItem", p, "r", "pending", t0,
        null, null)
    }
    wh.domainTable("review_queue").append(spark.createDataFrame(
      java.util.Arrays.asList(queued: _*), graft.domain.Schemas.reviewQueue))
    val svc = new ReviewService(wh)
    val before = CacheEntries(spark)
    assert(svc.approve("rev-ok", t0) === "approved")
    assert(CacheEntries(spark) === before, "after approve")
    assert(svc.approve("rev-ok", t0) === "approved") // no longer pending
    assert(svc.approve("rev-missing", t0) === "not_found")
    assert(svc.approve("rev-bad", t0) === "invalid_payload")
    assert(CacheEntries(spark) === before, "after the early returns")
    assert(svc.reject("rev-no", t0) === "rejected")
    assert(CacheEntries(spark) === before, "after reject")
  }

  test("full lifecycle: scan and merge commits stay time-travelable") {
    val wh = freshWarehouse()
    val items = wh.domainTable("regulation_items")
    new RunTracker(wh).create("run-1", "scan", "EU", 30, t0)
    val sc = ScanJob.run(wh, candidates,
      ScanJob.Params("run-1", "EU", 30, 10, 0.5, t0),
      RuleExtractor, new HashEmbedder(16))
    assert(sc.accepted >= 1)
    val afterScan = items.currentVersion
    assert(items.read.count() === sc.accepted)
    new RunTracker(wh).create("run-2", "merge", "EU", 0, t0)
    val mc = MergeJob.run(wh, MergeJob.Params("run-2", "EU", 0.5, t0),
      RuleMerger)
    assert(mc.merged >= 1)
    // the merge committed on top of the scan, whose state stays readable
    assert(items.currentVersion > afterScan)
    assert(items.readVersion(afterScan).count() === sc.accepted)
    assert(items.readVersion(0).count() === 0)
  }
}
