package graft.jobs

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.core.{Pools, Warehouse}
import graft.domain.{OntoFunctions, Policy, Schemas, Validator}
import graft.pipeline.{Embedder, Extractor, Ids}

/** Scan-run pipeline (SURVEY §3.1 re-architecture of
  * `src/jobs/scan.ts:18-105` + `src/services/scan.ts:41-168`):
  *
  *   candidates → dedupe-by-url (first-wins, D1) → null-passes recency
  *   filter (P9) → head maxResults (O3) → evaluateSource (V4) →
  *   extract (L1, injected) → validate (V1) → tier routing (V3) →
  *   insert-if-absent documents (S9) / upsert items (S10) / append
  *   review_queue (S12) / links fan-out (J6/J8) / run_logs + meta
  *   counters (A7).
  *
  * The reference's five process boundaries (HTTP → Redis → worker →
  * crawl → Postgres) collapse into Spark stages; the candidate source
  * is a DataFrame (connector output or fixture).
  *
  * Independent writes overlap on [[graft.core.Pools]] (`∥`), each
  * commit unchanged and inside the job transaction:
  *
  *   status `running` ∥ log `detect` → [jobTxn: docs checkpoint ∥
  *   (count → log `triage`) → log `extract` → documents insert ∥
  *   five sketch batches ∥ (vector store → embed → chunks insert →
  *   count) ∥ (extract → routed checkpoint → items upsert ∥ review
  *   append ∥ links insert ∥ two counts)] → log `complete` ∥ run
  *   meta.
  *
  * Candidate schema: url, title, content, published_date (ISO string,
  * nullable), connector, connector_rank (int — connector priority
  * order, lower wins dedup).
  */
object ScanJob {

  /** Tables the persist phase writes — the [[graft.core.JobTxn]]
    * enlistment set (runs/run_logs excluded: status and progress must
    * survive a rolled-back job, as in the reference). */
  val persistTables: Seq[String] = Seq("source_documents", "vector_chunks",
    "regulation_items", "review_queue", "links", "vector_stores")

  case class Params(
      runId: String,
      jurisdiction: String,
      days: Int,
      maxResults: Int,
      confidenceMin: Double,
      now: Timestamp)

  case class Counters(discovered: Long, accepted: Long, review: Long,
      vectorCount: Long)

  def run(
      wh: Warehouse,
      candidates: DataFrame,
      params: Params,
      extractor: Extractor,
      embedder: Embedder,
      policy: Policy.TrustPolicy = Policy.referencePolicy): Counters = {
    val tracker = new RunTracker(wh)
    Pools.runAll("scan start", 2)(Seq(
      "runs" -> (() => tracker.setStatus(params.runId, "running")),
      "run_logs" -> (() => tracker.log(params.runId, "detect",
        s"scanning ${params.jurisdiction} (last ${params.days} days)",
        params.now))))
    try {
      // the reference wraps the persist block in one Postgres
      // transaction (jobs/scan.ts:35-94): a failed job leaves no
      // partial doc/item/review/link state. Same boundary here —
      // run status + logs stay OUTSIDE (they must survive a failure).
      val counters = wh.jobTxn(ScanJob.persistTables)(
        execute(wh, candidates, params, extractor, embedder, policy, tracker))
      Pools.runAll("scan finish", 2)(Seq(
        "run_logs" -> (() => tracker.log(params.runId, "complete",
          s"scan done: discovered ${counters.discovered} / accepted ${counters.accepted} / review ${counters.review}",
          params.now)),
        "runs" -> (() => tracker.complete(params.runId, JsonUtil.obj(
          "discovered" -> counters.discovered,
          "errors" -> JsonUtil.RawJson("[]"),
          "vector_count" -> counters.vectorCount,
          "accepted" -> counters.accepted,
          "review" -> counters.review), params.now))))
      counters
    } catch {
      case e: Exception =>
        tracker.fail(params.runId, String.valueOf(e.getMessage), params.now)
        throw e
    }
  }

  private def execute(
      wh: Warehouse,
      candidates: DataFrame,
      params: Params,
      extractor: Extractor,
      embedder: Embedder,
      policy: Policy.TrustPolicy,
      tracker: RunTracker): Counters = {
    val spark = wh.spark
    val now = lit(params.now)

    // D1 — first-wins dedup by canonical url: explicit precedence by
    // (connector_rank, url), never partition order (scan.ts:312-321).
    val canon = candidates.withColumn("c_url",
      OntoFunctions.canonicalizeUrl(col("url")))
    val byUrl = Window.partitionBy("c_url")
      .orderBy(asc("connector_rank"), asc("url"))
    val deduped = canon
      .withColumn("_rn", row_number().over(byUrl))
      .filter(col("_rn") === 1).drop("_rn")

    // P9 — null-passes recency window (scan.ts:420-429): null or
    // unparseable published_date is KEPT.
    val fresh = deduped.filter(
      col("published_date").isNull ||
        to_date(substring(col("published_date"), 1, 10)).isNull ||
        to_date(substring(col("published_date"), 1, 10)) >=
          date_sub(to_date(now), params.days))

    // O3 — head maxResults in deterministic precedence order.
    val limited = fresh
      .orderBy(asc("connector_rank"), asc("c_url"))
      .limit(params.maxResults)

    // V4 — trust policy evaluation (broadcast joins, no input shuffle).
    val evaluated = Policy.evaluateSource(spark, limited.drop("c_url"), "url", policy)

    // Source documents (S9 insert-if-absent) with deterministic ids.
    val docsPlan = evaluated.select(
      Ids.deterministicUuid(concat(lit("doc:"), col("canonical_url"))).as("id"),
      col("canonical_url").as("url"),
      col("s_domain").as("domain"),
      col("title"),
      col("content"),
      now.cast(TimestampType).as("retrieved_at"),
      OntoFunctions.contentHash(col("canonical_url"), col("title"))
        .cast(StringType).as("hash"),
      to_json(struct(
        col("published_date"),
        col("trust_tier"),
        col("monitoring_stage"),
        col("profile_id").as("source_profile_id"))).as("meta"),
      // carried for extraction only
      col("published_date").as("_published"),
      col("trust_tier").as("_tier"),
      col("monitoring_stage").as("_stage"),
      col("profile_id").as("_profile"))

    // The triage count and the docs checkpoint are independent jobs
    // over the same candidates: run them together.
    val (discovered, docs) = Pools.runPair("scan prelude")(
      "triage" -> (() => {
        val n = fresh.count()
        tracker.log(params.runId, "triage",
          s"$n candidates after dedup+recency", params.now)
        n
      }),
      // materialized ONCE (batch-bounded): EIGHT consumers read this
      // frame (document insert, five ingest sketch batches, the embed
      // input, the extraction input, the lineage links) and each
      // would otherwise re-run the dedupe-window + recency + policy
      // pipeline over the candidate batch (r21, guide §1.2/§5).
      "docs" -> (() => docsPlan.localCheckpoint(true)))

    tracker.log(params.runId, "extract", "structured extraction", params.now)

    // Four independent branches, each reading only `docs`: the
    // document insert, the sketch batches, vectorize, and extract →
    // route → item/review/link writes. No branch writes a table
    // another one writes or reads, so they run together. Failures
    // propagate only after every running branch has finished
    // (Pools.runAll), so the jobTxn rollback never races a branch's
    // late commit.
    val Seq(_, _, vectorCount: Long, (nAccepted: Long, nReview: Long)) =
      Pools.runAll[Any]("scan persist", 4)(Seq(
        "source_documents" -> (() => wh.domainTable("source_documents")
          .insertIfAbsent(docs.drop("_published", "_tier", "_stage", "_profile"))),
        "sketches" -> (() => addSketchBatches(wh, docs, params.runId)),
        "vector_chunks" -> (() => persistVectors(wh, docs, embedder, params.now)),
        "routed" -> (() => persistRouted(wh, docs, extractor, params))))
    Counters(discovered, nAccepted, nReview, vectorCount)
  }

  /** The five mergeable ingest sketches (HLL distincts, binned
    * histogram, Misra-Gries term frequencies, rank quantiles,
    * per-domain KMV) each summarize the SAME checkpointed batch frame
    * into its own store directory — five INDEPENDENT Spark jobs with
    * no data dependency between them or on anything later in the
    * scan. Submitted from a small thread pool so one job's straggler
    * tail back-fills the others' idle cores (guide §2.6: actions are
    * only sequential because the driver calls them sequentially);
    * each job's internal plan, partitioning, and output bytes are
    * unchanged — PipelineSpec still pins store contents. Store
    * semantics (one batch dir per run id, replay-idempotent
    * overwrite; the 32-bit-hash caveat on the HLL batchId) are
    * documented in each store. */
  private def addSketchBatches(wh: Warehouse, docs: DataFrame,
      runId: String): Unit =
    Pools.runAll("ingest sketch batch", 3)(Seq(
      "hll" -> (() =>
        graft.ext.DistinctSketch.addBatch(docs.select("url", "domain"),
          Seq("url", "domain"), s"${wh.root}/sketches/source_documents",
          batchId = runId.hashCode.toLong)),
      "histogram" -> (() =>
        graft.ext.HistogramSketch.addBatchKeyed(
          docs.select((floor(length(col("content")) / 200) * 200)
            .as("len_bucket")),
          Seq("len_bucket"), s"${wh.root}/sketches/source_documents",
          batchKey = runId)),
      "freq" -> (() =>
        graft.ext.FreqSketch.addBatchKeyed(
          docs.select(explode(graft.ext.Dedup.words(col("content")))
            .as("word")),
          "word", s"${wh.root}/sketches/source_documents_freq",
          batchKey = runId)),
      "quantile" -> (() =>
        graft.ext.QuantileSketch.addBatchKeyed(
          docs.select(length(col("content")).cast("double").as("len")),
          "len", s"${wh.root}/sketches/source_documents_quant",
          batchKey = runId)),
      "kmv" -> (() =>
        graft.ext.KmvSketch.addBatchGroupedKeyed(
          docs.select(col("domain"), col("url")),
          "domain", "url", s"${wh.root}/sketches/source_documents_kmvgrp",
          batchKey = runId))))

  /** L3 — vectorize (embed title+content, 6000-char cap, single chunk
    * index 0; `vectorize.ts:6-33`) into `vector_chunks`. Returns the
    * chunk count. */
  private def persistVectors(wh: Warehouse, docs: DataFrame,
      embedder: Embedder, nowTs: Timestamp): Long = {
    val now = lit(nowTs)
    val localStoreId = ensureLocalStore(wh, nowTs)
    val embedInput = docs.select(col("id"),
      OntoFunctions.truncate(
        concat_ws("\n\n", coalesce(col("title"), lit("")),
          coalesce(col("content"), lit(""))), 6000).as("text"))
    // the embedder preserves (id, text), so the chunk rows project
    // straight off its output — the previous shape re-joined the text
    // back on by id, a full shuffle of the 6000-char payload for
    // columns the embed input already carried (guide §8)
    val embedded = embedder.embed(embedInput, "id", "text")
    // the Embedder contract (Interfaces.scala) requires the output to
    // PRESERVE the id and text columns — fail here with a clear
    // message rather than later with an unresolved-column error from
    // an out-of-tree implementation that drops them
    require(Seq("id", "text", "embedding")
      .forall(embedded.columns.contains),
      s"Embedder.embed must preserve 'id' and 'text' and add " +
        s"'embedding'; got [${embedded.columns.mkString(", ")}]")
    val vectors = embedded
      .select(
        Ids.deterministicUuid(concat(lit("chunk:"), col("id"))).as("id"),
        col("id").as("document_id"),
        lit(0).as("chunk_index"),
        col("text"),
        col("embedding"),
        lit(localStoreId).as("vector_store_id"),
        now.cast(TimestampType).as("created_at"))
      // embed runs ONCE: the insert and the counter both read the
      // materialized chunk frame instead of re-embedding (r21)
      .localCheckpoint(true)
    wh.domainTable("vector_chunks").insertIfAbsent(vectors)
    vectors.count()
  }

  /** L1 extraction → V1/V3 validate and route → the main-table upsert,
    * the review rows and the lineage links. Returns (accepted,
    * review) counts. */
  private def persistRouted(wh: Warehouse, docs: DataFrame,
      extractor: Extractor, params: Params): (Long, Long) = {
    val now = lit(params.now)

    // L1 — structured extraction (injected; stub is rule-based).
    val extractDocs = docs.select(col("id"), col("url"), col("title"),
      col("content"), col("_published").as("published_date"),
      col("_tier").as("trust_tier"), col("_stage").as("monitoring_stage"),
      col("_profile").as("profile_id"))
    val items = extractor.extract(extractDocs, params.jurisdiction, now)

    // V1 + V3 — validate then route. Eagerly materialized: the
    // upsert, review rows, links and counters all read it, and each
    // would otherwise re-run the whole extract pipeline (cache() is
    // best-effort).
    val routed = Validator.routeItems(
      Validator.validateItems(items, params.confidenceMin))
      .localCheckpoint(true)

    val accepted = routed.filter(col("_route") === "main")
      .drop("_valid", "_reason", "_route", "_review_reason")

    val review = routed.filter(col("_route") === "review_queue")
    val reviewRows = review.select(
      Ids.deterministicUuid(concat(lit("review:"), lit(params.runId), col("id"))).as("id"),
      lit("RegulationItem").as("entity_type"),
      to_json(struct(review.drop(
        "_valid", "_reason", "_route", "_review_reason").columns.map(col): _*))
        .as("payload"),
      col("_review_reason").as("reason"),
      lit("pending").as("status"),
      now.cast(TimestampType).as("created_at"),
      lit(null).cast(TimestampType).as("reviewed_at"),
      lit(null).cast(StringType).as("reviewer"))

    // J6/J8 — lineage links fan-out (`scan.ts:107-160`).
    val runLit = lit(params.runId)
    val docLinks = docs.select(
      lit("Run").as("from_type"), runLit.as("from_id"),
      lit("SourceDocument").as("to_type"), col("id").as("to_id"),
      lit("produced").as("relation"))
    val acceptedLinks = accepted.select(
      lit("Run").as("from_type"), runLit.as("from_id"),
      lit("RegulationItem").as("to_type"), col("id").as("to_id"),
      lit("produced").as("relation"))
    val extractedLinks = routed.filter(col("source_document_id").isNotNull)
      .select(
        lit("SourceDocument").as("from_type"),
        col("source_document_id").as("from_id"),
        lit("RegulationItem").as("to_type"), col("id").as("to_id"),
        lit("extracted_from").as("relation"))
    val queuedLinks = review.select(
      lit("Run").as("from_type"), runLit.as("from_id"),
      lit("RegulationItem").as("to_type"), col("id").as("to_id"),
      lit("queued_for_review").as("relation"))
    val links = Seq(docLinks, acceptedLinks, extractedLinks, queuedLinks)
      .reduce(_ unionByName _)
      .withColumn("id", Ids.deterministicUuid(concat_ws("|",
        col("from_type"), col("from_id"), col("to_type"), col("to_id"),
        col("relation"))))
      .withColumn("created_at", now.cast(TimestampType))

    // three writes to three tables and two counts, all reading the
    // checkpointed `routed`: independent, so they run together
    val Seq(_, _, _, nAccepted: Long, nReview: Long) =
      Pools.runAll[Any]("scan routed writes", 5)(Seq(
        "regulation_items" -> (() =>
          wh.domainTable("regulation_items").upsert(accepted)),
        "review_queue" -> (() => wh.domainTable("review_queue").append(reviewRows)),
        "links" -> (() => wh.domainTable("links").insertIfAbsent(links)),
        "accepted" -> (() => accepted.count()),
        "review" -> (() => review.count())))
    routed.unpersist()
    (nAccepted, nReview)
  }

  /** Exactly one provider='local' vector store
    * (`src/services/vectorize.ts:35-49`). */
  def ensureLocalStore(wh: Warehouse, now: Timestamp): String = {
    val stores = wh.domainTable("vector_stores")
    val spark = wh.spark
    val localId = "local-default-store"
    val row = org.apache.spark.sql.Row(
      localId, "Local Vector Store", "local", null, "ready", now, null)
    stores.insertIfAbsent(spark.createDataFrame(
      java.util.Arrays.asList(row), Schemas.vectorStores))
    localId
  }
}
