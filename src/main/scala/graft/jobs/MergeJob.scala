package graft.jobs

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Pools, Warehouse}
import graft.domain.{Terms, Validator}
import graft.pipeline.{Ids, Merger}

/** Merge-run pipeline (SURVEY §3.2 re-architecture of
  * `src/jobs/merge.ts:16-109`): jurisdiction filter + sort (P1) →
  * Merger (L2, injected) → tier/stage argmax backfill over the INPUT
  * items (A5/A6, `merge.ts:163-198`) → validate + route (V1/V3) →
  * requirements gate (V5: only when inferred tier is TIER_A_BINDING)
  * → links incl. the requirement × source-item cartesian (J7,
  * `merge.ts:147-158`) → run meta counters.
  *
  * Independent steps overlap on [[graft.core.Pools]] (`∥`), each
  * commit unchanged and inside the job transaction:
  *
  *   [jobTxn: status `running` ∥ items checkpoint → argmax → merge →
  *   routed checkpoint → items upsert ∥ review insert ∥
  *   (requirements insert → count) ∥ links insert ∥ merged count ∥
  *   review count ∥ data-gaps collect → run meta].
  */
object MergeJob {

  case class Params(
      runId: String,
      jurisdiction: String,
      confidenceMin: Double,
      now: Timestamp)

  case class Counters(merged: Long, radar: Long, review: Long)

  /** [[graft.core.JobTxn]] enlistment set (see [[ScanJob.persistTables]]). */
  val persistTables: Seq[String] =
    Seq("regulation_items", "review_queue", "requirements", "links")

  def run(wh: Warehouse, params: Params, merger: Merger): Counters = {
    val tracker = new RunTracker(wh)
    try {
      wh.jobTxn(persistTables)(execute(wh, params, merger, tracker))
    } catch {
      case e: Exception =>
        tracker.fail(params.runId, String.valueOf(e.getMessage), params.now)
        throw e
    }
  }

  private def execute(wh: Warehouse, params: Params, merger: Merger,
      tracker: RunTracker): Counters = {
    val spark = wh.spark
    val now = lit(params.now)

    // P1 — merge input relation. Eagerly materialized (localCheckpoint,
    // not best-effort cache): the argmax below, the merger and the
    // mapped_to links all read it, and each would otherwise re-run
    // the filter and sort. The run-status write is independent of it.
    val (_, items) = Pools.runPair("merge prelude")(
      "runs" -> (() => tracker.setStatus(params.runId, "running")),
      "items" -> (() => wh.domainTable("regulation_items").read
        .filter(col("jurisdiction") === params.jurisdiction)
        .orderBy(desc("created_at"))
        .localCheckpoint(true)))

    // A5/A6 — argmax by tier rank / stage ordinal over input items.
    val tierRank = Terms.TierRank.foldLeft(lit(0): org.apache.spark.sql.Column) {
      case (acc, (t, r)) => when(col("trust_tier") === t, r).otherwise(acc)
    }
    val stageOrd = array_position(
      lit(Terms.MonitoringStages.toArray), col("monitoring_stage"))
    val inferredRow = items.agg(
      max_by(col("trust_tier"), when(col("trust_tier").isNotNull, tierRank))
        .as("tier"),
      max_by(col("monitoring_stage"),
        when(col("monitoring_stage").isNotNull, stageOrd)).as("stage"))
      .collect()(0)
    val inferredTier = Option(inferredRow.getString(0))
    val inferredStage = Option(inferredRow.getString(1))

    // L2 — merge transform (injected; stub is deterministic).
    val out = merger.merge(spark, items, params.jurisdiction, now)

    // Backfill missing tier/stage from the inferred argmax
    // (`merge.ts:36-41`).
    val backfilled = out.mergedItems
      .withColumn("trust_tier",
        coalesce(col("trust_tier"), lit(inferredTier.orNull)))
      .withColumn("monitoring_stage",
        coalesce(col("monitoring_stage"), lit(inferredStage.orNull)))

    // V1 + V3 — validate then route. Materialized for the same reason
    // as `items`: the upsert, review rows, links and counters all read
    // it.
    val routed = Validator.routeItems(
      Validator.validateItems(backfilled, params.confidenceMin))
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

    // V2 + V5 — requirements radar, gated on inferred TIER_A.
    val allowRequirements = inferredTier.contains("TIER_A_BINDING")
    val validReqs = out.radarTable
      .withColumn("_vr", Validator.requirementReason)
      .filter(col("_vr").isNull).drop("_vr")
      .cache()
    try {
      // Links: produced + extracted_from per merged item; produced per
      // requirement; requirement × source-item cartesian `mapped_to`
      // (J7 — dimension side is small; Spark broadcasts it).
      val runLit = lit(params.runId)
      val itemLinks = accepted.select(
        lit("Run").as("from_type"), runLit.as("from_id"),
        lit("RegulationItem").as("to_type"), col("id").as("to_id"),
        lit("produced").as("relation"))
      val extractedLinks = accepted.filter(col("source_document_id").isNotNull)
        .select(
          lit("SourceDocument").as("from_type"),
          col("source_document_id").as("from_id"),
          lit("RegulationItem").as("to_type"), col("id").as("to_id"),
          lit("extracted_from").as("relation"))
      val reqIds = if (allowRequirements) validReqs.select(col("id").as("req_id"))
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("req_id", StringType))))
      val reqLinks = reqIds.select(
        lit("Run").as("from_type"), runLit.as("from_id"),
        lit("Requirement").as("to_type"), col("req_id").as("to_id"),
        lit("produced").as("relation"))
      val mappedLinks = items.select(col("id").as("src_id"))
        .crossJoin(broadcast(reqIds))
        .select(
          lit("RegulationItem").as("from_type"), col("src_id").as("from_id"),
          lit("Requirement").as("to_type"), col("req_id").as("to_id"),
          lit("mapped_to").as("relation"))
      val links = Seq(itemLinks, extractedLinks, reqLinks, mappedLinks)
        .reduce(_ unionByName _)
        .withColumn("id", Ids.deterministicUuid(concat_ws("|",
          col("from_type"), col("from_id"), col("to_type"), col("to_id"),
          col("relation"))))
        .withColumn("created_at", now.cast(TimestampType))

      // The four table writes and the counters read only `items`,
      // `routed` and the radar — none reads another's output — so
      // they run together; a failure surfaces only once every running
      // sibling has finished, before the jobTxn rolls back.
      val Seq(_, _, nRadar: Long, _, nMerged: Long, nReview: Long,
          gapsJson: String) = Pools.runAll[Any]("merge persist", 7)(Seq(
        "regulation_items" -> (() =>
          wh.domainTable("regulation_items").upsert(accepted)),
        // insert-if-absent, not append: review ids are deterministic
        // per (runId, itemId), so a replayed run (streaming retry
        // under the same child runId — see StreamingMerge) converges
        // instead of duplicating queue rows. Distinct runIds still
        // queue separately.
        "review_queue" -> (() =>
          wh.domainTable("review_queue").insertIfAbsent(reviewRows)),
        "requirements" -> (() =>
          if (allowRequirements) {
            wh.domainTable("requirements").insertIfAbsent(validReqs)
            validReqs.count()
          } else 0L),
        "links" -> (() => wh.domainTable("links").insertIfAbsent(links)),
        "merged" -> (() => accepted.count()),
        "review" -> (() => review.count()),
        "data_gaps" -> (() =>
          out.dataGaps.toJSON.collect().mkString("[", ",", "]"))))
      tracker.complete(params.runId, JsonUtil.obj(
        "merged" -> nMerged,
        "radar" -> nRadar,
        "data_gaps" -> JsonUtil.RawJson(gapsJson),
        "summary" -> out.summary,
        "review" -> nReview), params.now)
      Counters(nMerged, nRadar, nReview)
    } finally validReqs.unpersist()
  }
}
