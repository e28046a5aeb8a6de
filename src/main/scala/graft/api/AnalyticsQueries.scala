package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Warehouse
import graft.domain.Terms

/** The complete read-side query surface (SURVEY §3.3, M4): every REST
  * read endpoint of the reference as a named DataFrame method. All are
  * single-pass declarative plans — the reference computes dashboard
  * stats with ~20 separate array passes (`apps/web/src/App.tsx:
  * 122-154`); here it is ONE aggregate.
  */
final class AnalyticsQueries(wh: Warehouse) {

  private def items = wh.domainTable("regulation_items").read
  private def runs = wh.domainTable("runs").read
  private def reviewQueue = wh.domainTable("review_queue").read
  private def chunks = wh.domainTable("vector_chunks").read
  private def docs = wh.domainTable("source_documents").read

  /** S1 — `GET /api/items`. */
  def listItems(): DataFrame =
    items.orderBy(desc("created_at"), asc("id"))

  /** S3 — `GET /api/review-queue`. */
  def listReviewQueue(): DataFrame =
    reviewQueue.orderBy(desc("created_at"), asc("id"))

  /** P2 — `GET /api/runs/:id/logs` (asc, limit). */
  def runLogs(runId: String, limit: Int = 200): DataFrame =
    wh.domainTable("run_logs").read
      .filter(col("run_id") === runId)
      .orderBy(asc("created_at"), asc("id"))
      .limit(limit)

  /** A3 — dashboard stats struct (`App.tsx:122-154` +
    * `packages/shared/src/schema.ts:151-159`) in one pass. */
  def dashboardStats(): DataFrame = {
    def cnt(c: Column) = count(when(c, 1))
    val byJurisdiction = Terms.Jurisdictions.map(j =>
      cnt(col("jurisdiction") === j).as(s"jurisdiction_$j"))
    val byStatus = Terms.ItemStatuses.map(s =>
      cnt(col("status") === s).as(s"status_$s"))
    val byPriority = Terms.Priorities.map(p =>
      cnt(col("priority") === p).as(s"priority_$p"))
    items.agg(
      count(lit(1)).as("total_items"),
      (byJurisdiction ++ byStatus ++ byPriority :+
        cnt(col("confidence") < 0.8).as("pending_review") :+
        cnt(col("confidence") < 0.5).as("quarantined")): _*)
  }

  /** A4 — latest run. */
  def lastRun(): DataFrame =
    runs.orderBy(desc("started_at"), asc("id")).limit(1)

  /** A8 — dashboard preview: 5 most recent items + P0 alerts. */
  def recentItems(n: Int = 5): DataFrame =
    items.orderBy(desc("created_at"), asc("id")).limit(n)
  def alerts(): DataFrame = items.filter(col("priority") === "P0")

  /** P6/P7 — multi-field case-insensitive search + facet filters
    * (`ItemBrowser.tsx:78-93`). Empty facet = pass. */
  def searchItems(
      query: String = "",
      jurisdiction: Option[String] = None,
      sourceType: Option[String] = None,
      priority: Option[String] = None,
      status: Option[String] = None): DataFrame = {
    val q = query.trim.toLowerCase
    val searched =
      if (q.isEmpty) items
      else {
        val fields = Seq("title", "summary_1line", "source_org")
          .map(f => lower(coalesce(col(f), lit(""))).contains(q))
        val inTopics = exists(coalesce(col("topics"),
          array()), t => lower(t).contains(q))
        items.filter(fields.reduce(_ || _) || inTopics)
      }
    Seq("jurisdiction" -> jurisdiction, "source_type" -> sourceType,
      "priority" -> priority, "status" -> status)
      .foldLeft(searched) { case (df, (c, v)) =>
        v.filter(_.nonEmpty).map(x => df.filter(col(c) === x)).getOrElse(df)
      }
      .orderBy(desc("created_at"), asc("id"))
  }

  /** J3 — union-dedup display set: main items ∪ review payloads not
    * already present by id, main wins (`ItemBrowser.tsx:61-73`).
    * Explicit precedence, not partition order. */
  def displayItems(): DataFrame = {
    val reviewItems = graft.domain.Normalizer
      .normalizePayload(
        reviewQueue.filter(col("entity_type") === "RegulationItem" &&
          col("status") === "pending"),
        "payload", current_timestamp())
      .select(col("item.*"))
    val fromReview = reviewItems.join(items.select("id"), Seq("id"), "left_anti")
    items.withColumn("_origin", lit("main"))
      .unionByName(fromReview.withColumn("_origin", lit("review")))
      .orderBy(desc("created_at"), asc("id"))
  }

  /** A1 — vector store stats (`src/index.ts:176-181`): exact distinct
    * plus the approx variant that survives 100 TB. */
  def vectorStats(): DataFrame =
    chunks.agg(
      count(lit(1)).as("chunk_count"),
      countDistinct(col("document_id")).as("document_count"),
      approx_count_distinct(col("document_id")).as("document_count_approx"),
      max(col("created_at")).as("last_ingested"))

  /** J1/A2 — grouped vector documents (`src/index.ts:183-194`). */
  def vectorDocuments(): DataFrame = {
    val c = chunks
    val d = docs
    c.join(d, c("document_id") === d("id"))
      .groupBy(d("id"), d("title"), d("url"), d("domain"))
      .agg(count(lit(1)).as("chunk_count"),
        max(c("created_at")).as("last_ingested"))
      .orderBy(desc("last_ingested"), d("id").asc)
  }
}
