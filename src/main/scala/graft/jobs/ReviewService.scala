package graft.jobs

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Pools, Warehouse}
import graft.domain.{Normalizer, Validator}

/** Review-queue approve/reject (SURVEY §2.9 V6; ref
  * `src/index.ts:243-300`): approve = normalize payload → validate →
  * upsert into main ∥ lineage links → mark approved; reject = mark
  * rejected. Returns the resulting status string.
  */
final class ReviewService(wh: Warehouse) {

  def approve(reviewId: String, now: Timestamp): String = {
    val queue = wh.domainTable("review_queue")
    // both caches are released on every exit, early returns included —
    // an approve must leave the session's cache as it found it
    val rows = queue.lookup(Seq(reviewId)).cache()
    try {
      val first = rows.limit(1).collect()
      if (first.isEmpty) return "not_found"
      val status = first(0).getAs[String]("status")
      if (status != "pending") return status

      val normalized = Normalizer
        .normalizePayload(rows.filter(col("entity_type") === "RegulationItem"),
          "payload", lit(now))
        .select(col("item.*"))
      // zod parse equivalent: schema gate only (`RegulationItemSchema
      // .safeParse`, index.ts:259) — approval bypasses domain/tier gates.
      val ok = normalized
        .withColumn("_schema_ok", Validator.schemaOk(normalized))
        .filter(col("_schema_ok")).drop("_schema_ok")
        .cache()
      try {
        if (ok.isEmpty) return "invalid_payload"

        val extracted = ok.filter(col("source_document_id").isNotNull).select(
          lit("SourceDocument").as("from_type"),
          col("source_document_id").as("from_id"),
          lit("RegulationItem").as("to_type"), col("id").as("to_id"),
          lit("extracted_from").as("relation"))
        val approvedInto = ok.select(
          lit("ReviewQueueItem").as("from_type"), lit(reviewId).as("from_id"),
          lit("RegulationItem").as("to_type"), col("id").as("to_id"),
          lit("approved_into_main").as("relation"))
        val links = extracted.unionByName(approvedInto)
          .withColumn("id", graft.pipeline.Ids.deterministicUuid(concat_ws("|",
            col("from_type"), col("from_id"), col("to_type"), col("to_id"),
            col("relation"))))
          .withColumn("created_at", lit(now).cast(TimestampType))
        // the item and its links are independent writes; the status
        // flip waits for both, so a crash never marks an item approved
        // whose row did not land
        Pools.runAll("approve", 2)(Seq(
          "regulation_items" -> (() => wh.domainTable("regulation_items").upsert(ok)),
          "links" -> (() => wh.domainTable("links").insertIfAbsent(links))))

        setStatus(reviewId, "approved", now)
        "approved"
      } finally ok.unpersist()
    } finally rows.unpersist()
  }

  def reject(reviewId: String, now: Timestamp): String = {
    setStatus(reviewId, "rejected", now)
    "rejected"
  }

  private def setStatus(reviewId: String, status: String, now: Timestamp): Unit = {
    val queue = wh.domainTable("review_queue")
    queue.upsert(queue.lookup(Seq(reviewId))
      .withColumn("status", lit(status))
      .withColumn("reviewed_at", lit(now).cast(TimestampType)))
  }
}
