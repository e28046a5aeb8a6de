package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ontology validation gates (SURVEY §2.9 V1/V2) as column expressions.
  *
  * The reference validates row-at-a-time with zod
  * (`src/ontology/validator.ts:26-48`); here the same 4-stage gate is
  * one vectorized expression bundle producing `(valid, reason)` —
  * soft-fail: invalid rows are ROUTED, never dropped. First failing
  * stage wins; reason strings match the reference exactly.
  */
object Validator {

  val SchemaFailed = "Schema validation failed"
  val DomainNotAllowed = "Source domain not allowed"
  val MissingCitations = "Missing evidence citations"
  def confidenceBelow(min: Double): String = {
    // render like JS: 0.7 not 0.70
    val s = if (min == min.floor) min.toInt.toString else min.toString
    s"Confidence below threshold ($s)"
  }

  /** Stage 1 — schema/enum/shape checks equivalent to
    * `RegulationItemSchema.safeParse` over an item row already in the
    * typed `Schemas.regulationItems` shape. */
  def schemaOk: Column = {
    def nonEmpty(c: String) = col(c).isNotNull && length(col(c)) > 0
    nonEmpty("id") &&
    col("jurisdiction").isin(Terms.Jurisdictions: _*) &&
    nonEmpty("source_org") &&
    col("source_type").isin(Terms.SourceTypes: _*) &&
    nonEmpty("title") &&
    nonEmpty("summary_1line") && length(col("summary_1line")) <= 400 &&
    nonEmpty("url") &&
    col("retrieved_at").isNotNull &&
    col("status").isin(Terms.ItemStatuses: _*) &&
    size(array_except(coalesce(col("topics"), array()),
      lit(Terms.Topics.toArray))) === 0 &&
    size(array_except(coalesce(col("impacted_areas"), array()),
      lit(Terms.ImpactedAreas.toArray))) === 0 &&
    col("confidence").isNotNull &&
    col("confidence") >= 0.0 && col("confidence") <= 1.0 &&
    col("priority").isin(Terms.Priorities: _*) &&
    (col("trust_tier").isNull || col("trust_tier").isin(Terms.TrustTiers: _*)) &&
    (col("monitoring_stage").isNull ||
      col("monitoring_stage").isin(Terms.MonitoringStages: _*))
  }

  /** V1 — 4-stage regulation-item gate; returns the failure reason or
    * null when valid (`validator.ts:26-48`). */
  def itemReason(confidenceMin: Double): Column =
    when(!schemaOk, SchemaFailed)
      .when(!OntoFunctions.isAllowedDomain(col("url")), DomainNotAllowed)
      .when(col("evidence").isNull ||
        col("evidence.citations").isNull ||
        size(col("evidence.citations")) === 0, MissingCitations)
      .when(col("confidence") < confidenceMin, confidenceBelow(confidenceMin))
      .otherwise(null)

  /** Attach `(valid, reason)` columns. */
  def validateItems(df: DataFrame, confidenceMin: Double = 0.7): DataFrame =
    df.withColumn("_reason", itemReason(confidenceMin))
      .withColumn("_valid", col("_reason").isNull)

  /** V3 — trust-tier routing (`src/jobs/scan.ts:50-74`): main iff valid
    * AND tier is TIER_A_BINDING; otherwise review with composite
    * reason "<validation reason> | Trust tier <t> requires review". */
  def routeItems(validated: DataFrame): DataFrame = {
    val isHardLaw = col("trust_tier") === "TIER_A_BINDING"
    val reviewReason = concat_ws(" | ",
      when(!col("_valid"), col("_reason")),
      when(!coalesce(isHardLaw, lit(false)),
        concat(lit("Trust tier "), coalesce(col("trust_tier"), lit("unknown")),
          lit(" requires review"))))
    validated
      .withColumn("_route",
        when(col("_valid") && coalesce(isHardLaw, lit(false)), "main")
          .otherwise("review_queue"))
      .withColumn("_review_reason",
        when(col("_route") === "review_queue",
          when(length(reviewReason) > 0, reviewReason)
            .otherwise("Unknown validation error")))
  }

  /** V2 — requirement gate (`validator.ts:50-56`). */
  def requirementReason: Column = {
    def nonEmpty(c: String) = col(c).isNotNull && length(col(c)) > 0
    when(!(nonEmpty("requirement_family") &&
        col("evidence_status").isin(Terms.EvidenceStatus: _*) &&
        col("priority").isin(Terms.Priorities: _*)),
      "Requirement schema validation failed")
      .otherwise(null)
  }
}
