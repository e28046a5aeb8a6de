package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trust-tier source policy (SURVEY §2.9 V4): profile match →
  * domain-tier fallback → quarantine, as broadcast-join dataflow.
  * Shapes mirror `services/api/config/trust-policy.json:1-134` and
  * `src/ontology/policy.ts:99-170`.
  */
object Policy {

  case class Profile(
      id: String,
      connector: String,
      domain: String,
      path: String,
      requiredQueryParams: Map[String, Seq[String]] = Map.empty,
      tier: String,
      stage: String,
      requiresReview: Boolean = false)

  case class TrustPolicy(
      profiles: Seq[Profile],
      tierDomains: Map[String, Seq[String]])

  /** The reference's shipped policy (`config/trust-policy.json`); its
    * six profiles are all TIER_B — tests add a TIER_A profile to
    * exercise the `route=main` branch. */
  val referencePolicy: TrustPolicy = TrustPolicy(
    profiles = Seq(
      Profile("ec_commission_news", "eu_news", "commission.europa.eu",
        "/news-and-media/news_en", Map.empty,
        "TIER_B_OFFICIAL_SIGNAL", "Drafting", requiresReview = true),
      Profile("futurium_ai_alliance_news", "eu_news", "futurium.ec.europa.eu",
        "/en/apply-ai-alliance/news", Map.empty,
        "TIER_B_OFFICIAL_SIGNAL", "Drafting", requiresReview = true),
      Profile("eu_digital_strategy_news", "eu_news", "digital-strategy.ec.europa.eu",
        "/en/news", Map("topic" -> Seq("119")),
        "TIER_B_OFFICIAL_SIGNAL", "Drafting", requiresReview = true),
      Profile("eu_ai_office_news", "eu_news", "digital-strategy.ec.europa.eu",
        "/en/policies/ai-office", Map.empty,
        "TIER_B_OFFICIAL_SIGNAL", "Interpreting", requiresReview = true),
      Profile("gar_wp29_weekly_docs", "globalautoregs", "globalautoregs.com",
        "/documents", Map("show" -> Seq("week")),
        "TIER_B_OFFICIAL_SIGNAL", "Drafting", requiresReview = true),
      Profile("gar_entry_into_force_2026", "globalautoregs", "globalautoregs.com",
        "/modifications", Map("year" -> Seq("2026")),
        "TIER_B_OFFICIAL_SIGNAL", "Use&Registration", requiresReview = true)),
    tierDomains = Map(
      "TIER_A_BINDING" -> Seq("eur-lex.europa.eu", "op.europa.eu",
        "unece.org", "gesetze-im-internet.de", "legifrance.gouv.fr",
        "legislation.gov.uk"),
      "TIER_B_OFFICIAL_SIGNAL" -> Seq("kba.de", "utac.com", "rdw.nl",
        "vca.gov.uk", "idiada.com", "edpb.europa.eu", "bfdi.bund.de",
        "bsi.bund.de", "cnil.fr", "enisa.europa.eu", "wiki.unece.org",
        "ec.europa.eu", "commission.europa.eu", "www.gov.uk")))

  /** V4 — evaluate every URL in `df(urlCol)` against the policy.
    * Adds: `canonical_url, s_domain, profile_id, trust_tier,
    * monitoring_stage, requires_review, route, eval_reason`.
    *
    * Plan shape: ZERO shuffles, zero joins. The policy is driver-side
    * config, so "first profile in file order wins" (the reference's
    * `Array.find`, `policy.ts:108`) compiles to an ordered
    * `coalesce(when(match₁, profile₁), when(match₂, profile₂), …)`
    * scalar expression, and the domain-tier fallback
    * (`policy.ts:163-170`) to the same fold over tiers in rank order.
    * V4 becomes a pure projection — map-only at any scale, inside
    * whole-stage codegen, nothing exchanged regardless of candidate
    * count. (A policy with thousands of profiles would flip back to a
    * broadcast join; this one has single digits, like the reference's.)
    */
  def evaluateSource(
      df: DataFrame,
      urlCol: String,
      policy: TrustPolicy = referencePolicy): DataFrame = {

    val canon = df
      .withColumn("canonical_url", OntoFunctions.canonicalizeUrl(col(urlCol)))
      .withColumn("s_domain", OntoFunctions.safeDomain(col("canonical_url")))
      .withColumn("s_path",
        coalesce(parse_url(col("canonical_url"), lit("PATH")), lit("")))
      .withColumn("s_query",
        coalesce(parse_url(col("canonical_url"), lit("QUERY")), lit("")))
      .withColumn("s_params", map_from_entries(expr(
        "transform(filter(split(s_query, '&'), p -> p != ''), " +
          "p -> struct(split(p, '=')[0] AS k, split(p, '=')[1] AS v))")))

    // required_query_params ⊆ url params (`policy.ts:149-161`); a
    // missing param yields NULL → when() non-match, same as the
    // reference's strict containment.
    def paramOk(p: Profile): Column =
      p.requiredQueryParams.map { case (k, vs) =>
        array_contains(array(vs.map(lit): _*), col("s_params").getItem(k))
      }.foldLeft(lit(true))(_ && _)

    def profileMatch(p: Profile): Column =
      col("s_domain") === lit(p.domain) &&
        col("s_path").startsWith(lit(p.path)) && paramOk(p)

    val pType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("p_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("p_tier",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("p_stage",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("p_requires_review",
        org.apache.spark.sql.types.BooleanType)))
    // ordered coalesce-of-whens = Array.find over profiles in file order
    val pick = coalesce(policy.profiles.map(p =>
      when(profileMatch(p), struct(
        lit(p.id).as("p_id"), lit(p.tier).as("p_tier"),
        lit(p.stage).as("p_stage"),
        lit(p.requiresReview).as("p_requires_review")))) :+
      lit(null).cast(pType): _*)

    // tier fallback in rank order; within a tier any listed domain
    // substring matches (`policy.ts:163-170`)
    val tierPick = coalesce(Terms.TrustTiers
      .filter(policy.tierDomains.contains).map { tier =>
        val anyDomain = policy.tierDomains(tier)
          .map(d => col("s_domain").contains(lit(d)))
          .reduceOption(_ || _).getOrElse(lit(false))
        when(anyDomain, lit(tier))
      } :+ lit(null).cast("string"): _*)

    canon
      .withColumn("_p", pick)
      .withColumn("_t", tierPick)
      .withColumn("profile_id", col("_p.p_id"))
      .withColumn("trust_tier",
        coalesce(col("_p.p_tier"), col("_t"), lit("TIER_D_QUARANTINE")))
      .withColumn("monitoring_stage",
        coalesce(col("_p.p_stage"),
          when(col("_t").isNotNull, "Official"), lit("Drafting")))
      .withColumn("requires_review",
        coalesce(col("_p.p_requires_review"),
          when(col("_t").isNotNull, col("_t") =!= "TIER_A_BINDING"),
          lit(true)))
      .withColumn("route",
        when(col("trust_tier") === "TIER_A_BINDING" && !col("requires_review"),
          "main").otherwise("review_queue"))
      .withColumn("eval_reason",
        when(col("_p.p_id").isNotNull, lit(null).cast("string"))
          .when(col("_t").isNotNull, "domain_tier_match")
          .otherwise("unrecognized_domain"))
      .drop("_p", "_t", "s_path", "s_query", "s_params")
  }
}
