package graft

import org.apache.spark.sql.functions._

import graft.domain.{OntoFunctions, Policy}

class PolicySpec extends SparkSpec {
  import spark.implicits._

  private def evalOne(url: String,
      policy: Policy.TrustPolicy = Policy.referencePolicy) =
    Policy.evaluateSource(Seq(url).toDF("url"), "url", policy)
      .select("canonical_url", "profile_id", "trust_tier",
        "monitoring_stage", "requires_review", "route", "eval_reason")
      .collect()(0)

  test("canonicalizeUrl strips utm_* params and trailing slash") {
    val got = Seq(
      "https://a.org/path/?utm_source=x&keep=1",
      "https://a.org/path/sub/",
      "https://a.org/",
      "not a url").toDF("url")
      .select(OntoFunctions.canonicalizeUrl(col("url")))
      .as[String].collect().toSeq
    assert(got === Seq(
      "https://a.org/path?keep=1",
      "https://a.org/path/sub",
      "https://a.org/",
      "not a url"))
  }

  test("profile match by domain + path prefix") {
    val r = evalOne("https://commission.europa.eu/news-and-media/news_en/article-1")
    assert(r.getString(1) === "ec_commission_news")
    assert(r.getString(2) === "TIER_B_OFFICIAL_SIGNAL")
    assert(r.getString(3) === "Drafting")
    assert(r.getString(5) === "review_queue")
    assert(r.getString(6) === null)
  }

  test("profile with required query params matches only when present") {
    val hit = evalOne("https://digital-strategy.ec.europa.eu/en/news?topic=119")
    assert(hit.getString(1) === "eu_digital_strategy_news")
    val miss = evalOne("https://digital-strategy.ec.europa.eu/en/news?topic=42")
    // falls through to the TIER_B domain fallback (ec.europa.eu contains-match)
    assert(miss.getString(1) === null)
    assert(miss.getString(2) === "TIER_B_OFFICIAL_SIGNAL")
    assert(miss.getString(6) === "domain_tier_match")
  }

  test("www is stripped before matching") {
    val r = evalOne("https://www.globalautoregs.com/documents?show=week")
    assert(r.getString(1) === "gar_wp29_weekly_docs")
  }

  test("tier fallback: TIER_A domain routes to main") {
    val r = evalOne("https://eur-lex.europa.eu/eli/reg/2024/1689")
    assert(r.getString(2) === "TIER_A_BINDING")
    assert(r.getString(3) === "Official")
    assert(!r.getBoolean(4))
    assert(r.getString(5) === "main")
    assert(r.getString(6) === "domain_tier_match")
  }

  test("unknown domain quarantines") {
    val r = evalOne("https://random.blog.example/post")
    assert(r.getString(2) === "TIER_D_QUARANTINE")
    assert(r.getString(3) === "Drafting")
    assert(r.getBoolean(4))
    assert(r.getString(5) === "review_queue")
    assert(r.getString(6) === "unrecognized_domain")
  }

  test("first profile in declaration order wins on overlap") {
    val policy = Policy.referencePolicy.copy(profiles =
      Policy.Profile("broad", "eu_news", "commission.europa.eu", "/",
        Map.empty, "TIER_C_SOFT_REQ", "Official") +:
        Policy.referencePolicy.profiles)
    val r = evalOne(
      "https://commission.europa.eu/news-and-media/news_en/a", policy)
    assert(r.getString(1) === "broad")
  }

  test("TIER_A profile without review requirement routes to main") {
    val policy = Policy.referencePolicy.copy(profiles = Seq(
      Policy.Profile("eurlex_all", "eu_news", "eur-lex.europa.eu", "/",
        Map.empty, "TIER_A_BINDING", "Official")))
    val r = evalOne("https://eur-lex.europa.eu/eli/reg/2024/1689", policy)
    assert(r.getString(1) === "eurlex_all")
    assert(r.getString(5) === "main")
  }

  test("plan: evaluateSource is map-only — no shuffle, no join") {
    import spark.implicits._
    val df = Seq(
      "https://eur-lex.europa.eu/eli/reg/2024/1689",
      "https://commission.europa.eu/news-and-media/news_en/a",
      "https://random.blog.example/post").toDF("url")
    val out = Policy.evaluateSource(df, "url")
    val s = out.queryExecution.executedPlan.toString
    assert(!s.contains("Exchange"), s)
    assert(!s.contains("Join"), s)
  }
}
