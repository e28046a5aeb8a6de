package graft.domain

import java.net.URI

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar column bundles for the ontology layer (SURVEY §2.8 F1–F19).
  * All are `Column` expressions (codegen'd) except URL canonicalization
  * and host extraction, which need java.net.URI fidelity → Scala UDFs
  * (upgrade path to a Catalyst `Expression` if they ever show in a
  * profile; they run once per ingested row, not in analytic hot paths).
  */
object OntoFunctions {

  /** F1 — canonicalize URL: strip `utm_*` query params; strip one
    * trailing slash when the path isn't "/" (ref
    * `src/ontology/policy.ts:77-97`); unparseable input passes through. */
  val canonicalizeUrlUdf = udf { (url: String) =>
    if (url == null) null
    else
      try {
        val u = new URI(url)
        val q = Option(u.getRawQuery)
          .map(_.split("&").filterNot(_.toLowerCase.startsWith("utm_")))
          .filter(_.nonEmpty).map(_.mkString("&")).orNull
        val path0 = Option(u.getPath).getOrElse("")
        val path =
          if (path0 != "/" && path0.endsWith("/")) path0.dropRight(1) else path0
        val sb = new StringBuilder
        sb.append(u.getScheme).append("://").append(u.getRawAuthority)
        sb.append(path)
        if (q != null) sb.append('?').append(q)
        if (u.getRawFragment != null) sb.append('#').append(u.getRawFragment)
        sb.toString
      } catch { case _: Exception => url }
  }

  def canonicalizeUrl(url: Column): Column = canonicalizeUrlUdf(url)

  /** F2 — hostname with leading `www.` stripped, "unknown" fallback
    * (ref `src/services/scan.ts:440-446`). */
  val safeDomainUdf = udf { (url: String) =>
    try {
      val h = new URI(url).getHost
      if (h == null) "unknown" else h.replaceFirst("^www\\.", "")
    } catch { case _: Exception => "unknown" }
  }

  def safeDomain(url: Column): Column = safeDomainUdf(url)

  /** Domain whitelist predicate (ref `validator.ts:17-24`): hostname
    * (www-stripped) contains any allowed domain. NOTE the reference
    * uses `replace("www.", "")` (first occurrence anywhere) — we keep
    * the saner leading-anchor strip; `contains` makes both equivalent
    * on the whitelist. */
  def isAllowedDomain(url: Column): Column = {
    val host = safeDomain(url)
    Terms.AllowedDomains.map(d => host.contains(d)).reduce(_ || _)
  }

  /** F3 — domain → source organization (21-branch contains-mapping,
    * ref `src/services/scan.ts:448-472`); broadcast-joinable dimension
    * shape: here as a when-chain over a small literal map. */
  val SourceOrgs: Seq[(String, String)] = Seq(
    "unece.org" -> "UNECE",
    "globalautoregs.com" -> "GlobalAutoRegs",
    "eur-lex.europa.eu" -> "EUR-Lex",
    "ec.europa.eu" -> "European Commission",
    "edpb.europa.eu" -> "EDPB",
    "gesetze-im-internet.de" -> "DE Federal Law",
    "legifrance.gouv.fr" -> "Légifrance",
    "legislation.gov.uk" -> "UK Legislation",
    "gov.uk" -> "UK Government",
    "kba.de" -> "KBA",
    "vda.de" -> "VDA",
    "cnil.fr" -> "CNIL",
    "bsi.bund.de" -> "BSI",
    "bfdi.bund.de" -> "BfDI",
    "enisa.europa.eu" -> "ENISA",
    "rdw.nl" -> "RDW",
    "vca.gov.uk" -> "VCA",
    "utac.com" -> "UTAC",
    "idiada.com" -> "IDIADA",
    "op.europa.eu" -> "EU Publications Office")

  def determineSourceOrg(url: Column): Column = {
    val host = safeDomain(url)
    SourceOrgs.foldRight(lit("Unknown"): Column) { case ((d, org), acc) =>
      when(host.contains(d), org).otherwise(acc)
    }
  }

  /** F4 — priority normalization: enum passthrough else keyword mapping
    * (ref `src/services/scan.ts:474-483`). */
  def normalizePriority(c: Column): Column = {
    val l = lower(coalesce(c, lit("")))
    when(c.isin(Terms.Priorities: _*), c)
      .otherwise(
        when(l.contains("urgent") || l.contains("critical"), "P0")
          .when(l.contains("high"), "P1")
          .when(l.contains("medium") || l.contains("low"), "P2")
          .otherwise("P2"))
  }

  /** F6 — clamp to [0,1] (ref `scan.ts:265-267`). */
  def clamp01(c: Column): Column =
    greatest(lit(0.0), least(lit(1.0), c.cast(DoubleType)))

  /** F7 — string truncation caps. */
  def truncate(c: Column, n: Int): Column = substring(c, 1, n)

  /** F19/D5 — content identity hash. The reference stores an opaque
    * 32-bit string hash (`scan.ts:485-492`); value itself is never
    * compared across systems, so we use the stronger xxhash64 for
    * partition-friendly 64-bit identity. */
  def contentHash(url: Column, title: Column): Column =
    xxhash64(concat_ws("|", url, coalesce(title, lit(""))))
}
