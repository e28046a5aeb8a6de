package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Seeded scan candidates for the ingest workload (the
  * analytics tables come from perfbench/gen.py). Every input depends
  * only on the seed and fixed sizes; the program under test receives
  * only the generated DataFrames. */
object Gen {

  private val Words = Seq("row", "the", "query", "stream", "key", "agg",
    "scan", "slow", "table", "part", "a", "merge", "window", "order",
    "column", "join", "vector", "fast", "spark", "line", "small",
    "customer", "group", "value", "hash", "batch", "sort", "data", "big",
    "filter")

  // ---- ingest: scan candidates ----------------------------------------

  private val TierA = Seq("eur-lex.europa.eu", "op.europa.eu", "unece.org",
    "gesetze-im-internet.de", "legifrance.gouv.fr", "legislation.gov.uk")
  private val TierB = Seq("kba.de", "utac.com", "rdw.nl", "vca.gov.uk",
    "idiada.com", "edpb.europa.eu", "cnil.fr", "enisa.europa.eu")
  private val Unknown = Seq("autonews.example.com", "mobility-blog.example.org",
    "carforum.example.net", "press.example.io")
  private val TopicPhrases = Seq("ai act", "gdpr", "data act", "cyber security",
    "software update", "type approval", "adas", "battery", "emissions",
    "charging", "automated driving", "unece wp29")

  val candidateSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("title", StringType),
    StructField("content", StringType),
    StructField("published_date", StringType),
    StructField("connector", StringType),
    StructField("connector_rank", IntegerType)))

  /** A scan batch plus what the scan must make of it: `unique` is the
    * canonical URLs that survive dedup and the recency window. */
  final case class Batch(rows: Seq[Row], unique: Seq[String]) {
    def df(spark: SparkSession): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), candidateSchema)
  }

  /** The confidence `RuleExtractor` gives a URL:
    * (xxhash64(url) mod 51) / 100 + 0.5, with Spark's own hash. */
  def confidence(url: String): Double = {
    val h = XxHash64Function.hash(UTF8String.fromString(url), StringType, 42L)
    (((h % 51) + 51) % 51) / 100.0 + 0.5
  }

  /** Candidate batch `index` of `size` rows: a third each TIER_A,
    * TIER_B and unknown domains; one row in ten an in-batch duplicate
    * URL, one in ten published outside the 30-day window, one in ten
    * with no date, and one in ten a re-crawl of `earlier` URLs. The
    * first TIER_A URL is chosen to clear `gate`, so every batch reaches
    * the main route whatever the seed. */
  def batch(seed: Long, index: Int, size: Int, now: Timestamp,
      earlier: IndexedSeq[String], gate: Double): Batch = {
    val rnd = new scala.util.Random(seed * 1000003L + index)
    val today = now.toLocalDateTime.toLocalDate
    val rows = mutable.ArrayBuffer.empty[Row]
    val unique = mutable.LinkedHashSet.empty[String]
    def content(): String = {
      val ws = Seq.fill(20 + rnd.nextInt(60))(Words(rnd.nextInt(Words.size)))
      val topics = Seq.fill(1 + rnd.nextInt(2))(TopicPhrases(rnd.nextInt(TopicPhrases.size)))
      val urgency = if (rnd.nextInt(6) == 0) Seq("urgent") else Nil
      (ws ++ topics ++ urgency).mkString(" ")
    }
    def date(daysAgo: Int): String = today.minusDays(daysAgo.toLong).toString
    var j = 0
    while (rows.size < size) {
      val kind = j % 10
      if (kind == 3 && rows.nonEmpty) {
        // in-batch duplicate: same URL, a lower-precedence connector
        val first = rows(rnd.nextInt(rows.size))
        rows += Row(first.getString(0), first.getString(1) + " (mirror)",
          first.getString(2), first.getString(3), "mirror", 5)
      } else if (kind == 7 && earlier.nonEmpty) {
        val url = earlier(rnd.nextInt(earlier.size))
        if (!unique.contains(url)) {
          rows += Row(url, s"Re-crawl $index-$j", content(), date(rnd.nextInt(20)),
            "eu_news", 0)
          unique += url
        }
      } else {
        val pool = (j % 3) match { case 0 => TierA case 1 => TierB case _ => Unknown }
        val base = s"https://${pool(rnd.nextInt(pool.size))}/doc/$seed/$index/$j"
        val url = if (j > 0) base
          else Iterator.from(0).map(k => s"$base-$k").find(confidence(_) >= gate).get
        val published =
          if (kind == 5) date(60 + rnd.nextInt(300))
          else if (kind == 9) null
          else date(rnd.nextInt(25))
        rows += Row(url, s"Notice $seed-$index-$j", content(), published,
          "eu_news", 0)
        if (kind != 5) unique += url
      }
      j += 1
    }
    Batch(rows.toSeq, unique.toSeq)
  }
}

object Files {
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  def sizeOf(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
    else f.length()
}
