package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Warehouse
import graft.domain.{OntoFunctions, Schemas, Seeder}
import graft.jobs.{MergeJob, ReviewService, RunTracker, ScanJob}
import graft.pipeline.{HashEmbedder, Ids, RuleExtractor, RuleMerger}

/** The operator's path: back-to-back scan → merge → review runs into
  * one warehouse, at the reference's 0.7 confidence gate. Each op is
  * one whole run; its units are the source documents it committed. */
object Ingest {
  val Now: Timestamp = Timestamp.valueOf("2026-01-15 12:00:00")
  val Gate = 0.7
  /** Candidates per run: the smallest batch in which Gen's ten-row
    * pattern holds every kind of candidate once (TIER_A, TIER_B and
    * unknown domains, a duplicate, a stale, an undated and a re-crawled
    * URL), so one run carries work on all three routes. The reference
    * default is 5 (scan.ts:28); at either size the run's fixed costs
    * dominate. */
  val BatchSize = 10
  /** URLs already crawled before the measured runs (re-crawl targets). */
  val PriorCrawl = 30
  val SetupReps = 3

  /** Set-up: every domain table created and the ontology seeded. */
  def bootstrap(wh: Warehouse): Unit = {
    wh.createAll()
    Seeder.run(wh, Now)
  }

  /** A prior crawl that later scans re-crawl, committed in one append.
    * Returns its URLs. */
  def priorCrawl(spark: SparkSession, wh: Warehouse, seed: Long): IndexedSeq[String] = {
    val prior = Gen.batch(seed, -1, PriorCrawl, Now, Vector.empty, Gate)
    val docs = prior.df(spark).dropDuplicates("url")
      .filter(col("url").isin(prior.unique: _*))
      .select(
        Ids.deterministicUuid(concat(lit("doc:"), col("url"))).as("id"),
        col("url"),
        OntoFunctions.safeDomain(col("url")).as("domain"),
        col("title"), col("content"),
        lit(Timestamp.valueOf("2025-12-01 08:00:00")).as("retrieved_at"),
        OntoFunctions.contentHash(col("url"), col("title")).cast("string").as("hash"),
        lit(null).cast("string").as("meta"))
    wh.domainTable("source_documents").append(docs)
    prior.unique.toIndexedSeq
  }

  final case class Cycle(scan: ScanJob.Counters,
      approved: Option[(String, String)], rejected: Option[(String, String)],
      logged: Int, lastRun: Seq[String])

  def run(r: Run): Unit = {
    val spark = r.spark
    val wh = Warehouses.setUp(r, SetupReps)(bootstrap)
    r.phase("setups_done")
    val prior = priorCrawl(spark, wh, r.seed)
    val tracker = new RunTracker(wh)
    val review = new ReviewService(wh)
    val api = new graft.api.AnalyticsQueries(wh)
    val scanned = mutable.LinkedHashSet.empty[String]
    val committed = mutable.LinkedHashSet.empty[String]
    val decided = mutable.ArrayBuffer.empty[(String, String)]
    var accepted, discovered, routedToReview = 0L
    var cycles = 0
    val versions = new Versions(wh, r.tracer.enabled)

    r.passes(1) { i =>
      val batch = Gen.batch(r.seed, i, BatchSize, Now, prior, Gate)
      val candidates = batch.df(spark)
      val scanId = s"scan-${r.seed}-$i"
      val mergeId = s"merge-${r.seed}-$i"
      val marker = s"/doc/${r.seed}/$i/"
      val fresh = batch.unique.count(u => !committed.contains(u) && !prior.contains(u))
      val result = versions.around(r.op[Cycle]("run", "ingest.run", _ => fresh.toLong) {
        r.layer("jobs.tracker")(tracker.create(scanId, "scan", "EU", 30, Now))
        val sc = r.layer("jobs.scan")(ScanJob.run(wh, candidates,
          ScanJob.Params(scanId, "EU", 30, 1000, Gate, Now),
          RuleExtractor, new HashEmbedder(64)))
        // the operator's run monitor polls the scan's progress log
        val logged = r.layer("api.run_logs")(api.runLogs(scanId).collect().length)
        r.layer("jobs.tracker")(tracker.create(mergeId, "merge", "EU", 0, Now))
        r.layer("jobs.merge")(MergeJob.run(wh,
          MergeJob.Params(mergeId, "EU", Gate, Now), RuleMerger))
        // an analyst reads the queue, approves one item of this run
        // and rejects another
        val pending = r.layer("api.list_review_queue")(api.listReviewQueue()
          .filter(col("status") === "pending" && col("payload").contains(marker))
          .select("id").limit(2).collect().map(_.getString(0)))
        val approved = pending.headOption.map(id =>
          id -> r.layer("jobs.review")(review.approve(id, Now)))
        val rejected = pending.lift(1).map(id =>
          id -> r.layer("jobs.review")(review.reject(id, Now)))
        val last = r.layer("api.last_run")(api.lastRun().collect())
        Cycle(sc, approved, rejected, logged, last.map(_.getAs[String]("id")).toSeq)
      } { c =>
        val s = c.scan
        if (c.logged < 3) Some(s"scan run logged ${c.logged} progress lines")
        else if (c.lastRun.size != 1) Some(s"last run returned ${c.lastRun}")
        else if (s.discovered != batch.unique.size)
          Some(s"discovered ${s.discovered}, generator kept ${batch.unique.size}")
        else if (s.accepted + s.review != s.discovered)
          Some(s"accepted ${s.accepted} + review ${s.review} != ${s.discovered}")
        else if (s.vectorCount != s.discovered)
          Some(s"vectors ${s.vectorCount} != ${s.discovered}")
        else if (c.approved.exists(_._2 != "approved"))
          Some(s"approve returned ${c.approved}")
        else if (c.rejected.exists(_._2 != "rejected"))
          Some(s"reject returned ${c.rejected}")
        else if (s.discovered >= 3 && c.rejected.isEmpty)
          Some("scan queued fewer than two review items")
        else None
      })
      cycles += 1
      result.foreach { c =>
        scanned ++= batch.unique
        committed ++= batch.unique.filterNot(prior.contains)
        accepted += c.scan.accepted
        discovered += c.scan.discovered
        routedToReview += c.scan.review
        c.approved.foreach(a => decided += (a._1 -> "approved"))
        c.rejected.foreach(a => decided += (a._1 -> "rejected"))
      }
    }

    // ---- untimed output checks ------------------------------------
    def rows(t: String) = wh.domainTable(t).count()
    r.check("no job transaction left to recover")(wh.recoverJobTxns() == 0,
      "recoverJobTxns found a journal")
    val docs = rows("source_documents")
    r.check("source_documents = prior crawl + new URLs")(
      docs == prior.size + committed.size,
      s"$docs rows, expected ${prior.size} + ${committed.size}")
    val chunks = rows("vector_chunks")
    r.check("one vector chunk per scanned URL")(chunks == scanned.size,
      s"$chunks chunks for ${scanned.size} URLs")
    val runs = wh.domainTable("runs").read.groupBy("status").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    r.check("every run completed")(
      runs == Map("completed" -> 2L * cycles) || cycles == 0,
      s"run statuses $runs after $cycles cycles")
    val queue = wh.domainTable("review_queue").read
    val statuses = queue.filter(col("id").isin(decided.map(_._1).toSeq: _*))
      .select("id", "status").collect().map(x => x.getString(0) -> x.getString(1)).toMap
    r.check("review decisions read back")(
      decided.forall { case (id, s) => statuses.get(id).contains(s) },
      s"expected $decided, read $statuses")
    val routes = queue.select(
      count(when(col("payload").contains("TIER_B_OFFICIAL_SIGNAL"), 1)),
      count(when(col("payload").contains("TIER_D_QUARANTINE"), 1))).head()
    r.check("main, review and quarantine routes all carry work")(
      accepted > 0 && routes.getLong(0) > 0 && routes.getLong(1) > 0,
      s"main $accepted, review ${routes.getLong(0)}, quarantine ${routes.getLong(1)}")

    r.facts ++= Warehouses.facts(wh)
    r.facts("committed_docs") = committed.size
    r.facts("discovered") = discovered
    r.facts("accepted") = accepted
    r.facts("review_routed") = routedToReview
    r.facts("versions_per_op") = versions.perOp
  }
}

/** Sum of domain-table `currentVersion` deltas per op; read only in
  * traced runs, outside the op's timed region. */
final class Versions(wh: Warehouse, enabled: Boolean) {
  private val deltas = mutable.ArrayBuffer.empty[Long]
  private def total: Long = Schemas.tables.keys.toSeq
    .map(t => wh.domainTxTable(t).currentVersion).sum

  def around[A](body: => A): A =
    if (!enabled) body
    else {
      val v0 = total
      val r = body
      deltas += total - v0
      r
    }

  def perOp: Double =
    if (deltas.isEmpty) 0.0 else deltas.sum.toDouble / deltas.size
}

object Warehouses {
  /** Times `reps` set-ups, each into a fresh warehouse root, and keeps
    * the last warehouse. */
  def setUp(r: Run, reps: Int)(init: Warehouse => Unit): Warehouse = {
    val whs = (0 until reps).map { i =>
      val wh = new Warehouse(r.spark, s"${r.work}/warehouse-$i")
      r.setup(init(wh))
      wh
    }
    whs.init.foreach(w => Files.rmTree(new java.io.File(w.root)))
    whs.last
  }

  /** Row counts, live data files and bytes on disk of a warehouse. */
  def facts(wh: Warehouse): Map[String, Any] = {
    val names = Schemas.tables.keys.toSeq.sorted
    val tables = names.map(wh.domainTxTable)
    Map(
      "rows" -> names.zip(tables.map(_.count())).toMap,
      "data_files" -> tables.map(_.dataFileCount).sum,
      "bytes_on_disk" -> Files.sizeOf(new java.io.File(wh.root)),
      "source_documents" -> wh.domainTable("source_documents").count())
  }
}
