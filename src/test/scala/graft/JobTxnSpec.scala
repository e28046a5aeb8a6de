package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.CacheEntries
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{JobTxn, TxTable}

/** Multi-table job atomicity: success commits (journal gone, writes
  * kept), failure rolls every enlisted table back to its pre-job
  * version, a crash (journal left behind) is recovered at startup,
  * and rollback never disturbs a concurrent snapshot reader. */
class JobTxnSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(tag: String): TxTable =
    new TxTable(spark, tmpDir(s"jt-$tag") + "/t", StructType(Seq(
      StructField("k", StringType), StructField("v", LongType))),
      Seq("k"), numBuckets = 2)

  private def rows(t: TxTable): Set[(String, Long)] =
    t.read.as[(String, Long)].collect().toSet

  test("success: both tables keep their writes; journal is gone") {
    val (a, b) = (mkTable("sa"), mkTable("sb"))
    a.append(Seq(("a1", 1L)).toDF("k", "v"))
    val jdir = tmpDir("jt-journal-s")
    val out = JobTxn.run(spark, jdir, Seq("a" -> a, "b" -> b)) {
      a.append(Seq(("a2", 2L)).toDF("k", "v"))
      b.append(Seq(("b1", 10L)).toDF("k", "v"))
      42
    }
    assert(out === 42)
    assert(rows(a) === Set(("a1", 1L), ("a2", 2L)))
    assert(rows(b) === Set(("b1", 10L)))
    assert(spark.sparkContext.hadoopConfiguration != null)
    val f = new Path(jdir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.listStatus(new Path(jdir)).isEmpty, "journal must be deleted")
  }

  test("failure after partial multi-table writes rolls everything back") {
    val (a, b) = (mkTable("fa"), mkTable("fb"))
    a.append(Seq(("a1", 1L)).toDF("k", "v"))
    b.append(Seq(("b1", 1L)).toDF("k", "v"))
    val (va, vb) = (a.currentVersion, b.currentVersion)
    val jdir = tmpDir("jt-journal-f")
    val boom = intercept[RuntimeException] {
      JobTxn.run(spark, jdir, Seq("a" -> a, "b" -> b)) {
        a.upsert(Seq(("a1", 99L), ("a2", 2L)).toDF("k", "v"))
        b.deleteWhere(col("k") === "b1")
        sys.error("job blew up after writing both tables")
      }
    }
    assert(boom.getMessage.contains("blew up"))
    assert(rows(a) === Set(("a1", 1L)), "table a must roll back")
    assert(rows(b) === Set(("b1", 1L)), "table b must roll back")
    // restore is forward-only: rolled-back history is still travelable
    assert(a.currentVersion > va && b.currentVersion > vb)
    val f = new Path(jdir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.listStatus(new Path(jdir)).isEmpty, "journal must be cleaned")
  }

  test("a table created inside the job rolls back to empty") {
    val a = mkTable("ca")
    val jdir = tmpDir("jt-journal-c")
    intercept[RuntimeException] {
      JobTxn.run(spark, jdir, Seq("a" -> a)) {
        a.createIfAbsent()
        a.append(Seq(("x", 1L)).toDF("k", "v"))
        sys.error("fail")
      }
    }
    assert(a.count() === 0L)
  }

  test("crash recovery: a surviving journal rolls tables back at startup") {
    val (a, b) = (mkTable("ra"), mkTable("rb"))
    a.append(Seq(("a1", 1L)).toDF("k", "v"))
    b.append(Seq(("b1", 1L)).toDF("k", "v"))
    val jdir = tmpDir("jt-journal-r")
    // simulate a crash: journal published, job wrote, process died —
    // no rollback ran
    JobTxn.writeJournal(spark, new Path(jdir, "txn-dead.tsv"),
      Seq("a" -> a.currentVersion, "b" -> b.currentVersion))
    a.append(Seq(("a2", 2L)).toDF("k", "v"))
    b.truncate()
    val byName = Map("a" -> a, "b" -> b)
    val n = JobTxn.recover(spark, jdir, byName)
    assert(n === 1)
    assert(rows(a) === Set(("a1", 1L)))
    assert(rows(b) === Set(("b1", 1L)))
    // second recover is a no-op: journal consumed
    assert(JobTxn.recover(spark, jdir, byName) === 0)
  }

  test("a ScanJob failing AFTER documents landed leaves no partial state") {
    import graft.jobs.{RunTracker, ScanJob}
    import graft.pipeline.HashEmbedder
    val wh = new graft.core.Warehouse(spark, tmpDir("jt-pipe"))
    wh.createAll()
    new RunTracker(wh).create("run-x", "scan", "EU", 30, t0)
    val candidates = Seq(
      ("https://eur-lex.europa.eu/reg1", "Reg one content body", "Reg 1", 0, "2026-01-10"))
      .toDF("url", "content", "title", "connector_rank", "published_date")
    // extractor throws AT CALL TIME — i.e. after source_documents and
    // vector_chunks were already written by the persist phase
    object PoisonExtractor extends graft.pipeline.Extractor {
      def extract(docs: org.apache.spark.sql.DataFrame, jurisdiction: String,
          now: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
        sys.error("extractor exploded mid-job")
    }
    intercept[RuntimeException] {
      ScanJob.run(wh, candidates, ScanJob.Params("run-x", "EU", 30, 10, 0.5, t0),
        PoisonExtractor, new HashEmbedder(16))
    }
    assert(wh.domainTable("source_documents").read.count() === 0L,
      "documents written before the failure must roll back")
    assert(wh.domainTable("vector_chunks").read.count() === 0L)
    assert(wh.domainTable("regulation_items").read.count() === 0L)
    // the run row records the failure — it lives OUTSIDE the txn
    val run = wh.domainTable("runs").read
      .filter(col("id") === "run-x").select("status")
      .as[String].collect().toSeq
    assert(run === Seq("failed"))
  }

  test("a MergeJob failing during its overlapped writes rolls the whole job back") {
    import graft.core.Warehouse
    import graft.jobs.{MergeJob, RunTracker, ScanJob}
    import graft.pipeline.{HashEmbedder, MergeOutput, Merger, RuleExtractor, RuleMerger}
    // the radar raises at EXECUTION time, so the failure lands in the
    // requirements/links writes while the item upsert, the review
    // insert and the counters are in flight beside them
    object RadarBombMerger extends Merger {
      def merge(s: org.apache.spark.sql.SparkSession,
          items: org.apache.spark.sql.DataFrame, jurisdiction: String,
          now: org.apache.spark.sql.Column): MergeOutput = {
        val out = RuleMerger.merge(s, items, jurisdiction, now)
        out.copy(radarTable = out.radarTable.withColumn("owner",
          raise_error(lit("radar exploded")).cast(StringType)))
      }
    }
    def scanned(tag: String): Warehouse = {
      val wh = new Warehouse(spark, tmpDir(s"jt-merge-$tag"))
      wh.createAll()
      val tracker = new RunTracker(wh)
      tracker.create("scan-1", "scan", "EU", 30, t0)
      ScanJob.run(wh, Seq(
        ("https://eur-lex.europa.eu/eli/reg/2024/1689", "AI Act consolidated",
          "binding regulation on ai act and gdpr compliance, urgent cybersecurity rules",
          "2026-01-10", 0),
        ("https://unece.org/undated-doc", "Undated UNECE doc",
          "automated driving un r157", null, 0))
        .toDF("url", "title", "content", "published_date", "connector_rank"),
        ScanJob.Params("scan-1", "EU", 30, 10, 0.5, t0),
        RuleExtractor, new HashEmbedder(16))
      tracker.create("merge-1", "merge", "EU", 0, t0)
      wh
    }
    def contents(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val mergeParams = MergeJob.Params("merge-1", "EU", 0.5, t0)

    val clean = MergeJob.run(scanned("clean"), mergeParams, RuleMerger)
    assert(clean.radar >= 1, "the radar must have rows for the bomb to fire")

    val wh = scanned("bomb")
    val tables = MergeJob.persistTables.map(n => n -> wh.domainTable(n))
    val preJob = tables.map { case (n, t) => n -> t.currentVersion }.toMap
    val cachedBefore = CacheEntries(spark)
    val e = intercept[Exception] {
      MergeJob.run(wh, mergeParams, RadarBombMerger)
    }
    assert(causeMessages(e).contains("radar exploded"))
    tables.foreach { case (n, t) =>
      assert(contents(t.read) === contents(t.readVersion(preJob(n))),
        s"$n must be back at its pre-job version ${preJob(n)}")
    }
    assert(CacheEntries(spark) === cachedBefore,
      "a failed merge must release its radar cache")
    val run = wh.domainTable("runs").read
      .filter(col("id") === "merge-1").select("status").as[String].collect()
    assert(run.toSeq === Seq("failed"))
    // no sibling left a claim marker or a stage directory behind
    tables.foreach { case (n, _) =>
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(wh.root, n))
      val leftovers = try stream.iterator().asScala.map(_.getFileName.toString)
        .filter(f => f.endsWith(".claim") || f.startsWith(".stage-")).toList
      finally stream.close()
      assert(leftovers.isEmpty, s"$n: $leftovers")
    }
    // the rolled-back warehouse reruns to exactly the clean outcome
    assert(MergeJob.run(wh, mergeParams, RuleMerger) === clean)
  }

  test("rollback never disturbs a concurrent snapshot reader") {
    val a = mkTable("sr")
    a.append((1 to 20).map(i => (s"k$i", i.toLong)).toDF("k", "v"))
    val jdir = tmpDir("jt-journal-sr")
    var pinned: org.apache.spark.sql.DataFrame = null
    intercept[RuntimeException] {
      JobTxn.run(spark, jdir, Seq("a" -> a)) {
        a.deleteWhere(col("v") > 10)
        // a concurrent reader pins a plan at the (about-to-abort) state
        pinned = a.read
        sys.error("fail")
      }
    }
    // the table itself rolled back...
    assert(rows(a).size === 20)
    // ...but the pinned aborted-state plan still executes: restore is
    // forward-only and never deletes the files a snapshot references
    assert(pinned.count() === 10L)
  }
}
