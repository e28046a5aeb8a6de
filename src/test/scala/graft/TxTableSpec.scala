package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.TxTable

class TxTableSpec extends SparkSpec {
  import spark.implicits._

  private def tkv(n: Int = 4): TxTable =
    new TxTable(spark, tmpDir("tx") + "/kv", StructType(Seq(
      StructField("k", StringType), StructField("v", IntegerType))),
      Seq("k"), numBuckets = n)

  /** data-file name set of the table (excluding local-FS .crc shadows). */
  private def dataFiles(t: TxTable): Set[String] =
    new java.io.File(t.dir + "/data").listFiles() match {
      case null => Set.empty
      case fs => fs.map(_.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSet
    }

  test("create, append, read round-trip; version advances per commit") {
    val t = tkv(); t.createIfAbsent()
    assert(t.currentVersion === 0)
    assert(t.read.count() === 0)
    t.append(Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    assert(t.currentVersion === 1)
    assert(t.read.orderBy("k").as[(String, Int)].collect().toSeq ===
      Seq(("a", 1), ("b", 2)))
  }

  test("upsert merges by key, is idempotent, and only rewrites touched buckets") {
    val t = tkv()
    t.append((1 to 200).map(i => (s"k$i", i)).toDF("k", "v"))
    val before = dataFiles(t)
    val updates = Seq(("k17", -17), ("new1", 1000)).toDF("k", "v")
    t.upsert(updates)
    t.upsert(updates)
    val got = t.read.as[(String, Int)].collect().toMap
    assert(got.size === 201 && got("k17") === -17 && got("new1") === 1000)
    // untouched buckets' data files survive in place (still referenced)
    val after = dataFiles(t)
    assert(before.intersect(after).nonEmpty, "untouched files must be re-linked")
    assert(before.size === 4) // one file per bucket from the first commit
  }

  test("time travel: every version stays readable until vacuum") {
    val t = tkv()
    t.append(Seq(("a", 1)).toDF("k", "v"))          // v1
    t.upsert(Seq(("a", 2)).toDF("k", "v"))          // v2
    t.deleteWhere(col("k") === "a")                 // v3
    assert(t.versions === Seq(0L, 1L, 2L, 3L))
    assert(t.readVersion(1).as[(String, Int)].collect().toSeq === Seq(("a", 1)))
    assert(t.readVersion(2).as[(String, Int)].collect().toSeq === Seq(("a", 2)))
    assert(t.readVersion(3).count() === 0)
  }

  test("snapshot isolation: a DataFrame read before an upsert still evaluates against its snapshot") {
    val t = tkv()
    t.append((1 to 50).map(i => (s"k$i", i)).toDF("k", "v"))
    val snapshot = t.read.filter(col("v") <= 10) // NOT materialized
    t.upsert((1 to 50).map(i => (s"k$i", -i)).toDF("k", "v"))
    // lazy evaluation AFTER the commit: old files still on disk
    assert(snapshot.as[(String, Int)].collect().map(_._2).sorted.toSeq ===
      (1 to 10).toSeq)
    assert(t.read.as[(String, Int)].collect().forall(_._2 < 0))
  }

  test("upsert whose input derives from the table itself is safe without caching") {
    val t = tkv()
    t.append((1 to 30).map(i => (s"k$i", i)).toDF("k", "v"))
    // classic merge-job shape: read, transform, upsert back, then reuse
    val doubled = t.read.withColumn("v", col("v") * 2)
    t.upsert(doubled)
    // reusing the SAME derived frame after the commit re-reads the old
    // snapshot's files (not the new state) — deterministic, no error
    assert(doubled.agg(sum("v")).as[Long].head() === 2L * (1 to 30).sum)
    assert(t.read.agg(sum("v")).as[Long].head() === 2L * (1 to 30).sum)
  }

  test("deleteWhere rewrites only matching buckets; no-match touches nothing") {
    val t = tkv()
    t.append((1 to 100).map(i => (s"k$i", i)).toDF("k", "v"))
    val v = t.currentVersion
    t.deleteWhere(col("k") === "absent")
    assert(t.currentVersion === v) // early-out: no commit at all
    t.deleteWhere(col("k") === "k42")
    assert(t.read.count() === 99)
    assert(t.readVersion(v).count() === 100)
  }

  test("NULL key components match null-safely across upsert/insertIfAbsent/CDC/applyChanges") {
    val t = tkv(2)
    t.append(Seq((null: String, 1), ("a", 2)).toDF("k", "v"))
    // upsert of the NULL key REPLACES the stored row — a plain `=`
    // anti-join would miss it and duplicate the key every write
    t.upsert(Seq((null: String, 10)).toDF("k", "v"))
    assert(t.read.count() === 2)
    assert(t.read.filter(col("k").isNull).select("v").as[Int].head() === 10)
    // insertIfAbsent sees the stored NULL key as present
    t.insertIfAbsent(Seq((null: String, 99), ("b", 3)).toDF("k", "v"))
    assert(t.read.count() === 3)
    assert(t.read.filter(col("k").isNull).select("v").as[Int].head() === 10)
    // CDC pairs the NULL-keyed pre/post rows: one update, no
    // spurious delete+insert
    val ch = t.changes(1L, 2L).filter(col("k").isNull)
      .select("_change_type").as[String].collect().sorted.toSeq
    assert(ch === Seq("update_postimage", "update_preimage"))
    // applyChanges deletes a NULL key
    t.applyChanges(Seq.empty[(String, Int)].toDF("k", "v"),
      Seq(Tuple1(null: String)).toDF("k"))
    assert(t.read.filter(col("k").isNull).count() === 0)
    assert(t.read.count() === 2)
  }

  test("a manifest dir without any manifest reads as the empty table, not a crash") {
    // simulates a writer killed between mkdirs(_manifests) and the
    // first manifest publish
    val dir = tmpDir("txe") + "/kv"
    new java.io.File(dir + "/_manifests").mkdirs()
    val t = new TxTable(spark, dir, StructType(Seq(
      StructField("k", StringType), StructField("v", IntegerType))),
      Seq("k"), numBuckets = 2)
    assert(t.exists) // the dir is there...
    assert(t.currentVersion === -1L) // ...but no version committed
    assert(t.count() === 0L)
    assert(t.read.count() === 0L)
    assert(t.scanWhere(col("v") > 0).count() === 0L)
    assert(t.skipReport(col("v") > 0) === t.SkipReport(0, 0))
    assert(t.lookup(Seq("a")).count() === 0L)
    assert(t.currentSchema === t.schema)
    assert(t.changeFeed(-1L).count() === 0L)
    t.append(Seq(("a", 1)).toDF("k", "v")) // and it recovers normally
    assert(t.count() === 1L)
  }

  test("lookup is null-safe and coerces mistyped key values like the filter path") {
    val t = new TxTable(spark, tmpDir("txl") + "/kv", StructType(Seq(
      StructField("k", StringType), StructField("v", LongType))),
      Seq("k"), numBuckets = 4)
    t.append(Seq((null: String, 7L), ("a", 1L)).toDF("k", "v"))
    import spark.implicits._
    // NULL key is findable (=== would silently return empty)
    assert(t.lookup(Seq(null)).select("v").as[Long].collect().toSeq === Seq(7L))
    val t2 = new TxTable(spark, tmpDir("txl2") + "/kv", StructType(Seq(
      StructField("id", LongType), StructField("v", IntegerType))),
      Seq("id"), numBuckets = 4)
    t2.append(Seq((42L, 1)).toDF("id", "v"))
    // a scala Int against the LongType key coerces instead of throwing
    assert(t2.lookup(Seq(42)).count() === 1L)
    assert(t2.lookup(Seq(42L)).count() === 1L)
  }

  test("reserved internal column names are rejected at construction") {
    for (bad <- graft.core.TxTable.ReservedCols) {
      val e = intercept[IllegalArgumentException] {
        new TxTable(spark, tmpDir("txr") + "/kv", StructType(Seq(
          StructField("k", StringType), StructField(bad, IntegerType))),
          Seq("k"))
      }
      assert(e.getMessage.contains("reserved"), s"$bad: ${e.getMessage}")
    }
  }

  test("compactZOrdered handles DateType columns (epoch view, order-preserving)") {
    val t = new TxTable(spark, tmpDir("txd") + "/kv", StructType(Seq(
      StructField("k", StringType), StructField("d", DateType),
      StructField("x", IntegerType))), Seq("k"), numBuckets = 1)
    val rows = scala.util.Random.shuffle((1 to 200).toList).map(i =>
      (s"k$i", java.sql.Date.valueOf(f"2026-${1 + i % 12}%02d-${1 + i % 28}%02d"), i))
    t.append(rows.toDF("k", "d", "x"))
    t.compactZOrdered(Seq("d", "x"), filesPerBucket = 8, bitsPerCol = 5)
    assert(t.read.count() === 200)
    // pruning works on the date dimension after clustering
    val band = col("d") < lit(java.sql.Date.valueOf("2026-03-01"))
    assert(t.scanWhere(band).count() === t.read.filter(band).count())
    assert(t.skipReport(band).scanned < t.dataFileCount)
  }

  test("schema evolution matches column names case-insensitively like Spark's resolver") {
    val t = new TxTable(spark, tmpDir("txc") + "/kv", StructType(Seq(
      StructField("k", StringType), StructField("v", IntegerType))),
      Seq("k"), numBuckets = 1)
    t.append(Seq(("a", 1)).toDF("k", "v"))
    // 'V' is the SAME column as 'v' — not a duplicate-creating new one
    t.appendEvolving(Seq(("b", 2)).toDF("k", "V"))
    assert(t.currentSchema.fieldNames.toSeq === Seq("k", "v"))
    import spark.implicits._
    assert(t.read.orderBy("k").as[(String, Int)].collect().toSeq ===
      Seq(("a", 1), ("b", 2)))
    // and a case-variant TYPE change is still rejected
    val e = intercept[IllegalArgumentException] {
      t.appendEvolving(Seq(("c", "nope")).toDF("k", "V"))
    }
    assert(e.getMessage.contains("cannot change column"))
  }

  test("insertIfAbsent skips existing keys") {
    val t = tkv()
    t.append(Seq(("a", 1)).toDF("k", "v"))
    t.insertIfAbsent(Seq(("a", 99), ("b", 2)).toDF("k", "v"))
    assert(t.read.orderBy("k").as[(String, Int)].collect().toSeq ===
      Seq(("a", 1), ("b", 2)))
  }

  test("compact merges small files per bucket; vacuum drops unreferenced files and old versions") {
    val t = tkv(2)
    (1 to 6).foreach(i => t.append(Seq((s"k$i", i)).toDF("k", "v")))
    assert(dataFiles(t).size >= 6)
    t.compact()
    val compacted = t.read.as[(String, Int)].collect().toMap
    assert(compacted === (1 to 6).map(i => (s"k$i", i)).toMap)
    t.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(dataFiles(t).size <= 2) // ≤ one file per bucket
    assert(t.versions.length === 1)
    assert(t.read.as[(String, Int)].collect().toMap === compacted)
  }

  test("vacuum retention guard: an open snapshot plan survives vacuum inside the window, fails loudly outside") {
    val t = tkv(2)
    t.append((1 to 20).map(i => (s"k$i", i)).toDF("k", "v")) // v1
    val openPlan = t.read.filter(col("v") > 0)               // pins v1's files
    t.upsert((1 to 20).map(i => (s"k$i", -i)).toDF("k", "v")) // v2
    t.compact()                                               // v3
    // inside the retention window: nothing young is deleted, the open
    // plan still evaluates against its snapshot
    t.vacuum(keepVersions = 1, minAgeMs = 60 * 60 * 1000L)
    assert(openPlan.count() === 20)
    assert(t.versions.length === 4) // manifests also respect the window
    // outside the window (minAge 0): old files go; the open plan now
    // fails LOUDLY (FileNotFound), never returns silently wrong data
    t.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(t.versions.length === 1)
    intercept[Exception] { openPlan.count() }
    assert(t.read.count() === 20) // current version intact
  }

  test("vacuum never deletes live data regardless of how dir was spelled (basename matching)") {
    // file:/// scheme + trailing-dot path segment: full-path string
    // comparison between manifest paths and listed paths would match
    // nothing and delete the CURRENT version's files
    val t = new TxTable(spark, "file://" + tmpDir("txuri") + "/./kv",
      StructType(Seq(
        StructField("k", StringType), StructField("v", IntegerType))),
      Seq("k"), numBuckets = 2)
    t.append(Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    t.compact()
    t.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(t.read.orderBy("k").as[(String, Int)].collect().toSeq ===
      Seq(("a", 1), ("b", 2)))
  }

  test("vacuum carries otherwise-lost commit meta forward (watermark keys survive retention)") {
    val t = tkv()
    t.append(Seq(("a", 1)).toDF("k", "v"))
    assert(t.appendIf(Seq(("b", 2)).toDF("k", "v"),
      Map("stream_batch:q" -> "7"))(_ => true))
    t.compact() // newest retained commit carries no watermark key
    t.append(Seq(("c", 3)).toDF("k", "v"))
    val rows = t.read.count()
    t.vacuum(keepVersions = 1, minAgeMs = 0L)
    // the carry commit re-published the dropped key atop unchanged data
    assert(t.latestMeta("stream_batch:q") === Some("7"))
    assert(t.read.count() === rows)
    // so a replayed guarded append (checkpoint lost) correctly no-ops
    val replayed = t.appendIf(Seq(("b", 2)).toDF("k", "v"),
      Map("stream_batch:q" -> "7"))(
      s => !s.meta("stream_batch:q").map(_.toLong).exists(_ >= 7L))
    assert(!replayed)
    assert(t.read.count() === rows)
    // idempotent: once carried the key is retained — no carry pile-up
    val v = t.currentVersion
    t.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(t.currentVersion === v)
    assert(t.latestMeta("stream_batch:q") === Some("7"))
  }

  test("dropMeta tombstones a watermark: reads absent, carry-forward ends") {
    val t = tkv()
    t.append(Seq(("a", 1)).toDF("k", "v"))
    assert(t.appendIf(Seq(("b", 2)).toDF("k", "v"),
      Map("view_wm:dead" -> "3", "view_wm:live" -> "5"))(_ => true))
    // retire one consumer's key; the other must be untouched
    t.dropMeta(Seq("view_wm:dead"))
    assert(t.latestMeta("view_wm:dead") === None)
    assert(t.latestMeta("view_wm:live") === Some("5"))
    val rows = t.read.count()
    // the tombstone is always newer than every value it shadows, and
    // vacuum drops a contiguous version prefix — so when it ages out,
    // the old "3" aged out with it: the carry must DROP the key (not
    // resurrect), while the live key is carried as before
    t.append(Seq(("c", 3)).toDF("k", "v"))
    t.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(t.latestMeta("view_wm:dead") === None)
    assert(t.latestMeta("view_wm:live") === Some("5"))
    // no value for the dead key survives in ANY retained manifest —
    // the lifecycle ended instead of re-folding forever
    val all = t.versions.flatMap(t.commitMeta(_).get("view_wm:dead"))
    assert(all.isEmpty)
    // ...and it STAYS ended across further cycles
    t.append(Seq(("d", 4)).toDF("k", "v"))
    t.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(t.latestMeta("view_wm:dead") === None)
    assert(t.latestMeta("view_wm:live") === Some("5"))
    assert(t.read.count() === rows + 2)
  }

  test("guarded append: two racers with the same watermark — exactly one commits") {
    // the appendIf CAS shape a streaming replay exercises: both racers
    // read the same applied watermark, both stage, one wins the claim;
    // the loser must re-check against the NEW base and abandon (the
    // TOCTOU variant — precondition checked before the base read —
    // let the loser land a clean duplicate at base + 1)
    val t = tkv()
    t.append(Seq(("seed", 0)).toDF("k", "v"))
    val batch = Seq(("b1", 1), ("b2", 2)).toDF("k", "v")
    def guardedAppend(): Boolean =
      t.appendIf(batch, Map("stream_batch:q" -> "1"))(
        s => !s.meta("stream_batch:q").map(_.toLong).exists(_ >= 1L))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (1 to 5).foreach { _ => // race window is narrow — repeat
        val futs = (1 to 2).map(_ =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = guardedAppend()
          }))
        assert(futs.count(_.get()) <= 1)
      }
    } finally pool.shutdown()
    assert(t.read.count() === 3, "the batch must apply exactly once")
  }

  test("two concurrent writers: no lost updates, conflict path exercised") {
    val dir = tmpDir("txcc") + "/kv"
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", IntegerType)))
    // two INDEPENDENT instances on the same directory (two workers),
    // writing disjoint keys into the SAME buckets so every pair of
    // interleaved commits is a genuine write-write race
    val w1 = new TxTable(spark, dir, schema, Seq("k"), numBuckets = 2)
    val w2 = new TxTable(spark, dir, schema, Seq("k"), numBuckets = 2)
    w1.createIfAbsent()
    val rounds = 6
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def writerThread(t: TxTable, tag: String): Thread = {
      val th = new Thread(() => {
        (1 to rounds).foreach { i =>
          barrier.await() // line both writers up per round to force races
          t.upsert(Seq((s"$tag$i", i)).toDF("k", "v"))
        }
      })
      th.start(); th
    }
    val (t1, t2) = (writerThread(w1, "a"), writerThread(w2, "b"))
    t1.join(120000); t2.join(120000)
    val got = w1.read.as[(String, Int)].collect().toMap
    val want = ((1 to rounds).map(i => s"a$i" -> i) ++
      (1 to rounds).map(i => s"b$i" -> i)).toMap
    assert(got === want, "every commit from both writers must survive")
    // commits serialized: one version per successful upsert (+ create).
    // No conflict-count assertion here — the driver can serialize the
    // two upserts in any round, so "conflicts > 0" would flake; the
    // conflict path is proven deterministically by the pre-placed
    // claim tests below.
    assert(w1.currentVersion === 2L * rounds)
    // claims are transient lock markers: none survive a commit
    val claims = new java.io.File(dir, "_manifests").listFiles()
      .filter(_.getName.endsWith(".claim"))
    assert(claims.isEmpty, s"leftover claims: ${claims.mkString(",")}")
  }

  test("a writer that cannot win the claim gives up loudly after its time budget") {
    val t = new TxTable(spark, tmpDir("txclaim") + "/kv",
      StructType(Seq(
        StructField("k", StringType), StructField("v", IntegerType))),
      Seq("k"), numBuckets = 2, commitBudgetMs = 400)
    t.append(Seq(("a", 1)).toDF("k", "v")) // v0 + v1
    // an in-flight writer's FRESH claim for v2 (not stale, so recovery
    // must NOT steal it): retries re-read base (still 1), re-target
    // v2, and keep losing until the time budget runs out
    val claim = new java.io.File(t.dir + "/_manifests", "v%020d.claim".format(2))
    assert(claim.createNewFile())
    intercept[graft.core.TxTable.CommitConflict] {
      t.append(Seq(("b", 2)).toDF("k", "v"))
    }
    assert(t.commitConflicts >= 2) // one per attempt within the budget
    assert(t.read.count() === 1)   // table state untouched
    // and the failed mutation left NOTHING in data/: staging happens
    // outside data/, so vacuum can never see uncommitted files there
    val referenced = t.read.inputFiles.map(f => new java.io.File(
      new java.net.URI(f).getPath).getName).toSet
    val inData = new java.io.File(t.dir, "data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(inData === referenced,
      s"unreferenced uncommitted files in data/: ${inData -- referenced}")
    // stage dirs of the failed attempt are cleaned on exit
    assert(!new java.io.File(t.dir).listFiles()
      .exists(_.getName.startsWith(".stage-")))
  }

  test("a stale orphan claim from a crashed writer self-heals") {
    val t = new TxTable(spark, tmpDir("txheal") + "/kv",
      StructType(Seq(
        StructField("k", StringType), StructField("v", IntegerType))),
      Seq("k"), numBuckets = 2, claimStalenessMs = 500)
    t.append(Seq(("a", 1)).toDF("k", "v")) // v0 + v1
    // a writer died after claiming v2 and before writing its manifest
    val claim = new java.io.File(t.dir + "/_manifests", "v%020d.claim".format(2))
    assert(claim.createNewFile())
    assert(claim.setLastModified(System.currentTimeMillis() - 60000))
    // the next writer sweeps the orphan and commits v2 — no wedge
    t.append(Seq(("b", 2)).toDF("k", "v"))
    assert(t.currentVersion === 2)
    assert(t.read.orderBy("k").as[(String, Int)].collect().toSeq ===
      Seq(("a", 1), ("b", 2)))
    assert(!claim.exists())
  }

  test("lookup plans only the key bucket's files (manifest pruning)") {
    val t = tkv(4)
    t.append((1 to 100).map(i => (s"k$i", i)).toDF("k", "v"))
    assert(dataFiles(t).size === 4) // one file per bucket
    val q = t.lookup(Seq("k33"))
    assert(q.as[(String, Int)].collect().toSeq === Seq(("k33", 33)))
    val filesPlanned = q.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length
    }.sum
    assert(filesPlanned === 1, s"planned $filesPlanned files, expected 1")
    assert(t.lookup(Seq("nope")).count() === 0)
  }

  test("foreign next-version manifest is adopted as the new base, never clobbered") {
    val t = tkv()
    t.append(Seq(("a", 1)).toDF("k", "v")) // v0 (create) + v1
    // simulate another writer having committed v2 (content = v1's)
    val mdir = t.dir + "/_manifests"
    val v1Text = scala.io.Source.fromFile(
      new java.io.File(mdir, "v%020d.tsv".format(1))).mkString
    val foreign = new java.io.File(mdir, "v%020d.tsv".format(2))
    val w = new java.io.FileWriter(foreign); w.write(v1Text); w.close()
    // this writer reads base = 2 (the foreign commit) and builds on it
    t.append(Seq(("b", 2)).toDF("k", "v"))
    assert(t.currentVersion === 3)
    assert(t.read.orderBy("k").as[(String, Int)].collect().toSeq ===
      Seq(("a", 1), ("b", 2)))
    // the foreign manifest is untouched in the log
    assert(scala.io.Source.fromFile(foreign).mkString === v1Text)
  }

  /** Spark jobs started while `body` runs (listener bus drained on
    * both sides, so earlier jobs' events never count). */
  private def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  private def kvRows(t: TxTable): Map[String, Int] =
    t.read.as[(String, Int)].collect().toMap

  test("updateKey changes only the keyed row in one job; other buckets' files keep their paths") {
    val t = tkv()
    t.append((1 to 200).map(i => (s"k$i", i)).toDF("k", "v"))
    t.updateKey(Seq("k1"), Map("v" -> lit(0))) // warm the write path
    def live = t.currentFileInfo.map(_.path).toSet
    val before = live
    val rowsBefore = kvRows(t)
    val jobs = jobsDuring(t.updateKey(Seq("k17"), Map("v" -> lit(-17))))
    assert(jobs === 1, "a warm one-row flip is one Spark job")
    assert(kvRows(t) === rowsBefore.updated("k17", -17))
    // one file was rewritten; the other three buckets' files re-link
    val after = live
    assert((before -- after).size === 1 && (after -- before).size === 1)
  }

  test("updateKey of a key no file can hold starts no job and commits no version") {
    val t = tkv()
    t.append((1 to 200).map(i => (s"k$i", i)).toDF("k", "v"))
    val v = t.currentVersion
    // above every file's key range: the zone maps rule it out
    val jobs = jobsDuring(t.updateKey(Seq("zzz"), Map("v" -> lit(1))))
    assert(jobs === 0)
    assert(t.currentVersion === v)
    // an empty table is a no-op too
    val empty = tkv()
    empty.updateKey(Seq("a"), Map("v" -> lit(1)))
    assert(empty.currentVersion === -1L)
  }

  test("updateKey keeps a deletion vector's tombstoned rows deleted") {
    val t = tkv(n = 1)
    t.append((1 to 50).map(i => (s"k$i", i)).toDF("k", "v"))
    t.deleteWhereLight(col("k") === "k5")
    t.updateKey(Seq("k7"), Map("v" -> lit(700)))
    val got = kvRows(t)
    assert(got.size === 49 && !got.contains("k5") && got("k7") === 700)
    assert(t.count() === 49L)
  }

  test("updateKey sets a renamed column, keyed by a renamed key, by their logical names") {
    val t = tkv()
    t.append((1 to 40).map(i => (s"k$i", i)).toDF("k", "v"))
    t.renameColumn("v", "val")
    t.renameColumn("k", "id")
    t.updateKey(Seq("k3"), Map("val" -> lit(33)))
    val got = t.read.select("id", "val").as[(String, Int)].collect().toMap
    assert(got.size === 40 && got("k3") === 33 && got("k4") === 4)
  }

  test("updateKey refuses a key column or an unknown column") {
    val t = tkv()
    t.append(Seq(("a", 1)).toDF("k", "v"))
    val v = t.currentVersion
    intercept[IllegalArgumentException](
      t.updateKey(Seq("a"), Map("k" -> lit("b"))))
    intercept[IllegalArgumentException](
      t.updateKey(Seq("a"), Map("nope" -> lit(1))))
    assert(t.currentVersion === v && kvRows(t) === Map("a" -> 1))
  }

  test("updateKey violating a CHECK constraint leaves the table unchanged") {
    val t = tkv()
    t.append((1 to 20).map(i => (s"k$i", i)).toDF("k", "v"))
    t.addCheckConstraint("v_pos", "v > 0")
    val v = t.currentVersion
    val e = intercept[IllegalArgumentException](
      t.updateKey(Seq("k2"), Map("v" -> lit(-1))))
    assert(e.getMessage.contains("v_pos"))
    assert(t.currentVersion === v)
    assert(kvRows(t) === (1 to 20).map(i => s"k$i" -> i).toMap)
  }

  test("updateKey recomputes generated columns over a set column for the matched row only") {
    def gen(sql: String) = new MetadataBuilder()
      .putString(TxTable.GeneratedExprKey, sql).build()
    val t = new TxTable(spark, tmpDir("txgen") + "/g", StructType(Seq(
      StructField("k", StringType), StructField("ts", TimestampType),
      StructField("v", IntegerType),
      StructField("yr", IntegerType, nullable = true, gen("year(ts)")),
      StructField("dbl", IntegerType, nullable = true, gen("v * 2")))),
      Seq("k"), numBuckets = 1)
    val ts = java.sql.Timestamp.valueOf("1995-12-31 23:30:00") // UTC
    t.append(Seq(("a", ts, 1), ("b", ts, 2)).toDF("k", "ts", "v"))
    def rows = t.read.select("k", "yr", "dbl").as[(String, Int, Int)]
      .collect().sortBy(_._1).toSeq
    assert(rows === Seq(("a", 1995, 2), ("b", 1995, 4)))
    // year(ts) is session-zone dependent: under +09:00 the same instant
    // falls in 1996, so a recompute is visible
    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try {
      t.updateKey(Seq("a"), Map("v" -> lit(10)))
      // dbl depends on v: recomputed for a; yr does not: kept
      assert(rows === Seq(("a", 1995, 20), ("b", 1995, 4)))
      t.updateKey(Seq("a"), Map("ts" -> lit(ts)))
      // yr depends on ts: recomputed for a only; b keeps its stored 1995
      assert(rows === Seq(("a", 1996, 20), ("b", 1995, 4)))
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
    intercept[IllegalArgumentException](
      t.updateKey(Seq("a"), Map("dbl" -> lit(0))))
  }

  test("updateKey from two threads on different keys of one bucket: both land") {
    val t = tkv(n = 1)
    t.append((1 to 30).map(i => (s"k$i", i)).toDF("k", "v"))
    val v = t.currentVersion
    val ths = Seq("k3" -> 300, "k9" -> 900).map { case (k, x) =>
      new Thread(() => t.updateKey(Seq(k), Map("v" -> lit(x))))
    }
    ths.foreach(_.start()); ths.foreach(_.join())
    assert(t.currentVersion === v + 2)
    assert(kvRows(t) === (1 to 30).map(i => s"k$i" -> i).toMap
      .updated("k3", 300).updated("k9", 900))
  }

  test("updateKey ends in the state upsert(lookup(k).withColumn(...)) reaches") {
    val rows = (1 to 300).map(i => (s"k$i", i)).toDF("k", "v")
    val a = tkv(n = 16); a.append(rows)
    val b = tkv(n = 16); b.append(rows)
    Seq("k1", "k150", "k299", "absent").foreach { k =>
      a.updateKey(Seq(k), Map("v" -> (col("v") * 10 + 1)))
      b.upsert(b.lookup(Seq(k)).withColumn("v", col("v") * 10 + 1))
    }
    assert(kvRows(a) === kvRows(b))
    assert(kvRows(a)("k150") === 1501)
  }

  test("each warm mutation path starts a fixed number of Spark jobs on 16 buckets") {
    val t = tkv(n = 16)
    t.append((1 to 400).map(i => (s"k$i", i)).toDF("k", "v"))
    val ops: Seq[(String, Int => Unit)] = Seq(
      "append" -> (i => t.append(Seq((s"a$i", i)).toDF("k", "v"))),
      "upsert" -> (i => t.upsert(Seq((s"k$i", -i)).toDF("k", "v"))),
      "insertIfAbsent" -> (i =>
        t.insertIfAbsent(Seq((s"n$i", i), (s"k$i", 0)).toDF("k", "v"))),
      "applyChangesIf" -> { i =>
        t.applyChangesIf(Seq((s"k${i + 1}", -i)).toDF("k", "v"),
          Seq(s"k${i + 2}").toDF("k"), Map.empty)(_ => true)
        ()
      },
      "upsertLight" -> (i => t.upsertLight(Seq((s"k${i + 3}", -i)).toDF("k", "v"))),
      "deleteWhereLight" -> (i => t.deleteWhereLight(col("k") === s"k${i + 4}")))
    ops.foreach { case (_, op) => op(10) } // warm every path once
    val jobs = ops.map { case (name, op) => name -> jobsDuring(op(20)) }
    assert(jobs === Seq("append" -> 2, "upsert" -> 4, "insertIfAbsent" -> 6,
      "applyChangesIf" -> 10, "upsertLight" -> 8, "deleteWhereLight" -> 4))
    assert(kvRows(t)("k20") === -20 && kvRows(t)("k21") === -20 &&
      !kvRows(t).contains("k22") && !kvRows(t).contains("k24"))
  }

  test("appends read a bounded amount of metadata as versions accumulate") {
    import scala.jdk.CollectionConverters._
    // auto-compaction keeps the manifest one entry long, so what grows
    // with the version count is the metadata walk alone
    val t = tkv(n = 1); t.createIfAbsent()
    t.setTableProperties(Map(TxTable.AutoCompactKey -> "2"))
    def bytesRead: Long =
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .filter(_.getScheme == "file").map(_.getBytesRead).sum
    def appendBytes(i: Int): Long = {
      val b0 = bytesRead
      t.append(Seq((s"k$i", i)).toDF("k", "v"))
      bytesRead - b0
    }
    (1 to 3).foreach(appendBytes)
    val early = (4 to 6).map(appendBytes).sum / 3 // 10+ versions
    (7 to 147).foreach(appendBytes)
    val late = (148 to 150).map(appendBytes).sum / 3
    assert(t.versions.size > 290)
    assert(late <= 2 * early,
      s"bytes read per append grew from $early to $late")
    assert(t.read.count() === 150L)
  }

  test("truncate commits an empty version; history retained") {
    val t = tkv()
    t.append(Seq(("a", 1)).toDF("k", "v"))
    val v = t.currentVersion
    t.truncate()
    assert(t.read.count() === 0)
    assert(t.readVersion(v).count() === 1)
  }
}
