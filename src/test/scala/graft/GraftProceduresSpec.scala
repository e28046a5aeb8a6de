package graft

import org.apache.spark.sql.functions._

import graft.core.TxTable

/** SQL stored procedures (`CALL graft.<proc>(...)` via the injected
  * delegating parser): the full maintenance lifecycle as SQL text,
  * side effects at execution only. */
class GraftProceduresSpec extends SparkSpec {
  import spark.implicits._

  // raw-path arguments are admin-gated (see the gate test below);
  // this suite exercises them deliberately
  spark.conf.set(graft.sql.GraftCallCommand.AllowRawPathsKey, "true")

  test("raw filesystem paths in CALL are rejected unless opted in") {
    val dir = tmpDir("proc-gate") + "/t"
    val d = (1L to 8L).map(i => (i, i * 1.0)).toDF("k", "v")
    val t = new TxTable(spark, dir, d.schema, Seq("k"), numBuckets = 2)
    t.append(d)
    spark.conf.unset(graft.sql.GraftCallCommand.AllowRawPathsKey)
    try {
      val e = intercept[Exception] {
        spark.sql(s"CALL graft.vacuum('$dir', 1)").collect()
      }
      assert(e.getMessage.contains("allowRawPaths"))
      // catalog identifiers stay open without the opt-in
      val root = dir.stripSuffix("/t")
      spark.conf.set("spark.sql.catalog.gate", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gate.root", root)
      val rep = spark.sql("CALL graft.compact('gate.t')")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rep("table") === dir)
    } finally spark.conf.set(
      graft.sql.GraftCallCommand.AllowRawPathsKey, "true")
  }

  test("compact / materialize_deletes / vacuum through CALL") {
    val dir = tmpDir("proc") + "/t"
    val d = (1L to 64L).map(i => (i, i * 1.0)).toDF("k", "v")
    val t = new TxTable(spark, dir, d.schema, Seq("k"), numBuckets = 2)
    (0 until 4).foreach(i =>
      t.append(d.filter(col("k") % 4 === i))) // many small files
    t.deleteWhereLight(col("k") <= 4L)
    val before = t.dataFileCount

    // EXPLAIN must not execute the side effect
    spark.sql(s"EXPLAIN CALL graft.compact('$dir')").collect()
    assert(t.dataFileCount === before)

    val rep = spark.sql(s"CALL graft.compact('$dir')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rep("files").toInt < before)
    assert(t.read.count() === 60L) // DVs folded in by the rewrite

    spark.sql(s"CALL graft.materialize_deletes('$dir')").collect()
    val vac = spark.sql(s"CALL graft.vacuum('$dir', 1)")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(vac("kept_versions") === "1")
    assert(t.read.count() === 60L)
  }

  test("CALL graft.maintenance: threshold-gated, idempotent, retains history") {
    val dir = tmpDir("proc-maint") + "/t"
    val d = (1L to 48L).map(i => (i, i * 1.0)).toDF("k", "v")
    val t = new TxTable(spark, dir, d.schema, Seq("k"), numBuckets = 2)
    (0 until 6).foreach(i => t.append(d.filter(col("k") % 6 === i)))
    val before = t.dataFileCount
    val vBefore = t.currentVersion
    assert(before >= 6)

    // below the threshold: a metadata no-op - no commit, no rewrite
    val noop = spark.sql(s"CALL graft.maintenance('$dir', 20)")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(noop("compacted_buckets") === "0")
    assert(t.dataFileCount === before && t.currentVersion === vBefore)

    // policy via TBLPROPERTIES; the threshold trips -> one file/bucket
    t.setTableProperties(Map("graft.autoCompact.minFiles" -> "4"))
    val rep = spark.sql(s"CALL graft.maintenance('$dir')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rep("compacted_buckets") === "2")
    assert(t.dataFileCount === 2)
    assert(t.read.count() === 48L)
    // time travel below the maintenance commit is retained
    assert(t.readVersion(vBefore).count() === 48L)

    // re-run: idempotent no-op (single files everywhere)
    val again = spark.sql(s"CALL graft.maintenance('$dir')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again("compacted_buckets") === "0")

    // heavy DV mask (half the rows dead > default 0.3) folds in
    t.deleteWhereLight(col("k") <= 24L)
    assert(t.currentFileInfo.map(_.dvRows).sum === 24L)
    spark.sql(s"CALL graft.maintenance('$dir')").collect()
    assert(t.currentFileInfo.map(_.dvRows).sum === 0L,
      "maintenance must fold a >30%-dead DV mask")
    assert(t.read.count() === 24L)

    // vacuum runs ONLY when retention is explicitly configured
    assert(t.versions.length > 2)
    t.setTableProperties(Map("graft.vacuum.keepVersions" -> "1",
      "graft.vacuum.minAgeMs" -> "0"))
    spark.sql(s"CALL graft.maintenance('$dir')").collect()
    assert(t.versions.length <= 2, // head + the carry-forward commit
      s"configured retention must vacuum, kept ${t.versions.length}")
    assert(t.read.count() === 24L)
  }

  test("write-triggered auto-compaction keeps buckets bounded") {
    val dir = tmpDir("proc-autoc") + "/t"
    val d = (1L to 40L).map(i => (i, i * 1.0)).toDF("k", "v")
    val t = new TxTable(spark, dir, d.schema, Seq("k"), numBuckets = 2)
    t.createIfAbsent()
    t.setTableProperties(Map(TxTable.AutoCompactKey -> "4"))
    (0 until 10).foreach(i => t.append(d.filter(col("k") % 10 === i)))
    // a bucket reaching 4 files compacts to 1 right after the append:
    // continuous ingest never accumulates more than minFiles per
    // bucket, with no scheduled OPTIMIZE
    assert(t.dataFileCount <= 2 * 4,
      s"auto-compaction must bound files, got ${t.dataFileCount}")
    assert(t.read.count() === 40L)
    // the compaction commits are layout_only (tail readers skip them)
    val layoutOnly = t.versions.filter(v =>
      t.commitMeta(v).get("layout_only").contains("true"))
    assert(layoutOnly.nonEmpty, "expected layout_only auto-compactions")
    // without the property nothing compacts (default off)
    val t2 = new TxTable(spark, tmpDir("proc-autoc2") + "/t", d.schema,
      Seq("k"), numBuckets = 2)
    (0 until 6).foreach(i => t2.append(d.filter(col("k") % 6 === i)))
    assert(t2.dataFileCount >= 6, "auto-compaction must be opt-in")
  }

  test("auto-clustering: fragmented buckets re-cluster; zone maps stay tight") {
    val dir = tmpDir("proc-autocl") + "/t"
    val d = (1L to 400L).map(i => (i, i % 97)).toDF("k", "v")
    val t = new TxTable(spark, dir, d.schema, Seq("k"), numBuckets = 2)
    t.createIfAbsent()
    t.setTableProperties(Map(
      TxTable.AutoCompactKey -> "6",
      TxTable.AutoClusterKey -> "v",
      TxTable.AutoClusterFilesKey -> "3"))
    // ten interleaved appends: every bucket's files have FULL v range
    // (worst case for zone maps) until auto-clustering rewrites them
    (0 until 10).foreach(i => t.append(d.filter(col("k") % 10 === i)))
    assert(t.read.count() === 400L)
    // bounded files: threshold 6, clustered to ~3 per bucket
    assert(t.dataFileCount <= 2 * 7,
      s"auto-clustering must bound files, got ${t.dataFileCount}")
    // THE point: the cluster key prunes inside every rewritten bucket
    val rep = t.skipReport(col("v") === 5)
    assert(rep.scanned < rep.total,
      s"clustered zone maps must prune (scanned ${rep.scanned} of " +
        s"${rep.total})")
    assert(t.scanWhere(col("v") === 5).count() ===
      (1L to 400L).count(_ % 97 == 5))
    // the clustering commits are layout_only (tail readers skip them)
    assert(t.versions.exists(v =>
      t.commitMeta(v).get("layout_only").contains("true")))
    // CALL graft.maintenance takes the clustered path under the
    // property too (idempotent right after the write-triggered pass:
    // every bucket is at/below filesPerBucket, nothing re-trips)
    val rep2 = spark.sql(s"CALL graft.maintenance('$dir')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rep2("compacted_buckets") === "0",
      s"fresh clustering must not re-trip, got $rep2")
    // hysteresis: the guard refuses a threshold that would re-trip
    // on every append
    val e = intercept[Exception] {
      t.compactBucketsClustered(minFiles = 3, Seq("v"), filesPerBucket = 3)
    }
    assert(e.getMessage.contains("exceed"))
  }

  test("CALL graft.cluster and graft.export_uniform") {
    val dir = tmpDir("proc-cluster") + "/t"
    val d = (1L to 300L).map(i => (i, i % 50)).toDF("k", "v")
    val t = new TxTable(spark, dir, d.schema, Seq("k"), numBuckets = 2)
    (0 until 3).foreach(i => t.append(d.filter(col("k") % 3 === i)))
    spark.sql(s"CALL graft.cluster('$dir', 'v', 4)").collect()
    val rep = t.skipReport(col("v") === 7)
    assert(rep.scanned < rep.total, "clustered zone maps must prune")
    assert(t.read.count() === 300L)

    val uni = spark.sql(s"CALL graft.export_uniform('$dir')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(uni.contains("delta_commit") && uni.contains("iceberg_metadata"))
    assert(graft.core.DeltaImport.read(spark, dir).count() === 300L)
    assert(graft.core.IcebergImport.read(spark, dir).count() === 300L)
  }

  test("vacuum dry_run previews the sweep and deletes nothing") {
    val dir = tmpDir("proc-dry") + "/t"
    val d = (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v")
    val t = new TxTable(spark, dir, d.schema, Seq("k"), numBuckets = 2)
    t.append(d)                                     // v1
    t.deleteWhereLight(col("k") === 1L)             // v2: a DV sidecar
    // v3 rewrites both buckets (the sidecar is no longer referenced)
    // and carries a watermark that only a dropped version holds
    t.upsert((1L to 50L).map(i => (i, -i * 1.0)).toDF("k", "v"),
      Map("wm" -> "3"))
    t.upsert(Seq((2L, -20.0)).toDF("k", "v"))       // v4
    def names(sub: String): Set[String] =
      Option(new java.io.File(s"$dir/$sub").listFiles()).toSeq.flatten
        .map(_.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSet
    def files(): Int = names("data").size
    val before = files()
    val (dataBefore, dvBefore) = (names("data"), names("_dv"))
    // Scala plan at zero age: v1's rewritten files are sweep targets
    val p = t.vacuumPlan(keepVersions = 1, minAgeMs = 0L)
    assert(p.dataFiles.nonEmpty && p.bytes > 0)
    assert(p.dvFiles.nonEmpty)
    assert(p.droppedVersions === Seq(0L, 1L, 2L, 3L))
    assert(p.carriedMetaKeys === Seq("wm"))
    assert(files() === before, "plan must not delete")
    // SQL dry run (default retention age: nothing aged yet → 0s, but
    // the report shape and the no-mutation contract are the point)
    val rep = spark.sql(s"CALL graft.vacuum('$dir', 1, 'dry_run')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rep("dry_run") === "true")
    assert(rep.contains("would_free_bytes"))
    assert(files() === before, "dry_run must not delete")
    assert(t.currentVersion === 4L, "dry_run must not commit")
    // the real vacuum then performs exactly the planned sweep
    t.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(files() === before - p.dataFiles.length)
    assert(dataBefore -- names("data") === p.dataFiles.toSet)
    assert(dvBefore -- names("_dv") === p.dvFiles.toSet)
    assert(t.currentVersion === 5L, "one carry commit")
    assert(t.commitMeta(5L).keySet === p.carriedMetaKeys.toSet)
  }

  test("zorder / export_delta / export_iceberg / undrop through CALL") {
    val dir = tmpDir("proc2") + "/t"
    val d = (1L to 200L).map(i => (i, i % 10L, i * 0.5)).toDF("k", "g", "v")
    val t = new TxTable(spark, dir, d.schema, Seq("k"), numBuckets = 2)
    t.append(d)

    spark.sql(s"CALL graft.zorder('$dir', 'g,v')").collect()
    assert(t.read.count() === 200L)

    val delta = spark.sql(s"CALL graft.export_delta('$dir')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(delta("delta_commit") !== "no-op")
    assert(new java.io.File(dir, "_delta_log").exists())

    val ice = spark.sql(s"CALL graft.export_iceberg('$dir')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ice("metadata").endsWith("metadata.json"))
    assert(graft.core.IcebergImport.read(spark, dir).count() === 200L)

    t.dropTable()
    assert(t.isDropped)
    spark.sql(s"CALL graft.undrop('$dir')").collect()
    assert(!t.isDropped)

    // the cdf flag: the enable commit records the feed watermark even
    // with nothing else to sync; the NEXT sync carries the changes
    spark.sql(s"CALL graft.export_delta('$dir', 'cdf')").collect()
    t.deleteWhereLight(col("k") > 195L)
    spark.sql(s"CALL graft.export_delta('$dir', 'cdf')").collect()
    val feed = spark.sql(
      s"SELECT _change_type, count(*) FROM graft_delta_changes('$dir', 2) " +
        "GROUP BY 1").collect().map(r => r.getString(0) -> r.getLong(1))
    assert(feed.toMap === Map("delete" -> 5L))
  }

  test("CALL graft.restore rolls back to a prior version through SQL") {
    val dir = tmpDir("proc-restore") + "/t"
    val d = (1L to 16L).map(i => (i, i * 1.0)).toDF("k", "v")
    val t = new TxTable(spark, dir, d.schema, Seq("k"), numBuckets = 2)
    t.append(d)                                  // v1
    val goodVersion = t.currentVersion
    t.deleteWhere(col("k") <= 8L)                // v2: the bad delete
    assert(t.read.count() === 8L)
    val rep = spark.sql(s"CALL graft.restore('$dir', $goodVersion)")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rep("restored_version") === goodVersion.toString)
    assert(t.read.count() === 16L)
    // restore is a NEW commit - the bad version stays time-travelable
    assert(t.readVersion(goodVersion + 1).count() === 8L)
  }

  test("unknown procedures and non-CALL SQL behave") {
    val e = intercept[Exception] {
      spark.sql("CALL graft.nope('/tmp/x')").collect()
    }
    assert(e.getMessage.contains("available:"))
    // the delegating parser must not disturb ordinary SQL
    assert(spark.sql("SELECT 1 + 1").head().getInt(0) === 2)
  }

  test("CALL addresses tables by catalog identifier too") {
    val root = tmpDir("proc-ident")
    val d = (1L to 32L).map(i => (i, i * 1.0)).toDF("k", "v")
    val t = new TxTable(spark, s"$root/t", d.schema, Seq("k"), numBuckets = 2)
    (0 until 3).foreach(i => t.append(d.filter(col("k") % 3 === i)))
    spark.conf.set("spark.sql.catalog.mnt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mnt.root", root)
    val before = t.dataFileCount
    val rep = spark.sql("CALL graft.compact('mnt.t')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rep("files").toInt < before)
    assert(spark.sql("SELECT count(*) FROM mnt.t").head().getLong(0) === 32L)
    val bad = intercept[Exception] {
      spark.sql("CALL graft.compact('nocat.t')").collect()
    }
    assert(bad.getMessage.contains("nocat"))
  }

  test("rebucket writes a fresh co-locatable layout; pruning stays sound") {
    val root = tmpDir("proc-rebucket")
    val d = (1L to 200L).map(i => (i, i * 1.0)).toDF("k", "v")
    val t = new TxTable(spark, s"$root/t", d.schema, Seq("k"), numBuckets = 2)
    t.append(d)
    t.addCheckConstraint("v_pos", "v >= 0")
    spark.conf.set("spark.sql.catalog.rbk", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rbk.root", root)

    val rep = spark.sql("CALL graft.rebucket('rbk.t', 'rbk.t8', 8)")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rep("buckets") === "8")

    val t8 = new TxTable(spark, s"$root/t8", d.schema, Seq("k"), numBuckets = 8)
    assert(t8.read.count() === 200L)
    // the new layout bucket-prunes point lookups correctly
    assert(t8.lookup(Seq(42L)).collect().map(_.getDouble(1)).toSeq ===
      Seq(42.0))
    // CHECK constraints carried over
    val bad = intercept[Exception] {
      t8.append(Seq((999L, -1.0)).toDF("k", "v"))
    }
    assert(Option(bad.getMessage).getOrElse("").contains("v_pos") ||
      Iterator.iterate(bad: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("v_pos"))))
    // refusing to clobber an existing table
    val clobber = intercept[Exception] {
      spark.sql("CALL graft.rebucket('rbk.t', 'rbk.t8', 4)").collect()
    }
    assert(clobber.getMessage.contains("FRESH"))
  }

  test("CALL graft.txn: all-or-nothing across tables; recover replays") {
    import org.apache.spark.sql.types._
    val root = tmpDir("txnproc")
    val schema = new StructType().add("k", LongType).add("v", LongType)
    val a = new TxTable(spark, s"$root/ta", schema, Seq("k"), numBuckets = 1)
    val b = new TxTable(spark, s"$root/tb", schema, Seq("k"), numBuckets = 1)
    a.createIfAbsent(); b.createIfAbsent()
    val journal = s"$root/journal"
    spark.conf.set("spark.sql.catalog.txnp", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.txnp.root", root)
    def txn(stmts: String*): Unit = {
      val quoted = stmts.map(st =>
        "'" + st.replace("'", "''") + "'").mkString(", ")
      spark.sql(s"CALL graft.txn('$journal', " +
        s"'a=$root/ta,b=$root/tb', $quoted)").collect()
      ()
    }
    // success: both advance atomically
    txn("INSERT INTO txnp.ta VALUES (1, 10)",
      "INSERT INTO txnp.tb VALUES (1, 100)")
    assert(a.read.count() === 1 && b.read.count() === 1)
    // failure mid-txn: statement 1 landed in a, statement 2 throws -
    // BOTH tables must read back pre-txn
    val (va, vb) = (a.currentVersion, b.currentVersion)
    val e = intercept[Exception] {
      txn("INSERT INTO txnp.ta VALUES (2, 20)",
        "SELECT raise_error('boom')")
    }
    assert(a.read.count() === 1, "a's insert must roll back")
    assert(b.read.count() === 1)
    assert(b.currentVersion === vb, "untouched table never moves")
    assert(a.currentVersion > va, "rollback is a forward restore commit")
    assert(new java.io.File(journal).listFiles() == null ||
      new java.io.File(journal).listFiles()
        .forall(!_.getName.startsWith("txn-")),
      "a rolled-back txn leaves no live journal")
    // crash simulation: plant a journal claiming a should be at v1,
    // then recover rolls it back and reports 1
    a.append(Seq((9L, 90L)).toDF("k", "v"))
    val pre = a.currentVersion
    graft.core.JobTxn.writeJournal(spark,
      new org.apache.hadoop.fs.Path(journal, "txn-crash.tsv"),
      Seq(("a", pre - 1)))
    val rec = spark.sql(s"CALL graft.txn_recover('$journal', " +
      s"'a=$root/ta,b=$root/tb')").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(rec("recovered_journals") === "1")
    assert(a.read.count() === 1, "recovery rolled the crashed job back")
  }
}
