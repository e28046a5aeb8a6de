package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TxTable

/** Oracle-checked queries that run THROUGH the transactional table
  * layer (zone-map skipping, CDC, schema evolution), so the round-5
  * table-format features get end-to-end differential coverage, not
  * just unit tests: each query materializes a TxTable from a shared
  * testdata table, exercises the feature, and must produce exactly
  * what DuckDB computes from the raw parquet.
  *
  * Tables are built once per corpus under java.io.tmpdir (keyed by
  * source file identity, like the persisted ANN index) — an engine
  * builds a table once and queries it many times; rebuilding per query
  * would charge the one-time ingest to every probe. */
object TxQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Qhelpers.t(s, dir, name) // one loader everywhere (ts normalization etc.)

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete()
  }

  /** Build-once cache: `build` runs only if the table at the keyed tmp
    * dir isn't already at `doneVersion` (a crashed half-build mismatches
    * and is wiped — the manifest protocol makes the check exact). */
  private def cached(dir: String, srcTable: String,
      tag: String, doneVersion: Long)
      (make: String => TxTable)(build: TxTable => Unit): TxTable = {
    val src = new java.io.File(s"$dir/$srcTable.parquet")
    val key = Integer.toHexString(
      (dir, srcTable, src.length(), src.lastModified()).hashCode())
    val loc = new java.io.File(sys.props("java.io.tmpdir"), s"graft-tx-$tag-$key")
    val table = make(loc.toString)
    if (table.currentVersion != doneVersion) {
      rmTree(loc)
      val fresh = make(loc.toString)
      build(fresh)
      require(fresh.currentVersion == doneVersion,
        s"tx build for $tag landed at v${fresh.currentVersion}, wanted v$doneVersion")
      fresh
    } else table
  }

  /** Zone-map data skipping, end to end: orders ingested into a
    * TxTable clustered by order date, then a quarter's scan via
    * `scanWhere` — the manifest prunes non-matching files driver-side
    * (SkippingSpec proves the pruning; THIS proves exactness). */
  def tx_skipping_scan(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val table = cached(dir, "orders", "skip", 2L) { loc =>
      new TxTable(s, loc, orders.schema, Seq("o_orderkey"), numBuckets = 4)
    } { tx =>
      tx.append(orders)
      tx.compactClustered(Seq("o_orderdate"), filesPerBucket = 8)
    }
    table.scanWhere(
        col("o_orderdate") >= lit(Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("o_orderdate") < lit(Timestamp.valueOf("1996-04-01 00:00:00")))
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"))
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sum_key"))
      .orderBy("yr", "mo")
  }

  /** Row-level CDC, end to end: deterministic base + upsert over
    * customer, then `changes(v1, v2)` must equal the SQL-derived diff
    * (inserts where the key was absent, update pre/post images where
    * present — ride-along rows in rewritten buckets must vanish). */
  def tx_cdc_diff(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select("c_custkey", "c_acctbal")
    val base = cust.filter(col("c_custkey") % 3 =!= 0)
    val upd = cust.filter(col("c_custkey") % 5 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100.0)
    val table = cached(dir, "customer", "cdc", 2L) { loc =>
      new TxTable(s, loc, base.schema, Seq("c_custkey"), numBuckets = 4)
    } { tx =>
      tx.append(base)  // v1
      tx.upsert(upd)   // v2
    }
    // no rounding: both engines compute bit-identical doubles from the
    // same parquet values (+100.0 is exact), so compare them raw
    table.changes(1L, 2L)
      .select(col("_change_type"), col("c_custkey"), col("c_acctbal"))
      .orderBy("c_custkey", "_change_type")
  }

  /** Schema evolution, end to end: nations < 13 ingested under the
    * narrow schema, the rest appended WITH a new `note` column — the
    * read must surface old rows with note = NULL without any rewrite
    * of the v1 files. */
  def tx_evolution_read(s: SparkSession, dir: String): DataFrame = {
    val nation = t(s, dir, "nation")
    val narrow = nation.filter(col("n_nationkey") < 13)
      .select("n_nationkey", "n_name")
    val table = cached(dir, "nation", "evo", 2L) { loc =>
      new TxTable(s, loc, narrow.schema, Seq("n_nationkey"), numBuckets = 2)
    } { tx =>
      tx.append(narrow) // v1: (n_nationkey, n_name)
      tx.appendEvolving(nation.filter(col("n_nationkey") >= 13)
        .select(col("n_nationkey"), col("n_name"),
          concat(lit("N-"), col("n_name")).as("note"))) // v2: +note
    }
    table.read.orderBy("n_nationkey")
  }

  /** Merge-on-read delete (deletion vectors), end to end: suppliers
    * ingested, a predicate deleted via `deleteWhereLight` (tombstone
    * sidecar, zero data-file rewrites — DeletionVectorSpec proves the
    * byte-stability; THIS proves the masked read is exact), then an
    * aggregate over the survivors must equal SQL over `NOT pred`. */
  def tx_dv_delete(s: SparkSession, dir: String): DataFrame = {
    val supp = t(s, dir, "supplier")
      .select("s_suppkey", "s_nationkey", "s_acctbal")
    // tag encodes the delete recipe: cached() keys on source identity
    // only, so a recipe change MUST change the tag or a stale build
    // with the old predicate would be reused
    val table = cached(dir, "supplier", "dv-mod3", 2L) { loc =>
      new TxTable(s, loc, supp.schema, Seq("s_suppkey"), numBuckets = 4)
    } { tx =>
      tx.append(supp)                              // v1
      tx.deleteWhereLight(col("s_suppkey") % 3 === 0) // v2: tombstones only
    }
    table.read
      .groupBy(col("s_nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        Qhelpers.msum(col("s_acctbal")).as("total_bal"),
        min("s_suppkey").as("first_supp"))
      .orderBy("nationkey")
  }

  /** Z-ORDER clustering, end to end: orders ingested then
    * `compactZOrdered` on (custkey, totalprice) — files get tight
    * zone maps on BOTH dimensions (SkippingSpec proves the two-dim
    * file pruning; THIS proves the clustered read is exact under a
    * two-dimensional predicate). */
  def tx_zorder_scan(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val table = cached(dir, "orders", "zord", 2L) { loc =>
      new TxTable(s, loc, orders.schema, Seq("o_orderkey"), numBuckets = 4)
    } { tx =>
      tx.append(orders)                                          // v1
      tx.compactZOrdered(Seq("o_custkey", "o_totalprice"),
        filesPerBucket = 8)                                      // v2
    }
    table.scanWhere(col("o_custkey").between(100, 300) &&
        col("o_totalprice") < 100000.0)
      .select(col("o_orderkey"), col("o_custkey").cast("long").as("custkey"),
        // row-level passthrough: both engines read the same parquet
        // double, no arithmetic → bit-exact without a decimal detour
        col("o_totalprice").as("totalprice"))
      .orderBy("o_orderkey")
  }

  /** Parquet BLOOM skipping, end to end: orders with a bloom filter on
    * the NON-key o_custkey column (orderkey-ordered files leave
    * custkey zone maps wide open — only the bloom can prune a point
    * read; SkippingSpec proves the file isolation, THIS proves the
    * pruned read is exact). */
  def tx_bloom_lookup(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    val table = cached(dir, "orders", "bloomq", 1L) { loc =>
      new TxTable(s, loc, orders.schema, Seq("o_orderkey"), numBuckets = 4,
        bloomCols = Seq("o_custkey"))
    } { tx => tx.append(orders) }
    table.scanWhere(col("o_custkey") === 7L)
      .select("o_orderkey", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** Version RESTORE, end to end: two appends then `restore(v1)` — a
    * metadata-only rollback commit (v3 references v1's files; nothing
    * is rewritten, v2 stays time-travelable until vacuum). The current
    * read must equal the v1 slice computed by SQL from raw parquet. */
  def tx_restore_read(s: SparkSession, dir: String): DataFrame = {
    val supp = t(s, dir, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey")
    val table = cached(dir, "supplier", "restoreq", 3L) { loc =>
      new TxTable(s, loc, supp.schema, Seq("s_suppkey"), numBuckets = 2)
    } { tx =>
      tx.append(supp.filter(col("s_suppkey") <= 100))   // v1
      tx.append(supp.filter(col("s_suppkey") > 100))    // v2
      tx.restore(1L)                                    // v3 ≡ v1
    }
    table.read
      .select(col("s_suppkey"), col("s_name"),
        col("s_nationkey").cast("long").as("nationkey"))
      .orderBy("s_suppkey")
  }

  /** SHALLOW CLONE, end to end: the clone pins the source's files by
    * reference (zero copy), then takes its OWN upsert — its read must
    * equal the source data with the clone's mutation applied
    * (DeletionVectorSpec proves source isolation; THIS proves the
    * clone's merged view is exact). */
  def tx_clone_read(s: SparkSession, dir: String): DataFrame = {
    val supp = t(s, dir, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey")
    val table = cached(dir, "supplier", "cloneq2", 1L) { loc =>
      new TxTable(s, loc, supp.schema, Seq("s_suppkey"), numBuckets = 2)
    } { clone =>
      // the SOURCE side table lives outside the cached dir, so a
      // retried build must start it fresh or it would double-append
      rmTree(new java.io.File(clone.dir + "-src"))
      val src = new TxTable(s, clone.dir + "-src", supp.schema,
        Seq("s_suppkey"), numBuckets = 2)
      src.append(supp)                                   // source v1
      src.shallowCloneTo(clone.dir)                      // clone v0 (refs)
      clone.upsert(s.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(1L, "CLONED", supp.filter(
            col("s_suppkey") === 1L).select("s_nationkey").head.get(0))),
        supp.schema))                                    // clone v1
    }
    table.read
      .select(col("s_suppkey"), col("s_name"),
        col("s_nationkey").cast("long").as("nationkey"))
      .orderBy("s_suppkey")
  }

  /** Small-file COMPACTION (OPTIMIZE), end to end: part arrives as SIX
    * small appends (v1..v6 — the streaming-ingest small-file pathology,
    * 12 files across 2 buckets), then one `compact()` rewrites the
    * current version into one file per bucket (v7; old versions stay
    * time-travelable). The build REQUIRES the manifest's file count to
    * collapse to exactly numBuckets — then the read must still equal
    * SQL over the raw parquet: the rewrite lost nothing, duplicated
    * nothing, and reordered nothing that an aggregate can see. */
  def tx_compact_read(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part").select("p_partkey", "p_brand", "p_retailprice")
    val table = cached(dir, "part", "compactq", 7L) { loc =>
      new TxTable(s, loc, part.schema, Seq("p_partkey"), numBuckets = 2)
    } { tx =>
      (0 until 6).foreach(i =>
        tx.append(part.filter(col("p_partkey") % 6 === i))) // v1..v6
      tx.compact()                                          // v7
      require(tx.dataFileCount == 2,
        s"compact left ${tx.dataFileCount} files, wanted one per bucket")
    }
    table.read
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("p_retailprice")).as("total_price"),
        min("p_partkey").as("first_key"))
      .orderBy("p_brand")
  }

  /** CHECK-constraint admission control, end to end: half the
    * customers land, a `c_acctbal > -1000` CHECK is declared, and a
    * poisoned copy of the OTHER half (acctbal forced to −9999) is
    * REFUSED at the staging choke point — the build requires the
    * refusal and that the version did not advance — before the clean
    * half lands. If enforcement silently failed, the poisoned rows
    * would sit beside the clean ones and every aggregate below would
    * diverge from the oracle, which reads the RAW customer parquet:
    * admitted data is indistinguishable from never having had a
    * constraint. */
  def tx_check_read(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal")
    val table = cached(dir, "customer", "checkq", 3L) { loc =>
      new TxTable(s, loc, cust.schema, Seq("c_custkey"), numBuckets = 4)
    } { tx =>
      val evens = cust.filter(col("c_custkey") % 2 === 0)
      val odds = cust.filter(col("c_custkey") % 2 === 1)
      tx.append(evens)                                           // v1
      tx.addCheckConstraint("bal_floor", "c_acctbal > -1000.0")  // v2
      val refused =
        try { tx.append(odds.withColumn("c_acctbal", lit(-9999.0))); false }
        catch { case e: Exception => e.getMessage.contains("bal_floor") }
      require(refused, "CHECK did not refuse the violating batch")
      require(tx.currentVersion == 2L,
        s"refused write advanced the version to ${tx.currentVersion}")
      tx.append(odds)                                            // v3
    }
    table.read
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("c_acctbal")).as("total_bal"),
        min("c_custkey").as("first_cust"))
      .orderBy("c_mktsegment")
  }

  /** Anti-entropy REPAIR, end to end: a TxTable seeded with the
    * DRIFTED orders twin (the exact q_table_diff recipe —
    * [[Relational7.driftedOrders]]) converges back to the source via
    * [[graft.ext.Reconcile.repair]]: dropped keys and repriced rows
    * upsert (merge-on-read), phantom inserts delete, both inside one
    * JobTxn (v2 upsert + v3 delete — a crash between them rolls back
    * to the drifted v1, never a half-repaired state; ReconcileSpec
    * drives the crash path). The build REQUIRES the post-repair diff
    * to be empty; then the read must equal SQL over the RAW orders
    * parquet — the repaired table is indistinguishable from the
    * source. */
  def tx_repair_read(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    val table = cached(dir, "orders", "repair", 3L) { loc =>
      new TxTable(s, loc, o.schema, Seq("o_orderkey"), numBuckets = 4)
    } { tx =>
      tx.append(Relational7.driftedOrders(o)) // v1: the diverged replica
      val stats = graft.ext.Reconcile.repair(o, tx, s"${tx.dir}/_txnlog")
      require(stats.upserted > 0L && stats.deleted > 0L,
        s"drift recipe produced a degenerate repair: $stats")
      val residue = graft.ext.Reconcile
        .diffSummary(o, tx.read.select(o.columns.map(col).toSeq: _*),
          "o_orderkey").count()
      require(residue == 0L, s"repair left $residue diverged status rows")
    }
    table.read
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("o_totalprice")).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
      .orderBy("o_orderstatus")
  }

  /** DELTA-PROTOCOL ROUND-TRIP, end to end: orders lands in a TxTable
    * over two appends and the v2 snapshot publishes as Delta commit 0
    * ([[graft.core.DeltaExport]]); a merge-on-read delete then
    * tombstones the urgent rows (v3), materialization folds the
    * deletion vectors back to plain parquet (v4 — the protocol-floor
    * precondition), and `syncDeltaLog` appends Delta commit 1 carrying
    * exactly the remove/add diff. The query then reads the table ONLY
    * through the open protocol — [[graft.core.DeltaImport]] replays
    * the MULTI-commit JSON log into the live file set, never touching
    * the TxTable manifest — and the result must equal SQL over the
    * raw parquet: export and import agree on exactly which bytes are
    * the table, across its published history. This is the interop
    * loop the north star names (Delta-format tables readable by stock
    * engines), proven bidirectionally with zero Delta jars. */
  def tx_delta_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val table = cached(dir, "orders", "deltart", 4L) { loc =>
      new TxTable(s, loc, o.schema, Seq("o_orderkey"), numBuckets = 4)
    } { tx =>
      tx.append(o.filter(col("o_orderkey") % 5 < 3))  // v1
      tx.append(o.filter(col("o_orderkey") % 5 >= 3)) // v2
      graft.core.DeltaExport.writeDeltaLog(s, tx)     // Delta commit 0
      tx.deleteWhereLight(col("o_orderpriority") === "1-URGENT") // v3: DVs
      tx.materializeDeletes()                         // v4: protocol floor
      // Delta commit 1: the remove/add diff of the materialized delete
      require(graft.core.DeltaExport.syncDeltaLog(s, tx).isDefined,
        "sync found no diff after a materialized delete")
    }
    graft.core.DeltaImport.read(s, table.dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("o_totalprice")).as("total"),
        min("o_orderkey").as("min_key"))
      .orderBy("o_orderpriority")
  }

  /** STREAMING EVOLVE+UPSERT, end to end: a graft→graft pipeline
    * whose SOURCE schema widens mid-stream. Epoch 1 lands the narrow
    * rows; the source then `appendEvolving`s a batch that carries a
    * NEW column and re-sends existing keys; the restarted stream
    * picks up the widened schema and the sink
    * (`graft.mode=upsert, graft.evolve=true`) widens the destination
    * and upserts IN the same exactly-once epoch commit
    * ([[graft.core.TxTable.upsertEvolvingIf]]). The final aggregate
    * must equal DuckDB recomputing the evolve+upsert state from raw
    * parquet: keys sent only pre-evolution read NULL for the new
    * column, re-sent keys carry it. */
  def tx_stream_evolve(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val v1 = o.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_orderpriority")
    val v2 = o.filter(col("o_orderkey") % 2 =!= 0 ||
        col("o_orderkey") % 4 === 0)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val table = cached(dir, "orders", "streamevo", 2L) { loc =>
      new TxTable(s, loc, v1.schema, Seq("o_orderkey"), numBuckets = 4)
    } { tx =>
      tx.createIfAbsent() // dst v0 — records the _table.json descriptor
      val srcDir = tx.dir + "-src"
      val ck = tx.dir + "-ck"
      rmTree(new java.io.File(srcDir))
      rmTree(new java.io.File(ck))
      val src = new TxTable(s, srcDir, v1.schema, Seq("o_orderkey"),
        numBuckets = 4)
      src.append(v1)
      def run(): Unit = {
        val q = s.readStream.format("graft")
          .option("startingVersion", "-1").load(srcDir)
          .writeStream.format("graft")
          .option("checkpointLocation", ck)
          .option("graft.mode", "upsert")
          .option("graft.evolve", "true")
          .option("graft.tag", "evo")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(tx.dir)
        q.awaitTermination()
      }
      run()                  // epoch 1: narrow rows upsert in
      src.appendEvolving(v2) // the source widens mid-pipeline
      run()                  // epoch 2: widened upsert, schema evolves
    }
    table.read
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        count(col("o_totalprice")).as("n_total"),
        Qhelpers.msum(col("o_totalprice")).as("sum_total"),
        min("o_orderkey").as("min_key"))
      .orderBy("o_orderpriority")
  }

  /** WRITE-AUDIT-PUBLISH, end to end: half of orders lands on MAIN,
    * the other half is written to a BRANCH (an in-table shallow
    * clone — main readers cannot see it), and `publishBranch` flips
    * the branch's head onto main as ONE CAS-guarded commit after
    * re-running the CHECK expectations. The post-publish aggregate
    * must equal DuckDB over ALL of orders — proving the flip admitted
    * exactly the branch's rows, atomically. */
  def tx_branch_wap(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val table = cached(dir, "orders", "wap", 3L) { loc =>
      new TxTable(s, loc, o.schema, Seq("o_orderkey"), numBuckets = 4)
    } { tx =>
      val even = o.filter(col("o_orderkey") % 2 === 0)
      tx.append(even)                                     // main v1
      tx.addCheckConstraint("price_pos", "o_totalprice >= 0") // main v2
      val b = tx.createBranch("load-odd")
      b.append(o.filter(col("o_orderkey") % 2 =!= 0))     // branch only
      require(tx.read.count() == even.count(),
        "branch rows leaked to main pre-publish")
      tx.publishBranch("load-odd")                        // main v3
    }
    table.read
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("o_totalprice")).as("total"),
        min("o_orderkey").as("min_key"))
      .orderBy("o_orderstatus")
  }

  /** DELTA DV-NATIVE round-trip: a snapshot with OUTSTANDING
    * merge-on-read deletion vectors exports at table-features
    * protocol (3,7) with the `deletionVectors` feature — the
    * tombstones serialize into the protocol's RoaringBitmapArray
    * format ([[graft.core.DeltaDv]]), NO `materializeDeletes()`
    * rewrite — and [[graft.core.DeltaImport]] reads the log back
    * masking the DV'd files merge-on-read. The aggregate over the
    * imported frame must equal DuckDB recomputing the delete on raw
    * parquet: export and import agree on exactly which ROWS are live,
    * not just which files. */
  def tx_delta_dv_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice")
    val table = cached(dir, "orders", "deltadv", 3L) { loc =>
      new TxTable(s, loc, o.schema, Seq("o_orderkey"), numBuckets = 4)
    } { tx =>
      tx.append(o.filter(col("o_orderkey") % 3 === 0))  // v1
      tx.append(o.filter(col("o_orderkey") % 3 =!= 0))  // v2
      tx.deleteWhereLight(col("o_orderstatus") === "F") // v3: DVs live
      graft.core.DeltaExport.writeDeltaLog(s, tx)       // Delta commit 0
    }
    graft.core.DeltaImport.read(s, table.dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("o_totalprice")).as("total"),
        min("o_orderkey").as("min_key"))
      .orderBy("o_orderpriority")
  }

  /** Column DEFAULT values end-to-end through pure SQL: CREATE with
    * defaults, inserts that OMIT the defaulted columns (the analyzer
    * resolves `CURRENT_DEFAULT` from the declared schema — catalog
    * capability + persisted field metadata), then ALTER COLUMN SET
    * DEFAULT changing the fill for later inserts only. Must equal
    * DuckDB computing the same values relationally from nation. */
  def tx_sql_defaults(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation").select("n_nationkey", "n_regionkey")
    n.createOrReplaceTempView("graft_defs_base")
    val table = cached(dir, "nation", "sqldefs", 5L) { loc =>
      new TxTable(s, loc, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_nationkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("status",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.LongType))), Seq("n_nationkey"),
        numBuckets = 2)
    } { tx =>
      tx.createIfAbsent() // v0
      val loc = new java.io.File(tx.dir)
      s.conf.set("spark.sql.catalog.graftdefs", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftdefs.root", loc.getParent)
      val ident = s"graftdefs.`${loc.getName}`"
      s.sql(s"ALTER TABLE $ident ALTER COLUMN status SET DEFAULT 'pending'")
      s.sql(s"ALTER TABLE $ident ALTER COLUMN score SET DEFAULT 0")   // v2
      s.sql(
        s"""INSERT INTO $ident (n_nationkey)
           |SELECT n_nationkey FROM graft_defs_base
           |WHERE n_regionkey < 2""".stripMargin)                     // v3
      s.sql(s"ALTER TABLE $ident ALTER COLUMN status SET DEFAULT 'new'")
      s.sql(
        s"""INSERT INTO $ident (n_nationkey, score)
           |SELECT n_nationkey, CAST(n_regionkey AS BIGINT)
           |FROM graft_defs_base WHERE n_regionkey >= 2""".stripMargin)
    }
    val loc = new java.io.File(table.dir)
    s.conf.set("spark.sql.catalog.graftdefs", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftdefs.root", loc.getParent)
    s.sql(
      s"""SELECT status, count(*) AS n, sum(score) AS total_score,
         |  min(n_nationkey) AS first_key
         |FROM graftdefs.`${loc.getName}`
         |GROUP BY status ORDER BY status""".stripMargin)
  }

  /** COPY INTO — idempotent batch file ingest ([[graft.core
    * .CopyInto]]): supplier split into per-nation-parity source
    * files, loaded in two copy runs with a VERBATIM RE-RUN between
    * them (the exactly-once ledger makes it a no-op — the meta
    * fingerprint CAS, not luck). The final aggregate must equal
    * DuckDB over the whole supplier table: every source row exactly
    * once despite the repeated command. */
  def tx_copy_into(s: SparkSession, dir: String): DataFrame = {
    val su = t(s, dir, "supplier")
      .select("s_suppkey", "s_nationkey", "s_acctbal")
    val table = cached(dir, "supplier", "copyinto", 2L) { loc =>
      new TxTable(s, loc, su.schema, Seq("s_suppkey"), numBuckets = 4)
    } { tx =>
      tx.createIfAbsent() // v0
      val src = new java.io.File(tx.dir + "-src")
      rmTree(src); src.mkdirs()
      def publish(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val stage = new java.io.File(src, s".stage-$name")
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
        require(part.renameTo(new java.io.File(src, s"$name.parquet")))
      }
      publish("even", su.filter(col("s_suppkey") % 2 === 0))
      val r1 = graft.core.CopyInto.run(s, tx, src.toString)    // v1
      require(r1.loaded == 1, s"first copy loaded ${r1.loaded}")
      val r2 = graft.core.CopyInto.run(s, tx, src.toString)    // no-op
      require(r2.loaded == 0 && r2.skipped == 1, "re-run must no-op")
      publish("odd", su.filter(col("s_suppkey") % 2 =!= 0))
      val r3 = graft.core.CopyInto.run(s, tx, src.toString)    // v2
      require(r3.loaded == 1 && r3.skipped == 1,
        s"incremental copy loaded ${r3.loaded}")
    }
    table.read
      .groupBy(col("s_nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("s_acctbal")).as("bal"),
        max("s_suppkey").as("last_supp"))
      .orderBy("nationkey")
  }

  /** Delta columnMapping NAME-mode round-trip: a table with RENAMED
    * columns (metadata-only, `graft.physical` mapping) plus a
    * merge-on-read delete exports a Delta log whose schemaString
    * carries `delta.columnMapping.physicalName`/`.id` per field and
    * whose add-action stats key by physical name; the import twin
    * binds files by physicalName (the spec's name-mode contract),
    * surfaces the DECLARED names, and masks the DV. The aggregate
    * under the new names must equal DuckDB applying the same delete
    * relationally to raw parquet — names moved, bytes did not. */
  def tx_delta_map_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice")
    val table = cached(dir, "orders", "deltamap", 4L) { loc =>
      new TxTable(s, loc, o.schema, Seq("o_orderkey"), numBuckets = 4)
    } { tx =>
      tx.append(o)                                       // v1
      tx.renameColumn("o_orderkey", "order_id")          // v2 (KEY)
      tx.renameColumn("o_totalprice", "price")           // v3
      tx.deleteWhereLight(col("o_orderstatus") === "F")  // v4: DVs live
      graft.core.DeltaExport.syncDeltaLog(s, tx)         // Delta commit 0
    }
    graft.core.DeltaImport.read(s, table.dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("price")).as("total"),
        min("order_id").as("min_key"))
      .orderBy("o_orderpriority")
  }

  /** DELTA IMPORT DATA SKIPPING: an orders table CLUSTERED by price
    * exports a Delta log whose add-action stats carry disjoint
    * per-file price ranges; [[graft.core.DeltaImport.readWhere]]
    * prunes non-matching files DRIVER-SIDE from those stats before
    * the scan plan exists (the Delta data-skipping contract), and
    * the filtered aggregate must equal DuckDB applying the same
    * predicate relationally — pruning may only skip, never filter. */
  def tx_delta_skip_read(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val table = cached(dir, "orders", "deltaskip", 2L) { loc =>
      new TxTable(s, loc, o.schema, Seq("o_orderkey"), numBuckets = 4)
    } { tx =>
      tx.append(o)                                            // v1
      tx.compactClustered(Seq("o_totalprice"), filesPerBucket = 6) // v2
      graft.core.DeltaExport.syncDeltaLog(s, tx)
    }
    graft.core.DeltaImport
      .readWhere(s, table.dir, col("o_totalprice") < lit(50000.0))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("o_totalprice")).as("total"),
        min("o_orderkey").as("min_key"))
      .orderBy("o_orderpriority")
  }

  /** ICEBERG MANIFEST DATA SKIPPING, end to end: the export now
    * publishes per-file lower/upper bounds + null counts in its
    * manifests (spec binary single-value serialization), and
    * [[graft.core.IcebergImport.readWhere]] prunes data files
    * driver-side from those bounds before the scan plan exists — the
    * Iceberg twin of `tx_delta_skip_read`. The price-clustered
    * export makes the bounds selective; the aggregate must equal
    * DuckDB applying the same predicate relationally
    * (IcebergExportSpec holds the ghost-file proof that pruned files
    * are never touched). */
  def tx_iceberg_skip_read(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val table = cached(dir, "orders", "iceskip", 2L) { loc =>
      new TxTable(s, loc, o.schema, Seq("o_orderkey"), numBuckets = 4)
    } { tx =>
      tx.append(o)                                            // v1
      tx.compactClustered(Seq("o_totalprice"), filesPerBucket = 6) // v2
      graft.core.IcebergExport.writeIcebergMetadata(s, tx)
    }
    if (!new java.io.File(table.dir, "metadata/version-hint.text").exists())
      graft.core.IcebergExport.writeIcebergMetadata(s, table)
    graft.core.IcebergImport
      .readWhere(s, table.dir, col("o_totalprice") < lit(50000.0))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("o_totalprice")).as("total"),
        min("o_orderkey").as("min_key"))
      .orderBy("o_orderpriority")
  }

  /** HIDDEN PARTITIONING round trip: orders in an ICEBERG-hash
    * bucketed TxTable (the spec's bucket[N] murmur3 as the manifest
    * partitioner), exported with a real `bucket[16]` partition spec —
    * per-file partition tuples + manifest-list field summaries — then
    * point-read back through [[graft.core.IcebergImport.readWhere]],
    * whose IN-list candidates prune whole manifests and files by the
    * same transform a stock reader would apply. The result must equal
    * DuckDB's relational read of the raw parquet: pruning is an
    * optimization, never a filter. */
  def tx_iceberg_partition_read(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType, nullable = false),
      StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType)))
    val table = cached(dir, "orders", "icepart", 1L) { loc =>
      new TxTable(s, loc, schema, Seq("o_orderkey"), numBuckets = 16,
        bucketHash = TxTable.IcebergBucketHash)
    } { tx =>
      tx.append(o) // v1
      graft.core.IcebergExport.writeIcebergMetadata(s, tx)
    }
    if (!new java.io.File(table.dir, "metadata/version-hint.text").exists())
      graft.core.IcebergExport.writeIcebergMetadata(s, table)
    graft.core.IcebergImport
      .readWhere(s, table.dir,
        col("o_orderkey").isin(3L, 17L, 42L, 111L, 256L, 999L))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").as("price")) // raw doubles: no arithmetic
      .orderBy("o_orderkey")
  }

  /** STREAMING FILE INGEST (the Auto Loader analog, continuous twin
    * of COPY INTO): supplier split into three source files landed in
    * THREE `Trigger.AvailableNow` runs of the `graft-files` discovery
    * source into a TxTable sink — files published between runs are
    * found by the checkpoint-anchored discovery ledger, a verbatim
    * re-run is a no-op, and the sink's exactly-once epoch ledger
    * guards replays. The final aggregate must equal DuckDB over the
    * whole supplier table: every source row exactly once. */
  def tx_stream_copy(s: SparkSession, dir: String): DataFrame = {
    val su = t(s, dir, "supplier")
      .select("s_suppkey", "s_nationkey", "s_acctbal")
    val table = cached(dir, "supplier", "streamcopy", 3L) { loc =>
      new TxTable(s, loc, su.schema, Seq("s_suppkey"), numBuckets = 4)
    } { tx =>
      tx.createIfAbsent() // v0
      val src = new java.io.File(tx.dir + "-src")
      val ck = tx.dir + "-ck"
      rmTree(src); rmTree(new java.io.File(ck)); src.mkdirs()
      def publish(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val stage = new java.io.File(src, s".stage-$name")
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
        require(part.renameTo(new java.io.File(src, s"$name.parquet")))
      }
      def drain(): Unit = {
        val q = s.readStream.format("graft-files").schema(su.schema)
          .load(src.toString)
          .writeStream.format("graft")
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(tx.dir)
        q.awaitTermination()
      }
      publish("m0", su.filter(col("s_suppkey") % 3 === 0))
      drain()                                              // v1
      publish("m1", su.filter(col("s_suppkey") % 3 === 1))
      drain()                                              // v2
      drain() // verbatim re-run: ledger makes it a no-op (no commit)
      publish("m2", su.filter(col("s_suppkey") % 3 === 2))
      drain()                                              // v3
    }
    table.read
      .groupBy(col("s_nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("s_acctbal")).as("bal"),
        min("s_suppkey").as("min_supp"))
      .orderBy("nationkey")
  }

  /** HIVE-PARTITIONED STREAMING INGEST (the Auto Loader partition
    * contract): supplier slices land under `region=<n_nationkey>/`
    * partition directories WITHOUT the partition column in the files;
    * `hivePartitions=true` recurses discovery and serves each `k=v`
    * path value as the typed column. The sunk table's per-region
    * aggregate must equal DuckDB's recompute from the raw supplier
    * table — a dropped or mis-cast path value shifts its group. */
  def tx_stream_hive(s: SparkSession, dir: String): DataFrame = {
    val su = t(s, dir, "supplier")
      .select("s_suppkey", "s_acctbal", "s_nationkey")
    val sunkSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s_suppkey",
        su.schema("s_suppkey").dataType),
      org.apache.spark.sql.types.StructField("s_acctbal",
        su.schema("s_acctbal").dataType),
      org.apache.spark.sql.types.StructField("region",
        org.apache.spark.sql.types.LongType)))
    val table = cached(dir, "supplier", "streamhive", 2L) { loc =>
      new TxTable(s, loc, sunkSchema, Seq("s_suppkey"), numBuckets = 4)
    } { tx =>
      tx.createIfAbsent() // v0
      val src = new java.io.File(tx.dir + "-src")
      val ck = tx.dir + "-ck"
      rmTree(src); rmTree(new java.io.File(ck)); src.mkdirs()
      // partition dirs carry the region; files carry ONLY the rest
      def publish(part: Long, name: String,
          df: org.apache.spark.sql.DataFrame): Unit = {
        val pdir = new java.io.File(src, s"region=$part")
        pdir.mkdirs()
        val stage = new java.io.File(pdir, s".stage-$name")
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val f = stage.listFiles().find(_.getName.endsWith(".parquet")).get
        require(f.renameTo(new java.io.File(pdir, s"$name.parquet")))
      }
      def drain(): Unit = {
        val q = s.readStream.format("graft-files").schema(sunkSchema)
          .option("hivePartitions", "true")
          .option("pattern", "*.parquet")
          .load(src.toString)
          .writeStream.format("graft")
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(tx.dir)
        q.awaitTermination()
      }
      val regions = su.select("s_nationkey").distinct()
        .collect().map(_.getAs[Number](0).longValue()).sorted
      val (first, rest) = regions.partition(_ % 2 == 0)
      first.foreach(r => publish(r, "a",
        su.filter(col("s_nationkey") === r).drop("s_nationkey")))
      drain()                                             // v1
      rest.foreach(r => publish(r, "a",
        su.filter(col("s_nationkey") === r).drop("s_nationkey")))
      drain()                                             // v2
      drain() // verbatim re-run: no commit
    }
    table.read
      .groupBy("region")
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("s_acctbal")).as("bal"),
        min("s_suppkey").as("min_supp"))
      .orderBy("region")
  }

  /** ICEBERG SNAPSHOT-TAIL STREAM, end to end (the interop matrix's
    * last cell — streaming IMPORT of the Iceberg dialect): customer
    * lands in a source TxTable in TWO appends, each exported as an
    * Iceberg v2 snapshot; the `icebergTail` source consumes the
    * foreign tree across two `Trigger.AvailableNow` runs into a
    * TxTable sink (sequence-number offsets make the second run serve
    * ONLY the second snapshot's added files; a verbatim re-run is a
    * no-op). The sunk table must equal customer exactly once —
    * DuckDB aggregates it directly. */
  def tx_iceberg_stream_tail(s: SparkSession, dir: String): DataFrame = {
    val cu = t(s, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val table = cached(dir, "customer", "icetail", 2L) { loc =>
      new TxTable(s, loc, cu.schema, Seq("c_custkey"), numBuckets = 4)
    } { tx =>
      tx.createIfAbsent() // sink v0
      val srcDir = tx.dir + "-src"
      val ck = tx.dir + "-ck"
      rmTree(new java.io.File(srcDir)); rmTree(new java.io.File(ck))
      val src = new TxTable(s, srcDir, cu.schema, Seq("c_custkey"),
        numBuckets = 4)
      def drain(): Unit = {
        val q = s.readStream.format("graft")
          .option("icebergTail", "true").load(srcDir)
          .writeStream.format("graft")
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(tx.dir)
        q.awaitTermination()
      }
      src.append(cu.filter(col("c_custkey") % 2 === 0))
      graft.core.IcebergExport.writeIcebergMetadata(s, src)
      drain()                        // sink v1: first snapshot's rows
      src.append(cu.filter(col("c_custkey") % 2 === 1))
      graft.core.IcebergExport.writeIcebergMetadata(s, src)
      drain()                        // sink v2: ONLY the new snapshot
      drain() // verbatim re-run: offsets at the head - no commit
    }
    table.read
      .groupBy(col("c_nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("c_acctbal")).as("bal"),
        min("c_custkey").as("min_cust"))
      .orderBy("nationkey")
  }

  /** ICEBERG CHANGELOG STREAM → MERGE: a foreign-shape Iceberg tree
    * whose third snapshot carries POSITION DELETES streams through
    * `icebergChanges=true` as a `_change_type`-tagged retraction
    * feed; `foreachBatch` applies each snapshot's group in
    * `_change_sequence` order (deletes before inserts — the
    * copy-on-write order) against a TxTable sink. The reconstituted
    * sink must equal the final state DuckDB computes relationally —
    * the mutation snapshot is CONSUMED, not refused. */
  def tx_iceberg_changes_merge(s: SparkSession, dir: String): DataFrame = {
    val cu = t(s, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val table = cached(dir, "customer", "icechanges", 3L) { loc =>
      new TxTable(s, loc, cu.schema, Seq("c_custkey"), numBuckets = 4)
    } { tx =>
      tx.createIfAbsent() // sink v0
      val srcDir = tx.dir + "-src"
      val ck = tx.dir + "-ck"
      rmTree(new java.io.File(srcDir)); rmTree(new java.io.File(ck))
      val src = new TxTable(s, srcDir, cu.schema, Seq("c_custkey"),
        numBuckets = 4)
      src.append(cu.filter(col("c_custkey") % 2 === 0))
      src.append(cu.filter(col("c_custkey") % 2 === 1))
      src.deleteWhereLight(col("c_custkey") % 9 === 0)
      graft.core.IcebergExport.writeIcebergMetadata(s, src)
      val q = s.readStream.format("graft")
        .option("icebergChanges", "true").load(srcDir)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val seqs = batch.select("_change_sequence").distinct()
              .collect().map(_.getLong(0)).sorted
            seqs.foreach { q0 =>
              val grp = batch.filter(col("_change_sequence") === q0)
              val delKeys = grp
                .filter(col("_change_type") === "delete")
                .select("c_custkey").collect().map(_.getLong(0))
              if (delKeys.nonEmpty)
                tx.deleteWhereLight(
                  col("c_custkey").isin(delKeys.toSeq: _*))
              val ins = grp.filter(col("_change_type") === "insert")
                .select("c_custkey", "c_nationkey", "c_acctbal")
              if (!ins.isEmpty) tx.upsert(ins)
            }
            ()
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    table.read
      .groupBy(col("c_nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("c_acctbal")).as("bal"),
        min("c_custkey").as("min_cust"))
      .orderBy("nationkey")
  }

  /** ANALYZE COLUMN STATISTICS, end to end: customer in a TxTable,
    * `analyzeColumns(exact = true)` declares per-column NDV in one
    * metadata-only commit (the CBO feed `estimateStatistics` serves
    * as `distinctCount`); the query re-reads the declaration and
    * emits (column, ndv) rows. DuckDB recomputes the same NDVs with
    * real `count(DISTINCT)` over raw customer — the declaration must
    * be exact, not an estimate. */
  def tx_sql_analyze(s: SparkSession, dir: String): DataFrame = {
    val cu = t(s, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_mktsegment")
    val table = cached(dir, "customer", "analyze", 2L) { loc =>
      new TxTable(s, loc, cu.schema, Seq("c_custkey"), numBuckets = 4)
    } { tx =>
      tx.append(cu) // v1
      tx.analyzeColumns(
        Seq("c_custkey", "c_nationkey", "c_mktsegment"),
        exact = true) // v2: the stats declaration commit
    }
    val (_, cols) = table.columnAnalysis.getOrElse(
      throw new IllegalStateException("analyze declaration missing"))
    import s.implicits._
    cols.toSeq.map { case (c, a) => (c, a.ndv) }
      .toDF("col", "ndv").orderBy("col")
  }

  /** EXPORTED-TREE MAINTENANCE, end to end: part in a TxTable,
    * published as BOTH dialects (uniform), mutated (a DV-light
    * delete), re-synced — then `expireOrphans` (Iceberg orphan
    * metadata) and `expireLog` (Delta pre-checkpoint commits) sweep
    * with a zero grace window. Both dialects' SQL scan doors must
    * still reconstruct the post-delete state exactly: expire removes
    * only what nothing references. DuckDB recomputes the surviving
    * rows from raw part. */
  def tx_export_expire(s: SparkSession, dir: String): DataFrame = {
    val pt = t(s, dir, "part")
      .select("p_partkey", "p_size", "p_retailprice")
    val table = cached(dir, "part", "expexpire", 2L) { loc =>
      new TxTable(s, loc, pt.schema, Seq("p_partkey"), numBuckets = 4)
    } { tx =>
      tx.append(pt) // v1
      graft.core.IcebergExport.writeIcebergMetadata(s, tx)
      graft.core.DeltaExport.writeDeltaLog(s, tx)
      tx.deleteWhereLight(col("p_partkey") % 7 === 0) // v2: DVs
      graft.core.IcebergExport.writeIcebergMetadata(s, tx)
      graft.core.DeltaExport.syncDeltaLog(s, tx)
      graft.core.DeltaExport.writeCheckpoint(s, tx)
      graft.core.IcebergExport.expireOrphans(s, tx, minAgeMs = 0L)
      graft.core.DeltaExport.expireLog(s, tx, keepCheckpoints = 1)
    }
    // re-run safety: Verify may reuse the cached build - expire again
    // (idempotent) before reading through both dialect doors
    graft.core.IcebergExport.expireOrphans(s, table, minAgeMs = 0L)
    def agg(df: DataFrame, dialect: String): DataFrame =
      df.groupBy(lit(dialect).as("dialect"))
        .agg(count(lit(1)).as("n"),
          Qhelpers.msum(col("p_retailprice")).as("price"),
          max("p_partkey").as("max_key"))
    agg(graft.core.DeltaImport.read(s, table.dir), "delta")
      .unionByName(
        agg(graft.core.IcebergImport.read(s, table.dir), "iceberg"))
      .orderBy("dialect")
  }

  /** VARIANT STORAGE, end to end: events' open-map props parsed to
    * Spark 4's binary VariantType AT INGEST and stored in a TxTable —
    * downstream path extraction never re-parses JSON text (the wide-
    * record scale story; the text column pays one parse total). The
    * aggregate over `variant_get` must equal DuckDB's recompute from
    * the raw JSON strings. */
  def tx_variant_store(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("value"),
        parse_json(col("props")).as("pv"))
    val table = cached(dir, "events", "varstore", 1L) { loc =>
      new TxTable(s, loc, ev.schema, Seq("event_id"), numBuckets = 4)
    } { tx =>
      tx.append(ev) // v1: variant bytes land once
    }
    table.read
      .withColumn("k", try_variant_get(col("pv"), "$.k", "int"))
      .where(col("k").isNotNull)
      .groupBy(floor(col("k") / 10).cast("int").as("k_bucket"))
      .agg(count(lit(1)).as("n"), min("k").as("min_k"),
        Qhelpers.msum(col("value")).as("total_value"))
      .orderBy("k_bucket")
  }

  /** VARIANT UNIFORM: ONE variant-columned TxTable (with outstanding
    * DVs) exported to BOTH dialects — the Delta `variantType` table
    * feature and an Iceberg v3 tree (the v3 spec's `variant` type) —
    * over the SAME unshredded value/metadata parquet. Both importers
    * must re-serve bytes whose typed extraction equals DuckDB's
    * recompute from the raw JSON; a divergence in either dialect
    * shifts its half of the union. */
  def tx_variant_uniform(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("value"),
        parse_json(col("props")).as("pv"))
    val table = cached(dir, "events", "varuni2", 2L) { loc =>
      new TxTable(s, loc, ev.schema, Seq("event_id"), numBuckets = 4)
    } { tx =>
      tx.append(ev)                                  // v1
      tx.deleteWhereLight(col("event_id") % 11 === 0) // v2: DVs
      graft.core.DeltaExport.syncDeltaLog(s, tx)
      graft.core.IcebergExport.writeIcebergMetadata(s, tx,
        formatVersion = 3)
    }
    if (!new java.io.File(table.dir, "metadata/version-hint.text").exists()) {
      graft.core.DeltaExport.syncDeltaLog(s, table)
      graft.core.IcebergExport.writeIcebergMetadata(s, table,
        formatVersion = 3)
    }
    def agg(df: DataFrame, dialect: String): DataFrame = df
      .withColumn("k", try_variant_get(col("pv"), "$.k", "int"))
      .where(col("k").isNotNull)
      .agg(count(lit(1)).as("n"), Qhelpers.msum(col("value")).as("total"),
        min("k").as("min_k"))
      .select(lit(dialect).as("dialect"), col("n"), col("total"),
        col("min_k"))
    agg(graft.core.DeltaImport.read(s, table.dir), "delta")
      .unionByName(
        agg(graft.core.IcebergImport.read(s, table.dir), "iceberg"))
      .orderBy("dialect")
  }

  /** PUFFIN STATISTICS round trip: supplier in a TxTable, its NDV
    * published as spec `apache-datasketches-theta-v1` sketches in a
    * Puffin file the Iceberg metadata declares
    * ([[graft.core.IcebergExport.writeStatistics]]), then lifted
    * back through the import twin
    * ([[graft.core.IcebergImport.statisticsNdv]]). Every sketched
    * column here stays under the 2^12 nominal, so the sketches are
    * EXACT mode and the round-tripped NDV must equal DuckDB's
    * count(DISTINCT) — the estimate path is the same code, only the
    * comparison would loosen. */
  def tx_iceberg_stats_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val su = t(s, dir, "supplier")
      .select("s_suppkey", "s_nationkey")
    val table = cached(dir, "supplier", "puffstats", 1L) { loc =>
      new TxTable(s, loc, su.schema, Seq("s_suppkey"), numBuckets = 2)
    } { tx =>
      tx.append(su) // v1
      graft.core.IcebergExport.writeStatistics(s, tx)
      graft.core.IcebergExport.writeIcebergMetadata(s, tx)
    }
    if (!new java.io.File(table.dir,
        s"metadata/stats-${1000L + table.currentVersion}.puffin").exists()) {
      graft.core.IcebergExport.writeStatistics(s, table)
      graft.core.IcebergExport.writeIcebergMetadata(s, table)
    }
    val ndv = graft.core.IcebergImport.statisticsNdv(s, table.dir)
    import s.implicits._
    ndv.toSeq.sortBy(_._1).toDF("col", "ndv").orderBy("col")
  }

  /** VARIANT INTEROP (Delta `variantType` table feature): the
    * variant-columned TxTable of [[tx_variant_store]]'s shape,
    * DV-deleted (so the masked merge-on-read path serves variant
    * bytes too), exported as a Delta log that declares `variantType`
    * in BOTH feature lists (reader+writer, protocol 3/7 — stock
    * readers that can't decode the published binary refuse instead
    * of misreading), then read back through [[graft.core.DeltaImport]].
    * Typed extraction over the re-served bytes must equal DuckDB's
    * recompute from the raw JSON text minus the deleted keys. */
  def tx_delta_variant_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("value"),
        parse_json(col("props")).as("pv"))
    val table = cached(dir, "events", "vardelta", 2L) { loc =>
      new TxTable(s, loc, ev.schema, Seq("event_id"), numBuckets = 4)
    } { tx =>
      tx.append(ev)                                  // v1
      tx.deleteWhereLight(col("event_id") % 7 === 0) // v2: DVs outstanding
      graft.core.DeltaExport.syncDeltaLog(s, tx)
    }
    if (!new java.io.File(table.dir, "_delta_log").exists())
      graft.core.DeltaExport.syncDeltaLog(s, table)
    graft.core.DeltaImport.read(s, table.dir)
      .withColumn("k", try_variant_get(col("pv"), "$.k", "int"))
      .where(col("k").isNotNull)
      .groupBy(floor(col("k") / 10).cast("int").as("k_bucket"))
      .agg(count(lit(1)).as("n"), min("k").as("min_k"),
        Qhelpers.msum(col("value")).as("total_value"))
      .orderBy("k_bucket")
  }

  /** SHREDDED VARIANT IMPORT (Delta `variantShredding` feature): a
    * FOREIGN-shaped Delta table whose parquet stores the variant
    * column SHREDDED — typed subcolumns + residual, written by
    * Spark's own writer with shredding ON (the stock 4.1 default this
    * engine's own staging disables) — declared at protocol (3,7) with
    * `variantType` AND `variantShredding`. [[graft.core.DeltaImport]]
    * accepts the feature and binds the declared VariantType through
    * Spark's parquet reader, which reassembles the shredded group;
    * typed extraction over the reassembled bytes must equal DuckDB's
    * recompute from the raw JSON text. */
  def tx_delta_shredded_roundtrip(s: SparkSession, dir: String)
      : DataFrame = {
    val src = new java.io.File(s"$dir/events.parquet")
    val key = Integer.toHexString(
      (dir, "events", src.length(), src.lastModified()).hashCode())
    val loc = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-shreddelta-$key")
    val done = new java.io.File(loc, "_delta_log/_graft_done")
    if (!done.exists()) {
      rmTree(loc)
      val ev = t(s, dir, "events")
        .filter(col("event_id") % 3 =!= 0)
        .select(col("event_id"), col("value"),
          parse_json(col("props")).as("pv"))
      // stage WITH shredding — scoped, the inverse of the engine's
      // own withUnshreddedVariant staging chokepoint
      val kW = "spark.sql.variant.writeShredding.enabled"
      val kI = "spark.sql.variant.inferShreddingSchema"
      val olds = Seq(kW, kI).map(k =>
        k -> scala.util.Try(s.conf.get(k)).toOption)
      try {
        s.conf.set(kW, "true"); s.conf.set(kI, "true")
        ev.repartition(2).write.parquet(new java.io.File(loc, "data").toString)
      } finally olds.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
      // hand-author the foreign log: protocol (3,7) declaring BOTH
      // variant features, the variant-typed schema, one add per file
      val logDir = new java.io.File(loc, "_delta_log"); logDir.mkdirs()
      val schemaJson = org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(
          org.json4s.JString(ev.schema.json)))
      val adds = new java.io.File(loc, "data").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .map { f =>
          s"""{"add":{"path":"data/${f.getName}","partitionValues":{},""" +
            s""""size":${f.length()},"modificationTime":1,""" +
            s""""dataChange":true}}"""
        }
      val lines = Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["variantType","variantShredding"],""" +
          """"writerFeatures":["variantType","variantShredding"]}}""",
        s"""{"metaData":{"id":"shred","format":{"provider":"parquet",""" +
          s""""options":{}},"schemaString":$schemaJson,""" +
          s""""partitionColumns":[],"configuration":{},"createdTime":1}}""") ++
        adds
      java.nio.file.Files.write(
        java.nio.file.Paths.get(logDir.toString,
          "00000000000000000000.json"),
        lines.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    }
    graft.core.DeltaImport.read(s, loc.toString)
      .withColumn("k", try_variant_get(col("pv"), "$.k", "int"))
      .where(col("k").isNotNull)
      .groupBy(floor(col("k") / 10).cast("int").as("k_bucket"))
      .agg(count(lit(1)).as("n"), min("k").as("min_k"),
        Qhelpers.msum(col("value")).as("total_value"))
      .orderBy("k_bucket")
  }

  /** STREAMING STATEFUL DEDUP across micro-batch runs: two source
    * files deliver OVERLAPPING supplier slices (the re-delivery
    * shape every at-least-once feed produces); the stream pipes the
    * `graft-files` discovery source through Spark's stateful
    * `dropDuplicates` (keyed state in the checkpointed state store,
    * so suppression holds ACROSS restarts) into the TxTable sink.
    * The sunk table must equal the supplier table exactly once —
    * DuckDB aggregates it directly. (Production note: unbounded keys
    * use `dropDuplicatesWithinWatermark` to bound state; the
    * contract under test — cross-run exactly-once suppression — is
    * the same.) */
  def tx_stream_dedup(s: SparkSession, dir: String): DataFrame = {
    val su = t(s, dir, "supplier")
      .select("s_suppkey", "s_nationkey", "s_acctbal")
    val table = cached(dir, "supplier", "streamdedup", 2L) { loc =>
      new TxTable(s, loc, su.schema, Seq("s_suppkey"), numBuckets = 4)
    } { tx =>
      tx.createIfAbsent() // v0
      val src = new java.io.File(tx.dir + "-src")
      val ck = tx.dir + "-ck"
      rmTree(src); rmTree(new java.io.File(ck)); src.mkdirs()
      def publish(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val stage = new java.io.File(src, s".stage-$name")
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
        require(part.renameTo(new java.io.File(src, s"$name.parquet")))
      }
      def drain(): Unit = {
        val q = s.readStream.format("graft-files").schema(su.schema)
          .load(src.toString)
          .dropDuplicates("s_suppkey")
          .writeStream.format("graft")
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(tx.dir)
        q.awaitTermination()
      }
      publish("f1", su.filter(col("s_suppkey") % 3 <= 1))
      drain()                                             // v1
      // overlap: the %3==1 slice re-delivers in full
      publish("f2", su.filter(col("s_suppkey") % 3 >= 1))
      drain()                                             // v2
    }
    table.read
      .groupBy(col("s_nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("s_acctbal")).as("bal"),
        max("s_suppkey").as("max_supp"))
      .orderBy("nationkey")
  }

  /** IDENTITY COLUMNS end to end through SQL: a table whose
    * `row_id BIGINT GENERATED ALWAYS AS IDENTITY` column allocates
    * from the CAS'd commit-meta high-water mark across TWO separate
    * `INSERT INTO ... (omitting row_id)` statements. Ids may have
    * gaps (the per-partition stride), so the oracle checks the
    * INVARIANTS DuckDB can recompute: every row got an id (no
    * nulls), ids are globally unique across the inserts (distinct
    * count = supplier row count), and the data columns reconstitute
    * the supplier table exactly. */
  def tx_sql_identity(s: SparkSession, dir: String): DataFrame = {
    val su = t(s, dir, "supplier").select("s_suppkey", "s_acctbal")
    su.createOrReplaceTempView("graft_ident_base")
    val table = cached(dir, "supplier", "sqlident", 2L) { loc =>
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong(TxTable.IdentityStartKey, 1L)
        .putLong(TxTable.IdentityStepKey, 1L)
        .putBoolean(TxTable.IdentityAllowExplicitKey, false).build()
      new TxTable(s, loc, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("row_id",
          org.apache.spark.sql.types.LongType, nullable = true, md),
        org.apache.spark.sql.types.StructField("s_suppkey",
          su.schema("s_suppkey").dataType),
        org.apache.spark.sql.types.StructField("s_acctbal",
          su.schema("s_acctbal").dataType))), Seq("s_suppkey"),
        numBuckets = 2)
    } { tx =>
      tx.createIfAbsent() // v0
      val loc = new java.io.File(tx.dir)
      s.conf.set("spark.sql.catalog.graftident", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftident.root", loc.getParent)
      val ident = s"graftident.`${loc.getName}`"
      s.sql(
        s"""INSERT INTO $ident (s_suppkey, s_acctbal)
           |SELECT s_suppkey, s_acctbal FROM graft_ident_base
           |WHERE s_suppkey % 2 = 0""".stripMargin)               // v1
      s.sql(
        s"""INSERT INTO $ident (s_suppkey, s_acctbal)
           |SELECT s_suppkey, s_acctbal FROM graft_ident_base
           |WHERE s_suppkey % 2 = 1""".stripMargin)               // v2
    }
    table.read
      .agg(count(lit(1)).as("n"),
        countDistinct(col("row_id")).as("distinct_ids"),
        sum(when(col("row_id").isNull, 1L).otherwise(0L)).as("null_ids"),
        Qhelpers.msum(col("s_acctbal")).as("bal"))
  }

  /** GENERATED ALWAYS AS (expr) columns end to end through SQL: an
    * `o_year INT GENERATED ALWAYS AS (year(o_orderdate))` column
    * MATERIALIZES at write time (stageFiles' applyGenerated — the
    * choke point every write path stages through), across TWO
    * `INSERT INTO ... (omitting o_year)` statements. The aggregate
    * GROUPS BY THE STORED generated values; DuckDB recomputes the
    * grouping from the base column over the raw orders parquet — a
    * wrong or null materialization shifts rows between groups and
    * can never silently agree. */
  def tx_sql_generated(s: SparkSession, dir: String): DataFrame = {
    val or = t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderdate")
    or.createOrReplaceTempView("graft_gen_base")
    val table = cached(dir, "orders", "sqlgen", 2L) { loc =>
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .putString(TxTable.GeneratedExprKey, "year(o_orderdate)").build()
      new TxTable(s, loc, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey",
          or.schema("o_orderkey").dataType),
        org.apache.spark.sql.types.StructField("o_totalprice",
          or.schema("o_totalprice").dataType),
        org.apache.spark.sql.types.StructField("o_orderdate",
          or.schema("o_orderdate").dataType),
        org.apache.spark.sql.types.StructField("o_year",
          org.apache.spark.sql.types.IntegerType, nullable = true, md))),
        Seq("o_orderkey"), numBuckets = 2)
    } { tx =>
      tx.createIfAbsent() // v0
      val loc = new java.io.File(tx.dir)
      s.conf.set("spark.sql.catalog.graftgen", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftgen.root", loc.getParent)
      val ident = s"graftgen.`${loc.getName}`"
      s.sql(
        s"""INSERT INTO $ident (o_orderkey, o_totalprice, o_orderdate)
           |SELECT o_orderkey, o_totalprice, o_orderdate
           |FROM graft_gen_base WHERE o_orderkey % 2 = 0""".stripMargin) // v1
      s.sql(
        s"""INSERT INTO $ident (o_orderkey, o_totalprice, o_orderdate)
           |SELECT o_orderkey, o_totalprice, o_orderdate
           |FROM graft_gen_base WHERE o_orderkey % 2 = 1""".stripMargin) // v2
    }
    table.read
      .groupBy(col("o_year").cast("long").as("o_year"))
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("o_totalprice")).as("bal"))
      .orderBy("o_year")
  }

  /** Delta columnMapping ID-mode import: a STOCK id-mode table —
    * parquet data files whose column names (`f1..f3`) are unrelated
    * to both the Delta schema's declared names AND its physicalNames
    * (the Iceberg-uniform-convert shape), bound purely by parquet
    * FOOTER FIELD IDS. The fixture hand-authors the `_delta_log`
    * (protocol 2/5, `delta.columnMapping.mode=id`, per-field
    * `delta.columnMapping.id`) the way a foreign writer would; the
    * import must serve the declared names over the id-bound columns.
    * The aggregate must equal DuckDB over the raw customer parquet —
    * if the reader bound by any NAME it would read nothing (or the
    * wrong column), never silently agree. */
  /** ID-MODE EXPORT round trip (the export-side twin of
    * [[tx_delta_idmap_roundtrip]]'s foreign fixture): customer in a
    * `fieldIds = true` TxTable — every staged footer stamped with the
    * sticky per-column ids — renamed (so name binding alone would be
    * wrong-shaped), exported as a `delta.columnMapping.mode=id` log
    * whose `delta.columnMapping.id`s ARE the footer ids, then read
    * back through [[graft.core.DeltaImport]]'s id binding. Must equal
    * DuckDB over the raw parquet. */
  def tx_delta_idmode_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val cu = t(s, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal")
    val table = cached(dir, "customer", "idmode", 2L) { loc =>
      new TxTable(s, loc, cu.schema, Seq("c_custkey"), numBuckets = 4,
        fieldIds = true)
    } { tx =>
      tx.append(cu)                           // v1
      tx.renameColumn("c_mktsegment", "segment") // v2 (mapping active)
      graft.core.DeltaExport.syncDeltaLog(s, tx)
    }
    if (!new java.io.File(table.dir, "_delta_log").exists())
      graft.core.DeltaExport.syncDeltaLog(s, table)
    graft.core.DeltaImport.read(s, table.dir)
      .groupBy("segment")
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("c_acctbal")).as("bal"),
        min("c_custkey").as("min_cust"))
      .orderBy("segment")
  }

  /** MULTI-TABLE SQL TRANSACTION (`CALL graft.txn` — the JobTxn SQL
    * surface): two tables enlisted in one journaled transaction. A
    * SUCCESSFUL txn lands inserts in both atomically; a txn whose
    * second statement fails (raise_error) rolls BOTH tables back to
    * their pre-txn versions via the intent journal — so the final
    * state reflects exactly the committed txn, which is what DuckDB
    * computes relationally from the base table. */
  def tx_sql_txn(s: SparkSession, dir: String): DataFrame = {
    val na = t(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    na.createOrReplaceTempView("graft_txn_base")
    val tmp = sys.props("java.io.tmpdir").stripSuffix("/")
    val src = new java.io.File(s"$dir/nation.parquet")
    val key = Integer.toHexString(
      (dir, "nation", src.length(), src.lastModified()).hashCode())
    // underscore names: catalog identifiers need no backquoting (the
    // CALL parser passes args verbatim, so quoted idents would leak
    // backticks into the resolved path)
    val aName = s"graft_tx_txna_$key"
    val bName = s"graft_tx_txnb_$key"
    val a = new TxTable(s, s"$tmp/$aName", na.schema,
      Seq("n_nationkey"), numBuckets = 2)
    val b = new TxTable(s, s"$tmp/$bName",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("r_key",
          na.schema("n_regionkey").dataType),
        org.apache.spark.sql.types.StructField("cnt",
          org.apache.spark.sql.types.LongType))),
      Seq("r_key"), numBuckets = 2)
    // a(v3) = create, txn-1 insert, failed-txn insert, rollback restore
    if (a.currentVersion != 3L || b.currentVersion != 2L) {
      rmTree(new java.io.File(s"$tmp/$aName"))
      rmTree(new java.io.File(s"$tmp/$bName"))
      rmTree(new java.io.File(s"$tmp/graft-txn-journal-$key"))
      a.createIfAbsent(); b.createIfAbsent() // v0 each
      s.conf.set("spark.sql.catalog.grafttxn", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.grafttxn.root", tmp)
      s.conf.set(graft.sql.GraftCallCommand.AllowRawPathsKey, "true")
      val ja = s"$tmp/graft-txn-journal-$key"
      def call(stmts: Seq[String]): Unit = {
        val quoted = stmts.map(st =>
          "'" + st.replace("'", "''") + "'").mkString(", ")
        s.sql(s"CALL graft.txn('$ja', " +
          s"'a=grafttxn.$aName,b=grafttxn.$bName', $quoted)").collect()
        ()
      }
      // txn 1: COMMITS - both tables advance together (a v1, b v1)
      call(Seq(
        s"INSERT INTO grafttxn.$aName SELECT n_nationkey, n_name, " +
          "n_regionkey FROM graft_txn_base WHERE n_nationkey < 10",
        s"INSERT INTO grafttxn.$bName SELECT n_regionkey AS r_key, " +
          "count(*) AS cnt FROM graft_txn_base WHERE n_nationkey < 10 " +
          "GROUP BY n_regionkey"))
      // txn 2: statement 2 FAILS - the statement-1 insert into a must
      // roll back (a v2 insert + v3 restore; b v2 restore-noop... b is
      // untouched so stays v1? no: rollback only restores tables whose
      // version moved - b stays v1)
      val failed = scala.util.Try(call(Seq(
        s"INSERT INTO grafttxn.$aName SELECT n_nationkey, n_name, " +
          "n_regionkey FROM graft_txn_base WHERE n_nationkey >= 10",
        "SELECT raise_error('abort this transaction')")))
      require(failed.isFailure, "the aborting txn must surface its error")
      // b then advances once more OUTSIDE a txn so the cached-state
      // check has a distinct done-version (v2)
      s.sql(s"INSERT INTO grafttxn.$bName VALUES (CAST(99 AS " +
        s"${na.schema("n_regionkey").dataType.sql}), CAST(0 AS BIGINT))")
      require(a.currentVersion == 3L,
        s"rollback must restore a to its pre-txn content, at v3 " +
          s"(got v${a.currentVersion})")
    }
    // a holds ONLY txn-1's rows (the failed txn's insert rolled back);
    // b holds txn-1's counts + the sentinel row
    a.read.alias("a")
      .join(b.read.alias("b"), col("a.n_regionkey") === col("b.r_key"))
      .groupBy(col("b.r_key").as("region"))
      .agg(count(lit(1)).as("n_rows"),
        min("a.n_nationkey").as("min_key"),
        max("b.cnt").as("region_cnt"))
      .orderBy("region")
  }

  def tx_delta_idmap_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val cu = t(s, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal")
    val src = new java.io.File(s"$dir/customer.parquet")
    val key = Integer.toHexString(
      (dir, "customer", src.length(), src.lastModified()).hashCode())
    val loc = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-tx-idmap-$key")
    val done = new java.io.File(loc, "_fixture_done")
    if (!done.exists()) {
      rmTree(loc); loc.mkdirs()
      // Spark writes parquet footer field ids for fields carrying
      // parquet.field.id metadata (fieldId.write.enabled, default on)
      s.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      def idMd(i: Long) = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", i).build()
      cu.select(col("c_custkey").as("f1", idMd(1)),
          col("c_mktsegment").as("f2", idMd(2)),
          col("c_acctbal").as("f3", idMd(3)))
        .repartition(2)
        .write.mode("overwrite")
        .parquet(new java.io.File(loc, "data").toString)
      val files = new java.io.File(loc, "data").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      def fmd(id: Long, phys: String) =
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("delta.columnMapping.id", id)
          .putString("delta.columnMapping.physicalName", phys).build()
      import org.apache.spark.sql.types.{StructField, StructType}
      val logical = StructType(Seq(
        StructField("cust_id", cu.schema("c_custkey").dataType,
          nullable = true, fmd(1, "col-x1")),
        StructField("segment", cu.schema("c_mktsegment").dataType,
          nullable = true, fmd(2, "col-x2")),
        StructField("bal", cu.schema("c_acctbal").dataType,
          nullable = true, fmd(3, "col-x3"))))
      val schemaJson = org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(
          org.json4s.JString(logical.json)))
      val lines = Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"idmap","format":{"provider":"parquet",""" +
          s""""options":{}},"schemaString":$schemaJson,""" +
          """"partitionColumns":[],"configuration":{""" +
          """"delta.columnMapping.mode":"id",""" +
          """"delta.columnMapping.maxColumnId":"3"},"createdTime":1}}""") ++
        files.map(f =>
          s"""{"add":{"path":"data/${f.getName}","partitionValues":{},""" +
            s""""size":${f.length},"modificationTime":${f.lastModified},""" +
            """"dataChange":true}}""")
      val logDir = new java.io.File(loc, "_delta_log"); logDir.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Path.of(logDir.toString, "00000000000000000000.json"),
        lines.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      require(done.createNewFile())
    }
    graft.core.DeltaImport.read(s, loc.toString)
      .groupBy("segment")
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("bal")).as("bal_sum"),
        min("cust_id").as("min_cust"))
      .orderBy("segment")
  }

  /** Iceberg name-mapping round-trip: a table with RENAMED columns
    * exports an Iceberg v2 tree whose `schema.name-mapping.default`
    * property maps each field id to its stable PHYSICAL parquet name
    * (the spec's binding for data files without field ids), with a
    * merge-on-read delete riding as a v2 position-delete file; the
    * import twin binds data files through the mapping, surfaces the
    * DECLARED names, and masks the deletes. Must equal DuckDB
    * applying the same delete relationally under aliases. */
  def tx_iceberg_map_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
      .select("p_partkey", "p_brand", "p_size", "p_retailprice")
    val table = cached(dir, "part", "icemap", 4L) { loc =>
      new TxTable(s, loc, p.schema, Seq("p_partkey"), numBuckets = 4)
    } { tx =>
      tx.append(p)                                    // v1
      tx.renameColumn("p_partkey", "part_id")         // v2 (KEY)
      tx.renameColumn("p_retailprice", "price")       // v3
      tx.deleteWhereLight(col("p_size") > 40)         // v4: DVs live
      graft.core.IcebergExport.writeIcebergMetadata(s, tx)
    }
    graft.core.IcebergImport.read(s, table.dir)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("price")).as("total"),
        min("part_id").as("min_key"))
      .orderBy("p_brand")
  }

  /** RELOCATION (RENAME TABLE's physical half), end to end: the table
    * is BUILT at a scratch path and [[graft.core.TxTable.relocateTo]]d
    * to its final directory — one atomic filesystem rename, no
    * manifest rewrite (own files are manifest-referenced by bare
    * name). The post-move aggregate must equal DuckDB over raw
    * parquet: nothing about the rows depended on the absolute path. */
  def tx_relocate_read(s: SparkSession, dir: String): DataFrame = {
    val su = t(s, dir, "supplier")
      .select("s_suppkey", "s_nationkey", "s_acctbal")
    val table = cached(dir, "supplier", "reloc", 1L) { loc =>
      new TxTable(s, loc, su.schema, Seq("s_suppkey"), numBuckets = 4)
    } { tx =>
      val pre = tx.dir + "-pre"
      rmTree(new java.io.File(pre))
      val t0 = new TxTable(s, pre, su.schema, Seq("s_suppkey"),
        numBuckets = 4)
      t0.append(su)       // v0 create + v1 append at the scratch path
      t0.relocateTo(tx.dir) // one rename; history travels
    }
    table.read
      .groupBy(col("s_nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("s_acctbal")).as("bal"),
        min("s_suppkey").as("min_supp"))
      .orderBy("nationkey")
  }

  /** DELTA CHANGE DATA FEED, end to end: the log is synced with
    * `cdf = true`, so the commit carrying an upsert + merge-on-read
    * delete also publishes `_change_data` files (graft's CDC
    * vocabulary — insert | delete | update_preimage |
    * update_postimage — IS Delta's) referenced by `cdc` actions, and
    * [[graft.core.DeltaImport.readChanges]] serves the feed: commit 0
    * derives inserts from its adds, commit 1 reads the change files
    * verbatim. The per-change-type aggregate must equal DuckDB
    * recomputing each class from raw parquet. */
  def tx_delta_cdf(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val table = cached(dir, "orders", "deltacdf", 3L) { loc =>
      new TxTable(s, loc, o.schema, Seq("o_orderkey"), numBuckets = 4)
    } { tx =>
      tx.append(o.filter(col("o_orderkey") % 2 === 0))      // tx v1
      graft.core.DeltaExport.syncDeltaLog(s, tx, cdf = true) // commit 0
      val upd = o.filter(col("o_orderkey") % 4 === 0 &&
          col("o_orderstatus") === "O")
        .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
      tx.upsert(upd)                                         // tx v2
      tx.deleteWhereLight(col("o_orderstatus") === "F")      // tx v3
      require(graft.core.DeltaExport
        .syncDeltaLog(s, tx, cdf = true).isDefined,          // commit 1
        "cdf sync found no diff after upsert+delete")
    }
    graft.core.DeltaImport.readChanges(s, table.dir, 0L)
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("o_totalprice")).as("total"))
      .orderBy("change_type")
  }

  /** ICEBERG POSITION-DELETE round-trip: a snapshot with OUTSTANDING
    * merge-on-read deletion vectors exports as a v2 delete-carrying
    * metadata tree — the tombstones rewrite into a spec position-
    * delete parquet referenced by a content=1 manifest at a higher
    * sequence number, NO `materializeDeletes()` — and
    * [[graft.core.IcebergImport]] masks them back merge-on-read. The
    * aggregate over the imported frame must equal DuckDB recomputing
    * the delete on raw parquet: the delete files name exactly the
    * right (file, position) pairs. */
  def tx_iceberg_dv_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
      .select("p_partkey", "p_brand", "p_size", "p_retailprice")
    val table = cached(dir, "part", "icebergdv", 3L) { loc =>
      new TxTable(s, loc, p.schema, Seq("p_partkey"), numBuckets = 4)
    } { tx =>
      tx.append(p.filter(col("p_partkey") % 2 === 0))  // v1
      tx.append(p.filter(col("p_partkey") % 2 === 1))  // v2
      tx.deleteWhereLight(col("p_size") > 40)          // v3: DVs live
      graft.core.IcebergExport.writeIcebergMetadata(s, tx)
    }
    if (!new java.io.File(table.dir, "metadata/version-hint.text").exists())
      graft.core.IcebergExport.writeIcebergMetadata(s, table)
    graft.core.IcebergImport.read(s, table.dir)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("p_retailprice")).as("total"),
        min("p_partkey").as("min_key"))
      .orderBy("p_brand")
  }

  /** ICEBERG v3 DELETION-VECTOR round trip: the same DV-carrying
    * table exported at `formatVersion = 3` — tombstones as Puffin
    * `deletion-vector-v1` blobs (the v3 spec's framing over the
    * portable 64-bit RoaringBitmapArray) located from the delete
    * manifest — then read back through [[graft.core.IcebergImport]]'s
    * DV branch. Must equal DuckDB's recompute of the masked state,
    * exactly like the v2 twin (same data, different tombstone
    * representation). */
  def tx_iceberg_v3_dv_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
      .select("p_partkey", "p_brand", "p_size", "p_retailprice")
    val table = cached(dir, "part", "icebergv3dv2", 3L) { loc =>
      new TxTable(s, loc, p.schema, Seq("p_partkey"), numBuckets = 4)
    } { tx =>
      tx.append(p.filter(col("p_partkey") % 2 === 0))  // v1
      tx.append(p.filter(col("p_partkey") % 2 === 1))  // v2
      tx.deleteWhereLight(col("p_size") > 40)          // v3: DVs live
      graft.core.IcebergExport.writeIcebergMetadata(s, tx,
        formatVersion = 3)
    }
    if (!new java.io.File(table.dir, "metadata/version-hint.text").exists())
      graft.core.IcebergExport.writeIcebergMetadata(s, table,
        formatVersion = 3)
    graft.core.IcebergImport.read(s, table.dir)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("p_retailprice")).as("total"),
        min("p_partkey").as("min_key"))
      .orderBy("p_brand")
  }

  /** UNIFORM EXPORT (the Delta UniForm analog): ONE table, ONE copy
    * of the parquet data files, BOTH metadata dialects published over
    * them — `_delta_log/` (deletes as DV sidecars) and an Iceberg v2
    * `metadata/` tree (deletes as position-delete files) from the
    * same live state. The build includes a merge-on-read delete, so
    * each dialect must encode the SAME tombstones its own way over
    * the SAME shared files. The result JOINS the two readers'
    * per-brand aggregates; DuckDB recomputes both column pairs from
    * the raw part table — a divergence in either dialect (or between
    * them) shifts a pair and can never silently agree. */
  def tx_uniform_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
      .select("p_partkey", "p_brand", "p_size", "p_retailprice")
    val table = cached(dir, "part", "uniform", 3L) { loc =>
      new TxTable(s, loc, p.schema, Seq("p_partkey"), numBuckets = 4)
    } { tx =>
      tx.append(p.filter(col("p_partkey") % 2 === 0))  // v1
      tx.append(p.filter(col("p_partkey") % 2 === 1))  // v2
      tx.deleteWhereLight(col("p_size") > 40)          // v3: DVs live
      graft.core.DeltaExport.syncDeltaLog(s, tx)
      graft.core.IcebergExport.writeIcebergMetadata(s, tx)
    }
    // idempotent re-export on cached reuse runs (same snapshot)
    if (!new java.io.File(table.dir, "metadata/version-hint.text").exists())
      graft.core.IcebergExport.writeIcebergMetadata(s, table)
    if (!new java.io.File(table.dir, "_delta_log").exists())
      graft.core.DeltaExport.syncDeltaLog(s, table)
    val viaDelta = graft.core.DeltaImport.read(s, table.dir)
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_delta"),
        Qhelpers.msum(col("p_retailprice")).as("bal_delta"))
    val viaIceberg = graft.core.IcebergImport.read(s, table.dir)
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_iceberg"),
        Qhelpers.msum(col("p_retailprice")).as("bal_iceberg"))
    viaDelta.join(viaIceberg, "brand").orderBy("brand")
  }

  /** ICEBERG round-trip, end to end: the table's snapshot exported as
    * an Iceberg v2 metadata tree ([[graft.core.IcebergExport]] —
    * HadoopCatalog layout, spec field-ids) and read BACK through the
    * pointer chain a stock reader walks
    * ([[graft.core.IcebergImport]]: version-hint → metadata.json →
    * manifest-list avro → manifest avro → data files). The aggregate
    * over the imported frame must equal DuckDB on the raw parquet —
    * proving the exported metadata references exactly the live rows,
    * not just that the layout looks right. */
  def tx_iceberg_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
      .select("p_partkey", "p_brand", "p_size", "p_retailprice")
    val table = cached(dir, "part", "icebergrt", 3L) { loc =>
      new TxTable(s, loc, p.schema, Seq("p_partkey"), numBuckets = 4)
    } { tx =>
      tx.append(p.filter(col("p_partkey") % 2 === 0))  // v1
      tx.append(p.filter(col("p_partkey") % 2 === 1))  // v2
      tx.deleteWhere(col("p_size") > 40)               // v3 (copy-on-write)
      graft.core.IcebergExport.writeIcebergMetadata(s, tx)
    }
    // re-export is idempotent on reuse runs (same snapshot, cached
    // table) — read strictly through the Iceberg metadata tree
    if (!new java.io.File(table.dir, "metadata/version-hint.text").exists())
      graft.core.IcebergExport.writeIcebergMetadata(s, table)
    graft.core.IcebergImport.read(s, table.dir)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        Qhelpers.msum(col("p_retailprice")).as("total"),
        min("p_partkey").as("min_key"))
      .orderBy("p_brand")
  }

  /** CDC-fed INCREMENTAL SCD2, end to end: the scd2_build event slice
    * lands in a source TxTable over FOUR append batches, and a
    * [[graft.ext.Scd2View]] refreshes after each — every refresh diffs
    * only that batch's commits, recomputes only the touched keys'
    * run-length history (zone-map-pruned event re-read), and merges
    * new + stale version rows in one guarded commit carrying the
    * watermark. The end state must equal the SAME DuckDB oracle as
    * the one-shot `scd2_build` — incremental maintenance is
    * invisible in the result. (Scd2ViewSpec drives the
    * update/delete/out-of-order cases and the no-full-scan plan
    * evidence; this row pins the batched build against SQL.) */
  def scd2_incr_build(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "orders").filter(col("o_custkey") <= 200)
      .select(col("o_custkey").as("custkey"), col("o_orderdate").as("ts"),
        col("o_orderkey").as("seq"), col("o_orderstatus").as("status"))
    import org.apache.spark.sql.types._
    val histSchema = StructType(Seq(
      ev.schema("custkey").copy(nullable = false),
      StructField("ver", LongType, nullable = false),
      ev.schema("status"),
      StructField("effective_from", ev.schema("ts").dataType),
      StructField("effective_to", ev.schema("ts").dataType),
      StructField("is_current", BooleanType)))
    // view table lands at v4: replace (first refresh) + 3 merges
    var locRef: String = null
    val viewTable = cached(dir, "orders", "scd2incr", 4L) { loc =>
      locRef = loc
      new TxTable(s, s"$loc/hist", histSchema, Seq("custkey", "ver"),
        numBuckets = 4)
    } { _ =>
      val src = new TxTable(s, s"$locRef/src", ev.schema, Seq("seq"),
        numBuckets = 4)
      val view = new graft.ext.Scd2View(s, src, s"$locRef/hist",
        "custkey", "ts", "seq", "status", numBuckets = 4)
      (0 until 4).foreach { b =>
        src.append(ev.filter(pmod(col("seq"), lit(4)) === b))
        require(view.refresh().applied, s"scd2 refresh $b lost its CAS")
      }
    }
    viewTable.read.orderBy("custkey", "ver")
  }

  /** Transparent MV routing, end to end: lineitem ingested into a
    * TxTable, an [[graft.ext.IncrementalView]] materialized over it
    * (group by flag/status, sum quantity + price), the view registered
    * in [[graft.plans.MvCatalog]] — then a plain aggregate over the
    * TABLE is required to route to the view ([[graft.plans.MvRewrite]];
    * `require` fails the whole query if routing declines, so this
    * oracle row proves ROUTED results match DuckDB computing from raw
    * parquet). Sums are exact: quantities are integer-valued doubles
    * and the price folds in DECIMAL inside the view. */
  /** Shared table + view for the mv_routed_* family (cached() keys on
    * source identity, so both queries reuse one build). */
  private def mvTableView(s: SparkSession, dir: String)
      : (TxTable, graft.ext.IncrementalView) = {
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_returnflag",
        "l_linestatus", "l_quantity")
    val table = cached(dir, "lineitem", "mv", 1L) { loc =>
      new TxTable(s, loc, li.schema, Seq("l_orderkey", "l_linenumber"),
        numBuckets = 4)
    } { tx => tx.append(li) }
    val view = new graft.ext.IncrementalView(s, table,
      table.dir + "-view", Seq("l_returnflag", "l_linestatus"),
      Seq("l_quantity"), numBuckets = 2)
    view.refresh() // no-op when already current
    graft.plans.MvCatalog.register(view)
    (table, view)
  }

  /** Route-or-fail: run `q`'s analyzed plan through MvRewrite and
    * require the route fired (don't silently fall back to the source). */
  private def mustRoute(s: SparkSession, q: DataFrame, name: String): DataFrame = {
    val before = q.queryExecution.analyzed
    val after = graft.plans.MvRewrite(before)
    require(after ne before, s"MV rewrite did not fire for $name")
    org.apache.spark.sql.GraftSqlBridge.ofRows(s, after)
  }

  /** MV ROUTING OVER SQL TEXT (round 12): the same aggregate as
    * [[mv_routed_agg]] but expressed as `spark.sql` against the DSv2
    * catalog identifier — the route must fire on the provider
    * relation too (matched by PINNED VERSION instead of file-set
    * equality; the provider's snapshot isolation makes the version
    * the complete identity). Proves the reference's actual surface —
    * SQL text — gets the transparent-rewrite behavior, not just
    * DataFrame code. */
  def mv_routed_sql(s: SparkSession, dir: String): DataFrame = {
    val (table, _) = mvTableView(s, dir)
    val loc = new java.io.File(table.dir)
    s.conf.set("spark.sql.catalog.graftmv", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftmv.root", loc.getParent)
    val q = s.sql(
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  sum(l_quantity) AS sum_qty, count(l_quantity) AS n_qty
         |FROM graftmv.`${loc.getName}`
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    mustRoute(s, q, "mv_routed_sql")
  }

  def mv_routed_agg(s: SparkSession, dir: String): DataFrame = {
    val (table, _) = mvTableView(s, dir)
    val q = table.read.groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"),
        count(col("l_quantity")).as("n_qty"))
      .orderBy("l_returnflag", "l_linestatus")
    mustRoute(s, q, "mv_routed_agg")
  }

  /** The dashboard HAVING shape, still routed: SUBSET grouping (the
    * view groups by flag+status; the query by flag alone → the view
    * re-aggregates, cardinality = group count) under a POST-aggregate
    * filter mixing an aggregate predicate and a group-column
    * predicate. The synthetic flags are UNIFORM (~1/3 each), so the
    * count threshold is total/4 — every surviving group clears it
    * with a 33%-vs-25% margin at any scale factor (a total/3
    * threshold would sit exactly on the boundary and flip per SF);
    * the row reduction comes from the exact group-column predicate.
    * Integer division matches DuckDB's `//`. */
  def mv_routed_having(s: SparkSession, dir: String): DataFrame = {
    val (table, _) = mvTableView(s, dir)
    val threshold = table.read.count() / 4
    val q = table.read.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
      .filter(col("l_returnflag") =!= "R" && col("n") > threshold)
      .orderBy("l_returnflag")
    mustRoute(s, q, "mv_routed_having")
  }

  /** J1 through MV routing (round 8): an Aggregate over an INNER
    * equi-join of the TxTable fact with a small dim routes onto a view
    * keyed by the JOIN key — the "per-entity stats then decorate"
    * dashboard shape (the reference's vector-doc stats query,
    * `services/api/src/index.ts:183-194`). The rewritten plan joins
    * the VIEW (one row per order) to the dim and re-aggregates:
    * correct for any dim multiplicity (each view group carries its
    * cnt/sums through the join exactly as many times as its fact rows
    * would have joined), and the lineitem fact is never scanned.
    * `mustRoute` fails the query if the rewrite declines; the
    * view-not-fact scan shape is asserted in MvRewriteSpec. */
  def mv_routed_join(s: SparkSession, dir: String): DataFrame = {
    val (table, _) = mvTableView(s, dir)
    val viewJ = new graft.ext.IncrementalView(s, table,
      table.dir + "-viewjoin", Seq("l_orderkey"), Seq("l_quantity"),
      numBuckets = 2)
    viewJ.refresh() // no-op when already current
    graft.plans.MvCatalog.register(viewJ)
    val dim = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
    val q = table.read.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
      .orderBy("o_orderstatus")
    mustRoute(s, q, "mv_routed_join")
  }

  /** The join route under SUBSET grouping and HAVING (round 9): the
    * view groups by (l_orderkey, l_returnflag) — the join key plus a
    * dimension — and the query groups by (o_orderstatus,
    * l_returnflag), a strict subset of the fact-side grouping, under a
    * post-aggregate filter mixing an aggregate predicate with a
    * group-column predicate. The rewrite joins the VIEW to orders and
    * re-aggregates; pinned output attr ids keep the HAVING transparent.
    * Multi-view dispatch is exercised for free: the (l_orderkey)-only
    * join view registered by [[mv_routed_join]] cannot serve
    * l_returnflag grouping and must be fallen through. The 9 groups
    * are uniform (~1/9 each), so the count threshold is total/12 —
    * a 33 % relative margin at every SF (house margin discipline);
    * row reduction comes from the flag predicate. */
  def mv_routed_join_subset(s: SparkSession, dir: String): DataFrame = {
    val (table, _) = mvTableView(s, dir)
    val viewJs = new graft.ext.IncrementalView(s, table,
      table.dir + "-viewjoinsub", Seq("l_orderkey", "l_returnflag"),
      Seq("l_quantity"), numBuckets = 2)
    viewJs.refresh() // no-op when already current
    graft.plans.MvCatalog.register(viewJs)
    val threshold = table.read.count() / 12
    val dim = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
    val q = table.read.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus", "l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
      .filter(col("l_returnflag") =!= "R" && col("n") > threshold)
      .orderBy("o_orderstatus", "l_returnflag")
    mustRoute(s, q, "mv_routed_join_subset")
  }

  /** Live per-group COUNT(DISTINCT) from a sketch-tracking view
    * (round 9, `IncrementalView(distinctCols)`): the view stores one
    * HLL sketch per (flag, ship-month column) and serves the distinct
    * month count at zero source cost — the "distinct Xs per Y, always
    * current" dashboard ask. The tracked cardinality (active ship
    * months per flag, ~84) is far inside HLL sparse mode at every SF,
    * so the estimate is EXACT and the differential oracle against
    * DuckDB's COUNT(DISTINCT) is sound — the same soundness argument
    * as `x_hll_distinct`. */
  def mv_sketch_distinct(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        date_trunc("month", col("l_shipdate")).as("ship_month"))
    val table = cached(dir, "lineitem", "mvsk", 1L) { loc =>
      new TxTable(s, loc, li.schema, Seq("l_orderkey", "l_linenumber"),
        numBuckets = 4)
    } { tx => tx.append(li) }
    val view = new graft.ext.IncrementalView(s, table,
      table.dir + "-viewsk", Seq("l_returnflag"), Nil, numBuckets = 2,
      distinctCols = Seq("ship_month"))
    view.refresh() // no-op when already current
    view.read
      .select(col("l_returnflag"), col("cnt").as("n"),
        col("nd_ship_month").as("nd_months"))
      .orderBy("l_returnflag")
  }

  /** MIN/MAX through MV routing (round 7): a SECOND view over the same
    * source tracks extrema (`minMaxCols` — insert-cheap least/greatest
    * merge, delete-touched groups recompute), and the min/max query is
    * REQUIRED to route. Also exercises multi-view dispatch: the sum
    * view registered by [[mvTableView]] matches the source but cannot
    * serve extrema, so the rewrite must fall through to the tracking
    * view instead of giving up at the first match. */
  def mv_routed_minmax(s: SparkSession, dir: String): DataFrame = {
    val (table, _) = mvTableView(s, dir)
    val viewMm = new graft.ext.IncrementalView(s, table,
      table.dir + "-viewmm", Seq("l_returnflag", "l_linestatus"),
      Nil, numBuckets = 2, minMaxCols = Seq("l_quantity"))
    viewMm.refresh()
    graft.plans.MvCatalog.register(viewMm)
    val q = table.read.groupBy("l_returnflag")
      .agg(min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
    mustRoute(s, q, "mv_routed_minmax")
  }

  /** PURE SQL TEXT against a TxTable through the DataSource V2
    * provider ([[graft.sources.GraftDataSource]]) — the reference's
    * actual read surface (its repository layer is SQL strings against
    * the store, `services/api/src/repository.ts`): lineitem ingested
    * into a transactional table, loaded with
    * `spark.read.format("graft")`, registered as a view, and queried
    * with `spark.sql` — filter pushdown reaches the manifest's
    * zone-map pruning, column pruning reaches the parquet reader, and
    * Spark re-verifies rows above the scan. The decimal-cast sum is
    * the house double discipline. */
  def tx_sql_provider(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    val table = cached(dir, "lineitem", "dsv2", 1L) { loc =>
      new TxTable(s, loc, li.schema, Seq("l_orderkey", "l_linenumber"),
        numBuckets = 4)
    } { tx => tx.append(li) }
    s.read.format("graft").load(table.dir)
      .createOrReplaceTempView("graft_sql_lineitem")
    s.sql(
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM graft_sql_lineitem
        |WHERE l_quantity >= 25
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** END-TO-END SQL DML through the DSv2 catalog
    * ([[graft.sources.GraftCatalog]]): the table is POPULATED with
    * `INSERT INTO` (routed through the guarded commit protocol — CHECK
    * admission, key bucketing, CAS), MUTATED with `DELETE FROM`
    * (merge-on-read deletion vectors, zero rewrites), and READ with a
    * SQL aggregate over the provider's DV-masked scan — the whole
    * reference write/read lifecycle (`repository.ts` is SQL text end
    * to end) expressed in pure SQL, and the result must still equal
    * DuckDB on the raw parquet minus the deleted predicate. */
  def tx_sql_dml(s: SparkSession, dir: String): DataFrame = {
    // the delete key is MATERIALIZED as a column at insert time:
    // DELETE FROM pushes source Filters (equality/range), not
    // arbitrary expressions — the relational way to delete "every 4th
    // supplier" through SQL is to store the shard and delete the shard
    val supp = t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"),
        (col("s_suppkey") % 4).cast("long").as("s_mod"))
    supp.createOrReplaceTempView("graft_dml_src")
    val table = cached(dir, "supplier", "sqldml-mod4", 2L) { loc =>
      new TxTable(s, loc, supp.schema, Seq("s_suppkey"), numBuckets = 4)
    } { tx =>
      tx.createIfAbsent() // v0 — records the _table.json descriptor
      val loc = new java.io.File(tx.dir)
      s.conf.set("spark.sql.catalog.graftdml", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftdml.root", loc.getParent)
      val ident = s"graftdml.`${loc.getName}`"
      s.sql(s"INSERT INTO $ident SELECT * FROM graft_dml_src")    // v1
      s.sql(s"DELETE FROM $ident WHERE s_mod = 1")                // v2
    }
    val loc = new java.io.File(table.dir)
    s.conf.set("spark.sql.catalog.graftdml", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftdml.root", loc.getParent)
    s.sql(
      s"""SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
         |  count(*) AS n,
         |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
         |  min(s_suppkey) AS first_supp
         |FROM graftdml.`${loc.getName}`
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** DDL LIFECYCLE 2 through pure SQL text ([[graft.sources
    * .GraftCatalog]].alterTable): RENAME COLUMN (METADATA-ONLY via
    * column mapping — the field keeps its creation-time parquet name
    * as `graft.physical` metadata, zero files rewritten), ALTER
    * COLUMN TYPE on the RENAMED column (metadata-only widening:
    * Spark 4's parquet readers upcast the narrower physical type —
    * the widen composes with the mapping), and SET TBLPROPERTIES,
    * then a SQL aggregate over the renamed+widened column. The
    * result must equal DuckDB recomputing under the new names on raw
    * parquet — the DDL changed metadata and names, never values. */
  def tx_sql_ddl2(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .select(col("c_custkey"),
        col("c_nationkey").cast("int").as("nk_old"),
        col("c_acctbal"))
    c.createOrReplaceTempView("graft_ddl2_src")
    val table = cached(dir, "customer", "sqlddl2", 4L) { loc =>
      new TxTable(s, loc, c.schema, Seq("c_custkey"), numBuckets = 4)
    } { tx =>
      tx.createIfAbsent() // v0 — records the _table.json descriptor
      val loc = new java.io.File(tx.dir)
      s.conf.set("spark.sql.catalog.graftddl2", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftddl2.root", loc.getParent)
      val ident = s"graftddl2.`${loc.getName}`"
      s.sql(s"INSERT INTO $ident SELECT * FROM graft_ddl2_src")       // v1
      s.sql(s"ALTER TABLE $ident RENAME COLUMN nk_old TO nation_key") // v2
      s.sql(s"ALTER TABLE $ident ALTER COLUMN nation_key TYPE BIGINT")// v3
      s.sql(s"ALTER TABLE $ident SET TBLPROPERTIES ('tier'='gold')")  // v4
    }
    val loc = new java.io.File(table.dir)
    s.conf.set("spark.sql.catalog.graftddl2", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftddl2.root", loc.getParent)
    s.sql(
      s"""SELECT nation_key, count(*) AS n,
         |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
         |  min(c_custkey) AS min_cust
         |FROM graftddl2.`${loc.getName}`
         |GROUP BY nation_key ORDER BY nation_key""".stripMargin)
  }

  /** METADATA-ONLY RENAME COLUMN under live DML: ingest supplier,
    * rename BOTH a key column and a data column (each ONE metadata
    * commit — the `graft.physical` column mapping keeps every
    * existing file bound by its stable parquet name, so zero data
    * files rewrite at any table size), then UPSERT and DELETE
    * through the NEW declared names (bucket co-location, zone maps
    * and bloom sidecars all still bind physically). The read-back
    * under the new names must equal DuckDB applying the same
    * mutations relationally to the raw parquet — the renames changed
    * names, never values or row identity. */
  def tx_rename_mapping(s: SparkSession, dir: String): DataFrame = {
    val supp = t(s, dir, "supplier")
      .select("s_suppkey", "s_nationkey", "s_acctbal")
    supp.createOrReplaceTempView("graft_rnm_base")
    val table = cached(dir, "supplier", "renmap", 5L) { loc =>
      new TxTable(s, loc, supp.schema, Seq("s_suppkey"), numBuckets = 4)
    } { tx =>
      tx.createIfAbsent() // v0
      val loc = new java.io.File(tx.dir)
      s.conf.set("spark.sql.catalog.graftrnm", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftrnm.root", loc.getParent)
      val ident = s"graftrnm.`${loc.getName}`"
      s.sql(s"INSERT INTO $ident SELECT * FROM graft_rnm_base")        // v1
      s.sql(s"ALTER TABLE $ident RENAME COLUMN s_suppkey TO supp_id")  // v2
      s.sql(s"ALTER TABLE $ident RENAME COLUMN s_acctbal TO balance")  // v3
      // DML binds the new declared names; rows land in the SAME
      // buckets their pre-rename versions occupy (physical key hash)
      s.sql(
        s"""UPDATE $ident SET balance = balance + 100.0
           |WHERE supp_id % 3 = 0""".stripMargin)                      // v4
      s.sql(s"DELETE FROM $ident WHERE supp_id % 10 = 7")              // v5
    }
    val loc = new java.io.File(table.dir)
    s.conf.set("spark.sql.catalog.graftrnm", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftrnm.root", loc.getParent)
    s.sql(
      s"""SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
         |  count(*) AS n,
         |  CAST(sum(CAST(balance AS DECIMAL(18,2))) AS DOUBLE) AS bal,
         |  max(supp_id) AS last_supp
         |FROM graftrnm.`${loc.getName}`
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** SQL `MERGE INTO` through the row-level-operation surface
    * ([[graft.sources.GraftRowLevelOperation]]) — the reference's
    * load-bearing ON-CONFLICT upsert (`services/api/src/repository.ts:
    * 25-78`) as pure SQL text: matched suppliers get their balance
    * bumped (UPDATE → deletion-vector tombstone + staged re-insert,
    * ONE commit, zero data-file rewrites), unmatched source rows
    * insert. The read-back must equal DuckDB computing the same merge
    * relationally from the raw parquet. */
  def tx_sql_merge(s: SparkSession, dir: String): DataFrame = {
    val supp = t(s, dir, "supplier")
      .select("s_suppkey", "s_nationkey", "s_acctbal")
    supp.createOrReplaceTempView("graft_merge_base")
    val table = cached(dir, "supplier", "sqlmerge", 2L) { loc =>
      new TxTable(s, loc, supp.schema, Seq("s_suppkey"), numBuckets = 4)
    } { tx =>
      tx.createIfAbsent() // v0 — records the _table.json descriptor
      val loc = new java.io.File(tx.dir)
      s.conf.set("spark.sql.catalog.graftmrg", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftmrg.root", loc.getParent)
      val ident = s"graftmrg.`${loc.getName}`"
      s.sql(s"INSERT INTO $ident SELECT * FROM graft_merge_base")  // v1
      s.sql(
        s"""MERGE INTO $ident AS t
           |USING (
           |  SELECT s_suppkey, s_nationkey, s_acctbal + 100.0 AS s_acctbal
           |  FROM graft_merge_base WHERE s_suppkey % 3 = 0
           |  UNION ALL
           |  SELECT s_suppkey + 100000, s_nationkey, s_acctbal
           |  FROM graft_merge_base WHERE s_suppkey % 5 = 0
           |) AS src ON t.s_suppkey = src.s_suppkey
           |WHEN MATCHED THEN UPDATE SET s_acctbal = src.s_acctbal
           |WHEN NOT MATCHED THEN INSERT (s_suppkey, s_nationkey, s_acctbal)
           |  VALUES (src.s_suppkey, src.s_nationkey, src.s_acctbal)
           |""".stripMargin)                                        // v2
    }
    val loc = new java.io.File(table.dir)
    s.conf.set("spark.sql.catalog.graftmrg", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftmrg.root", loc.getParent)
    s.sql(
      s"""SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
         |  count(*) AS n,
         |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
         |  max(s_suppkey) AS last_supp
         |FROM graftmrg.`${loc.getName}`
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** SQL `MERGE INTO` with ALL THREE clause families — WHEN MATCHED
    * (conditional DELETE + UPDATE), WHEN NOT MATCHED (INSERT), and
    * `WHEN NOT MATCHED BY SOURCE` (conditional DELETE + UPDATE, the
    * Spark-3.4+ syncing form a CDC full-snapshot apply needs: target
    * rows the source no longer carries are retired in the SAME
    * statement). Planned through the same [[graft.sources
    * .GraftRowLevelOperation]] delta rewrite as [[tx_sql_merge]] —
    * by-source clauses make the rewrite a FULL OUTER join instead of
    * left-outer, and every touched row still lands as deletion-vector
    * tombstone + staged re-insert in ONE commit. Read-back must equal
    * DuckDB computing the same three-way merge relationally. */
  def tx_sql_merge_source(s: SparkSession, dir: String): DataFrame = {
    val supp = t(s, dir, "supplier")
      .select("s_suppkey", "s_nationkey", "s_acctbal")
    supp.createOrReplaceTempView("graft_mrgsrc_base")
    val table = cached(dir, "supplier", "sqlmrgsrc", 2L) { loc =>
      new TxTable(s, loc, supp.schema, Seq("s_suppkey"), numBuckets = 4)
    } { tx =>
      tx.createIfAbsent() // v0
      val loc = new java.io.File(tx.dir)
      s.conf.set("spark.sql.catalog.graftmrg", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftmrg.root", loc.getParent)
      val ident = s"graftmrg.`${loc.getName}`"
      s.sql(s"INSERT INTO $ident SELECT * FROM graft_mrgsrc_base") // v1
      s.sql(
        s"""MERGE INTO $ident AS t
           |USING (
           |  SELECT s_suppkey, s_nationkey, s_acctbal + 100.0 AS s_acctbal
           |  FROM graft_mrgsrc_base WHERE s_suppkey % 2 = 0
           |  UNION ALL
           |  SELECT s_suppkey + 200000, s_nationkey, s_acctbal
           |  FROM graft_mrgsrc_base WHERE s_suppkey % 7 = 0
           |) AS src ON t.s_suppkey = src.s_suppkey
           |WHEN MATCHED AND src.s_acctbal > 5000.0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET s_acctbal = src.s_acctbal
           |WHEN NOT MATCHED THEN INSERT (s_suppkey, s_nationkey, s_acctbal)
           |  VALUES (src.s_suppkey, src.s_nationkey, src.s_acctbal)
           |WHEN NOT MATCHED BY SOURCE AND t.s_acctbal < 0.0 THEN DELETE
           |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET s_acctbal = 0.0
           |""".stripMargin)                                        // v2
    }
    val loc = new java.io.File(table.dir)
    s.conf.set("spark.sql.catalog.graftmrg", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftmrg.root", loc.getParent)
    s.sql(
      s"""SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
         |  count(*) AS n,
         |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
         |  max(s_suppkey) AS last_supp
         |FROM graftmrg.`${loc.getName}`
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** `MERGE … WITH SCHEMA EVOLUTION` end-to-end: the source carries
    * a column the target lacks; the one statement widens the target
    * through the catalog's AddColumn path (the table's
    * AUTOMATIC_SCHEMA_EVOLUTION capability) AND applies the
    * update/insert rows — pre-merge rows read the new column as
    * null. Must equal DuckDB computing the widened merge
    * relationally from raw parquet. */
  def tx_sql_merge_evolve(s: SparkSession, dir: String): DataFrame = {
    val supp = t(s, dir, "supplier")
      .select("s_suppkey", "s_nationkey", "s_acctbal")
    supp.createOrReplaceTempView("graft_mrgevo_base")
    val table = cached(dir, "supplier", "sqlmrgevo", 3L) { loc =>
      new TxTable(s, loc, supp.schema, Seq("s_suppkey"), numBuckets = 4)
    } { tx =>
      tx.createIfAbsent() // v0
      val loc = new java.io.File(tx.dir)
      s.conf.set("spark.sql.catalog.graftmev", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftmev.root", loc.getParent)
      val ident = s"graftmev.`${loc.getName}`"
      s.sql(s"INSERT INTO $ident SELECT * FROM graft_mrgevo_base") // v1
      s.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $ident AS t
           |USING (
           |  SELECT s_suppkey, s_nationkey,
           |    s_acctbal + 50.0 AS s_acctbal,
           |    CONCAT('T', CAST(s_suppkey % 3 AS STRING)) AS tier
           |  FROM graft_mrgevo_base WHERE s_suppkey % 4 = 0
           |) AS src ON t.s_suppkey = src.s_suppkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *
           |""".stripMargin) // v2 (AddColumn) + v3 (row delta)
    }
    val loc = new java.io.File(table.dir)
    s.conf.set("spark.sql.catalog.graftmev", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftmev.root", loc.getParent)
    s.sql(
      s"""SELECT COALESCE(tier, 'none') AS tier, count(*) AS n,
         |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
         |  max(s_suppkey) AS last_supp
         |FROM graftmev.`${loc.getName}`
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** SQL `UPDATE` with an expression predicate (no metadata-delete
    * shortcut possible — the full row-level path: scan with position
    * identity, delete+reinsert split, one guarded commit). Must equal
    * DuckDB applying the same CASE relationally. */
  def tx_sql_update(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val table = cached(dir, "customer", "sqlupd", 2L) { loc =>
      new TxTable(s, loc, cust.schema, Seq("c_custkey"), numBuckets = 4)
    } { tx =>
      tx.createIfAbsent() // v0
      tx.append(cust)     // v1
      val loc = new java.io.File(tx.dir)
      s.conf.set("spark.sql.catalog.graftupd", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftupd.root", loc.getParent)
      s.sql(s"UPDATE graftupd.`${loc.getName}` " +
        "SET c_acctbal = c_acctbal + 50.0 WHERE c_custkey % 7 = 0") // v2
    }
    val loc = new java.io.File(table.dir)
    s.conf.set("spark.sql.catalog.graftupd", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftupd.root", loc.getParent)
    s.sql(
      s"""SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
         |  count(*) AS n,
         |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
         |FROM graftupd.`${loc.getName}`
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** AGGREGATE PUSHDOWN, route-or-fail: whole-table COUNT(*)/MIN/MAX
    * through the provider must be served by the metadata-only
    * [[graft.sources.GraftAggScan]] (footer row counts + zone-map
    * extrema — zero data I/O at any table size; the required plan
    * shape is asserted, a silent fallback to a real scan FAILS), and
    * the answer must equal DuckDB's full-scan recompute. */
  def tx_sql_agg_pushdown(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val table = cached(dir, "orders", "aggpush-us", 2L) { loc =>
      new TxTable(s, loc, o.schema, Seq("o_orderkey"), numBuckets = 4)
    } { tx =>
      tx.append(o.filter(col("o_orderkey") % 2 === 0)) // v1
      tx.append(o.filter(col("o_orderkey") % 2 === 1)) // v2
    }
    s.read.format("graft").load(table.dir)
      .createOrReplaceTempView("graft_aggpush_orders")
    // numeric extrema only: the Verify session writes INT96 timestamps
    // (no usable footer stats), so a timestamp extremum would honestly
    // decline the pushdown; timestamp min/max pushdown is covered by
    // GraftDataSourceSpec whose session writes micros
    val q = s.sql(
      """SELECT count(*) AS n, min(o_orderkey) AS min_key,
        |  max(o_orderkey) AS max_key,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust
        |FROM graft_aggpush_orders""".stripMargin)
    require(q.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      "aggregate pushdown did not fire - the metadata-only scan is " +
        "REQUIRED for this row")
    q
  }

  /** STORAGE-PARTITIONED JOIN, route-or-fail: customer and orders
    * ingested into graft tables CO-BUCKETED on the customer key (same
    * key semantics, same bucket count), joined through catalog
    * identifiers under `spark.sql.graft.preserveDataGrouping` — the
    * plan is REQUIRED to contain zero Exchange below the join (Spark
    * proves co-location by resolving both sides' `bucket(n, key)`
    * transform through [[graft.sources.GraftBucketFunction]]), and
    * the aggregate over the shuffle-free join must equal DuckDB's
    * recompute. At 100 TB this is the fact-to-fact join shuffle —
    * usually the plan's single largest cost — made zero by layout. */
  def tx_sql_spj_join(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val ords = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    val tc = cached(dir, "customer", "spjc", 1L) { loc =>
      new TxTable(s, loc, cust.schema, Seq("c_custkey"), numBuckets = 4)
    } { tx => tx.append(cust) }
    val to = cached(dir, "orders", "spjo", 1L) { loc =>
      new TxTable(s, loc, ords.schema, Seq("o_custkey"), numBuckets = 4)
    } { tx => tx.append(ords) }
    s.conf.set("spark.sql.catalog.graftspj", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftspj.root",
      new java.io.File(tc.dir).getParent)
    val cId = s"graftspj.`${new java.io.File(tc.dir).getName}`"
    val oId = s"graftspj.`${new java.io.File(to.dir).getName}`"
    val toggles = Seq(
      "spark.sql.graft.preserveDataGrouping" -> "true",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = toggles.map { case (k, _) => k -> s.conf.getOption(k) }
    toggles.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val joined = s.sql(
        s"""SELECT c.c_nationkey, o.o_totalprice
           |FROM $cId c JOIN $oId o ON c.c_custkey = o.o_custkey""".stripMargin)
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange") && plan.contains("SortMergeJoin"),
        "storage-partitioned join did not fire - a shuffle-free " +
          s"co-bucketed join is REQUIRED for this row:\n$plan")
      val agg = joined
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n"),
          Qhelpers.msum(col("o_totalprice")).as("total"))
        .orderBy("nationkey")
      // execute UNDER the SPJ confs (restored after), return the rows
      val rows = agg.collect()
      s.createDataFrame(
        java.util.Arrays.asList(rows: _*), agg.schema)
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** NATIVE STREAMING SINK end to end
    * ([[graft.sources.GraftStreamingWrite]]): the events feed streams
    * through `writeStream.format("graft")` into a TxTable — executor
    * tasks stage straight to parquet, the epoch commit rides the
    * guarded protocol with the `stream_batch:` exactly-once ledger —
    * and the aggregate read BACK from the sunk table must equal DuckDB
    * aggregating the raw feed. This is the reference's continuous
    * ingest (`src/jobs/scan.ts` lands fetched batches in the store)
    * with zero foreachBatch glue: a graft table on both ends of a
    * streaming pipeline. Replay convergence + multi-epoch + upsert /
    * complete modes are pinned in GraftStreamSinkSpec. */
  def tx_stream_sink(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet")
      .select("event_id", "event_type", "value")
    // tag v2: the ledger value format changed to "<epoch>:<rows>"
    val table = cached(dir, "events", "streamsink2", 1L) { loc =>
      new TxTable(s, loc, raw.schema, Seq("event_id"), numBuckets = 4)
    } { tx =>
      tx.createIfAbsent() // v0 — records the _table.json descriptor
      // feed: a graft table on the SOURCE end too (round-12 tail
      // source) — the full graft→graft streaming pipeline
      val feedDir = java.nio.file.Files
        .createTempDirectory("streamsink-feed").toString + "/t"
      val feed = new TxTable(s, feedDir, raw.schema, Seq("event_id"),
        numBuckets = 4)
      feed.append(raw)
      val q = s.readStream.format("graft")
        .option("startingVersion", "-1").load(feedDir)
        .writeStream.format("graft")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("streamsink-ck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(tx.dir) // v1 — epoch 0 lands through appendIf + ledger
      q.awaitTermination()
    }
    require(table.latestMeta(
        table.commitMeta(1L).keys.find(_.startsWith("stream_batch:")).get)
        .exists(_.startsWith("0:")),
      "streaming sink did not record its epoch ledger")
    s.read.format("graft").load(table.dir)
      .createOrReplaceTempView("graft_stream_sunk")
    s.sql(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM graft_stream_sunk
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx_stream_sink" -> (tx_stream_sink _),
    "tx_sql_spj_join" -> (tx_sql_spj_join _),
    "tx_sql_agg_pushdown" -> (tx_sql_agg_pushdown _),
    "tx_rename_mapping" -> (tx_rename_mapping _),
    "tx_sql_merge" -> (tx_sql_merge _),
    "tx_sql_merge_source" -> (tx_sql_merge_source _),
    "tx_sql_merge_evolve" -> (tx_sql_merge_evolve _),
    "tx_sql_update" -> (tx_sql_update _),
    "tx_skipping_scan" -> (tx_skipping_scan _),
    "tx_sql_provider" -> (tx_sql_provider _),
    "tx_sql_dml" -> (tx_sql_dml _),
    "tx_sql_ddl2" -> (tx_sql_ddl2 _),
    "tx_cdc_diff" -> (tx_cdc_diff _),
    "tx_dv_delete" -> (tx_dv_delete _),
    "tx_evolution_read" -> (tx_evolution_read _),
    "tx_zorder_scan" -> (tx_zorder_scan _),
    "tx_bloom_lookup" -> (tx_bloom_lookup _),
    "tx_restore_read" -> (tx_restore_read _),
    "tx_clone_read" -> (tx_clone_read _),
    "tx_compact_read" -> (tx_compact_read _),
    "tx_check_read" -> (tx_check_read _),
    "tx_repair_read" -> (tx_repair_read _),
    "tx_delta_roundtrip" -> (tx_delta_roundtrip _),
    "tx_delta_dv_roundtrip" -> (tx_delta_dv_roundtrip _),
    "tx_copy_into" -> (tx_copy_into _),
    "tx_sql_defaults" -> (tx_sql_defaults _),
    "tx_delta_map_roundtrip" -> (tx_delta_map_roundtrip _),
    "tx_delta_idmap_roundtrip" -> (tx_delta_idmap_roundtrip _),
    "tx_sql_identity" -> (tx_sql_identity _),
    "tx_sql_generated" -> (tx_sql_generated _),
    "tx_stream_copy" -> (tx_stream_copy _),
    "tx_stream_hive" -> (tx_stream_hive _),
    "tx_iceberg_stream_tail" -> (tx_iceberg_stream_tail _),
    "tx_iceberg_changes_merge" -> (tx_iceberg_changes_merge _),
    "tx_sql_analyze" -> (tx_sql_analyze _),
    "tx_export_expire" -> (tx_export_expire _),
    "tx_variant_store" -> (tx_variant_store _),
    "tx_delta_variant_roundtrip" -> (tx_delta_variant_roundtrip _),
    "tx_iceberg_stats_roundtrip" -> (tx_iceberg_stats_roundtrip _),
    "tx_variant_uniform" -> (tx_variant_uniform _),
    "tx_delta_shredded_roundtrip" -> (tx_delta_shredded_roundtrip _),
    "tx_delta_skip_read" -> (tx_delta_skip_read _),
    "tx_iceberg_skip_read" -> (tx_iceberg_skip_read _),
    "tx_iceberg_partition_read" -> (tx_iceberg_partition_read _),
    "tx_delta_idmode_roundtrip" -> (tx_delta_idmode_roundtrip _),
    "tx_sql_txn" -> (tx_sql_txn _),
    "tx_stream_dedup" -> (tx_stream_dedup _),
    "tx_iceberg_map_roundtrip" -> (tx_iceberg_map_roundtrip _),
    "tx_delta_cdf" -> (tx_delta_cdf _),
    "tx_relocate_read" -> (tx_relocate_read _),
    "tx_branch_wap" -> (tx_branch_wap _),
    "tx_stream_evolve" -> (tx_stream_evolve _),
    "tx_iceberg_roundtrip" -> (tx_iceberg_roundtrip _),
    "tx_uniform_roundtrip" -> (tx_uniform_roundtrip _),
    "tx_iceberg_dv_roundtrip" -> (tx_iceberg_dv_roundtrip _),
    "tx_iceberg_v3_dv_roundtrip" -> (tx_iceberg_v3_dv_roundtrip _),
    "scd2_incr_build" -> (scd2_incr_build _),
    "mv_routed_agg" -> (mv_routed_agg _),
    "mv_routed_sql" -> (mv_routed_sql _),
    "mv_routed_join" -> (mv_routed_join _),
    "mv_routed_join_subset" -> (mv_routed_join_subset _),
    "mv_sketch_distinct" -> (mv_sketch_distinct _),
    "mv_routed_having" -> (mv_routed_having _),
    "mv_routed_minmax" -> (mv_routed_minmax _))

  val oracle: Map[String, String] = Map(
    // rows landed through the streaming sink ≡ the raw feed
    "tx_stream_sink" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |    AS total
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the shuffle-free co-bucketed join must equal the ordinary join
    "tx_sql_spj_join" ->
      s"""SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
         |  count(*) AS n,
         |  ${Qhelpers.sqlMsum("o_totalprice")} AS total
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // metadata-served aggregates must equal the full-scan recompute
    "tx_sql_agg_pushdown" ->
      """SELECT count(*) AS n, min(o_orderkey) AS min_key,
        |  max(o_orderkey) AS max_key,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust
        |FROM orders""".stripMargin,
    // SQL MERGE INTO through row-level ops must equal DuckDB
    // computing the same merge relationally from the raw parquet
    "tx_sql_merge" ->
      """WITH merged AS (
        |  SELECT s_suppkey, s_nationkey,
        |    CASE WHEN s_suppkey % 3 = 0 THEN s_acctbal + 100.0
        |         ELSE s_acctbal END AS s_acctbal
        |  FROM supplier
        |  UNION ALL
        |  SELECT s_suppkey + 100000, s_nationkey, s_acctbal
        |  FROM supplier WHERE s_suppkey % 5 = 0
        |)
        |SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
        |  count(*) AS n,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |  max(s_suppkey) AS last_supp
        |FROM merged
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // MERGE WITH SCHEMA EVOLUTION: matched %4 suppliers take the
    // bumped balance and a tier; everyone else reads tier as null
    "tx_sql_merge_evolve" ->
      """WITH merged AS (
        |  SELECT s_suppkey,
        |    CASE WHEN s_suppkey % 4 = 0 THEN s_acctbal + 50.0
        |         ELSE s_acctbal END AS s_acctbal,
        |    CASE WHEN s_suppkey % 4 = 0
        |         THEN 'T' || CAST(s_suppkey % 3 AS VARCHAR)
        |         ELSE NULL END AS tier
        |  FROM supplier
        |)
        |SELECT COALESCE(tier, 'none') AS tier, count(*) AS n,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |  max(s_suppkey) AS last_supp
        |FROM merged
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // metadata-only renames + DML through the new names must equal
    // DuckDB applying the same mutations relationally on raw parquet
    "tx_rename_mapping" ->
      """WITH mutated AS (
        |  SELECT s_suppkey AS supp_id, s_nationkey,
        |    CASE WHEN s_suppkey % 3 = 0 THEN s_acctbal + 100.0
        |         ELSE s_acctbal END AS balance
        |  FROM supplier
        |  WHERE s_suppkey % 10 <> 7
        |)
        |SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
        |  count(*) AS n,
        |  CAST(sum(CAST(balance AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |  max(supp_id) AS last_supp
        |FROM mutated
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // three-clause-family MERGE (incl. NOT MATCHED BY SOURCE) must
    // equal DuckDB's relational recomputation: matched rows whose
    // bumped balance tops 5000 are deleted, other matched rows take
    // the bumped balance, source-absent rows are deleted when
    // negative else zeroed, and source-only rows insert
    "tx_sql_merge_source" ->
      """WITH src AS (
        |  SELECT s_suppkey, s_nationkey, s_acctbal + 100.0 AS s_acctbal
        |  FROM supplier WHERE s_suppkey % 2 = 0
        |  UNION ALL
        |  SELECT s_suppkey + 200000 AS s_suppkey, s_nationkey, s_acctbal
        |  FROM supplier WHERE s_suppkey % 7 = 0
        |), merged AS (
        |  SELECT t.s_suppkey, t.s_nationkey, s.s_acctbal
        |  FROM supplier t JOIN src s ON t.s_suppkey = s.s_suppkey
        |  WHERE s.s_acctbal <= 5000.0
        |  UNION ALL
        |  SELECT t.s_suppkey, t.s_nationkey, 0.0 AS s_acctbal
        |  FROM supplier t
        |  WHERE t.s_suppkey % 2 <> 0 AND t.s_acctbal >= 0.0
        |  UNION ALL
        |  SELECT s.s_suppkey, s.s_nationkey, s.s_acctbal
        |  FROM src s LEFT JOIN supplier t ON t.s_suppkey = s.s_suppkey
        |  WHERE t.s_suppkey IS NULL
        |)
        |SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
        |  count(*) AS n,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |  max(s_suppkey) AS last_supp
        |FROM merged
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // SQL UPDATE (expression predicate → full row-level path)
    "tx_sql_update" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |  count(*) AS n,
        |  CAST(sum(CAST(
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 50.0
        |         ELSE c_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS bal
        |FROM customer
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the DSv2 provider must be INVISIBLE semantically: SQL through it
    // equals DuckDB over the raw parquet the table ingested
    "tx_sql_provider" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_quantity >= 25
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // SQL INSERT + DELETE + SELECT through the catalog must equal
    // DuckDB over the raw parquet minus the deleted predicate
    "tx_sql_dml" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
        |  count(*) AS n,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |  min(s_suppkey) AS first_supp
        |FROM supplier
        |WHERE NOT (s_suppkey % 4 = 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the DDL renamed nk_old->nation_key and widened int->bigint;
    // values must be untouched, so the oracle recomputes under the
    // NEW names from raw parquet
    "tx_sql_ddl2" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nation_key,
        |  count(*) AS n,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |  min(c_custkey) AS min_cust
        |FROM customer
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "tx_skipping_scan" ->
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
        |       CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mo,
        |       COUNT(*) AS n,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "tx_cdc_diff" ->
      """WITH base AS (
        |  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 <> 0),
        |upd AS (
        |  SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal
        |  FROM customer WHERE c_custkey % 5 = 0)
        |SELECT 'insert' AS _change_type, c_custkey, c_acctbal
        |FROM upd WHERE c_custkey NOT IN (SELECT c_custkey FROM base)
        |UNION ALL
        |SELECT 'update_preimage', b.c_custkey, b.c_acctbal
        |FROM base b JOIN upd u ON b.c_custkey = u.c_custkey
        |UNION ALL
        |SELECT 'update_postimage', u.c_custkey, u.c_acctbal
        |FROM base b JOIN upd u ON b.c_custkey = u.c_custkey
        |ORDER BY c_custkey, _change_type""".stripMargin,
    "tx_dv_delete" ->
      s"""SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
         |       COUNT(*) AS n_suppliers,
         |       ${Qhelpers.sqlMsum("s_acctbal")} AS total_bal,
         |       MIN(s_suppkey) AS first_supp
         |FROM supplier
         |WHERE NOT (s_suppkey % 3 = 0)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "tx_evolution_read" ->
      """SELECT n_nationkey, n_name,
        |       CASE WHEN n_nationkey >= 13 THEN 'N-' || n_name END AS note
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "tx_zorder_scan" ->
      """SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS custkey,
        |       o_totalprice AS totalprice
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 300 AND o_totalprice < 100000
        |ORDER BY o_orderkey""".stripMargin,
    "tx_bloom_lookup" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_custkey = 7
        |ORDER BY o_orderkey""".stripMargin,
    "tx_restore_read" ->
      """SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS nationkey
        |FROM supplier WHERE s_suppkey <= 100
        |ORDER BY s_suppkey""".stripMargin,
    "tx_clone_read" ->
      """SELECT s_suppkey,
        |       CASE WHEN s_suppkey = 1 THEN 'CLONED' ELSE s_name END AS s_name,
        |       CAST(s_nationkey AS BIGINT) AS nationkey
        |FROM supplier
        |ORDER BY s_suppkey""".stripMargin,
    // compaction is a pure layout rewrite — the aggregate must equal
    // the raw-parquet recompute (house DECIMAL money fold)
    "tx_compact_read" ->
      s"""SELECT p_brand, COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("p_retailprice")} AS total_price,
         |       MIN(p_partkey) AS first_key
         |FROM part
         |GROUP BY p_brand
         |ORDER BY p_brand""".stripMargin,
    // incremental maintenance must be invisible: the batched build
    // answers to the SAME SQL as the one-shot scd2_build
    "scd2_incr_build" -> Relational7.oracle("scd2_build"),
    // admitted data must be indistinguishable from never having had a
    // constraint — the oracle reads the RAW customer parquet
    "tx_check_read" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("c_acctbal")} AS total_bal,
         |       MIN(c_custkey) AS first_cust
         |FROM customer
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin,
    // after repair the table must be indistinguishable from the
    // source — the oracle recomputes the summary from RAW orders
    "tx_repair_read" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("o_totalprice")} AS total,
         |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
         |FROM orders
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin,
    // both appends together reconstitute orders; the light delete +
    // materialize removes exactly the urgent rows — the Delta-read
    // aggregate must equal the raw-parquet recompute of that state
    "tx_delta_roundtrip" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("o_totalprice")} AS total,
         |       MIN(o_orderkey) AS min_key
         |FROM orders
         |WHERE o_orderpriority <> '1-URGENT'
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    // both appends reconstitute orders; the light (merge-on-read)
    // delete tombstones the F rows, which the Delta export carries as
    // NATIVE deletion vectors — the import-side aggregate must equal
    // the raw-parquet recompute of that masked state
    // evolve+upsert replay: even keys arrived pre-evolution (total
    // NULL unless re-sent), %4==0 keys were re-sent WITH the new
    // column, odd keys arrived post-evolution with it
    "tx_stream_evolve" ->
      s"""WITH t AS (
         |  SELECT o_orderkey, o_orderpriority,
         |         CASE WHEN o_orderkey % 4 = 2 THEN NULL
         |              ELSE o_totalprice END AS total
         |  FROM orders)
         |SELECT o_orderpriority, COUNT(*) AS n, COUNT(total) AS n_total,
         |       ${Qhelpers.sqlMsum("total")} AS sum_total,
         |       MIN(o_orderkey) AS min_key
         |FROM t
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    // main held only even keys pre-publish; the branch flip must admit
    // exactly the odd half - the aggregate equals ALL of orders
    "tx_branch_wap" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("o_totalprice")} AS total,
         |       MIN(o_orderkey) AS min_key
         |FROM orders
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin,
    // relocation is path-only: the aggregate equals raw supplier
    "tx_relocate_read" ->
      s"""SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
         |       COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("s_acctbal")} AS bal,
         |       MIN(s_suppkey) AS min_supp
         |FROM supplier
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the feed's classes recomputed from raw parquet: the even keys
    // were the initial inserts; 'O'-status %4==0 keys updated (+10),
    // carrying pre and post images; 'F'-status rows deleted
    "tx_delta_cdf" ->
      s"""WITH base AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
         |upd AS (SELECT * FROM base
         |        WHERE o_orderkey % 4 = 0 AND o_orderstatus = 'O'),
         |del AS (SELECT * FROM base WHERE o_orderstatus = 'F')
         |SELECT 'delete' AS change_type, COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("o_totalprice")} AS total FROM del
         |UNION ALL SELECT 'insert', COUNT(*),
         |       ${Qhelpers.sqlMsum("o_totalprice")} FROM base
         |UNION ALL SELECT 'update_postimage', COUNT(*),
         |       ${Qhelpers.sqlMsum("o_totalprice + 10")} FROM upd
         |UNION ALL SELECT 'update_preimage', COUNT(*),
         |       ${Qhelpers.sqlMsum("o_totalprice")} FROM upd
         |ORDER BY change_type""".stripMargin,
    "tx_delta_dv_roundtrip" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("o_totalprice")} AS total,
         |       MIN(o_orderkey) AS min_key
         |FROM orders
         |WHERE o_orderstatus <> 'F'
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    // inserts omitting defaulted columns resolve CURRENT_DEFAULT at
    // insert time: first batch under 'pending', second under 'new'
    // with an explicit score — DuckDB recomputes the same rows
    "tx_sql_defaults" ->
      """WITH rows_t AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |    'pending' AS status, CAST(0 AS BIGINT) AS score
        |  FROM nation WHERE n_regionkey < 2
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS BIGINT), 'new',
        |    CAST(n_regionkey AS BIGINT)
        |  FROM nation WHERE n_regionkey >= 2
        |)
        |SELECT status, count(*) AS n,
        |  CAST(sum(score) AS BIGINT) AS total_score,
        |  min(n_nationkey) AS first_key
        |FROM rows_t
        |GROUP BY status ORDER BY status""".stripMargin,
    // COPY INTO ran twice over the same source plus once after a new
    // file landed: the ledger makes that exactly the full supplier
    // table, which is what DuckDB aggregates directly
    "tx_copy_into" ->
      s"""SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
         |  count(*) AS n,
         |  ${Qhelpers.sqlMsum("s_acctbal")} AS bal,
         |  max(s_suppkey) AS last_supp
         |FROM supplier
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // renamed columns ride the Delta export as columnMapping name
    // mode; the import surfaces the DECLARED names over the same
    // bytes, so the oracle recomputes under aliases on raw parquet
    "tx_delta_map_roundtrip" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("o_totalprice")} AS total,
         |       MIN(o_orderkey) AS min_key
         |FROM orders
         |WHERE o_orderstatus <> 'F'
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    // overlapping re-deliveries suppressed by checkpointed dedup
    // state land the supplier table exactly once
    "tx_stream_dedup" ->
      s"""SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
         |  count(*) AS n,
         |  ${Qhelpers.sqlMsum("s_acctbal")} AS bal,
         |  max(s_suppkey) AS max_supp
         |FROM supplier
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // stats pruning may only SKIP files, never filter rows - the
    // import-side filtered aggregate equals the relational recompute
    "tx_delta_skip_read" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("o_totalprice")} AS total,
         |       MIN(o_orderkey) AS min_key
         |FROM orders
         |WHERE o_totalprice < 50000.0
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    // manifest-bounds pruning must be invisible in the result —
    // DuckDB applies the same predicate relationally
    "tx_iceberg_skip_read" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("o_totalprice")} AS total,
         |       MIN(o_orderkey) AS min_key
         |FROM orders
         |WHERE o_totalprice < 50000.0
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    // bucket[N] partition pruning must be invisible in the result —
    // DuckDB evaluates the same IN-list relationally
    "tx_iceberg_partition_read" ->
      s"""SELECT o_orderkey, o_custkey,
         |       o_totalprice AS price
         |FROM orders
         |WHERE o_orderkey IN (3, 17, 42, 111, 256, 999)
         |ORDER BY o_orderkey""".stripMargin,
    // three streamed source files + a no-op re-run reconstitute the
    // supplier table exactly once - DuckDB aggregates it directly
    "tx_stream_copy" ->
      s"""SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
         |  count(*) AS n,
         |  ${Qhelpers.sqlMsum("s_acctbal")} AS bal,
         |  min(s_suppkey) AS min_supp
         |FROM supplier
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // both dialects re-serve the same variant bytes: each half of the
    // union must equal DuckDB's recompute from the raw JSON minus the
    // DV-deleted keys
    "tx_variant_uniform" ->
      s"""SELECT dialect, n, total, min_k FROM (
         |  SELECT 'delta' AS dialect, count(*) AS n,
         |    ${Qhelpers.sqlMsum("value")} AS total, MIN(k) AS min_k
         |  FROM (SELECT CAST(json_extract_string(props, '$$.k') AS INTEGER)
         |          AS k, value FROM events WHERE event_id % 11 <> 0)
         |  WHERE k IS NOT NULL
         |  UNION ALL
         |  SELECT 'iceberg', count(*),
         |    ${Qhelpers.sqlMsum("value")}, MIN(k)
         |  FROM (SELECT CAST(json_extract_string(props, '$$.k') AS INTEGER)
         |          AS k, value FROM events WHERE event_id % 11 <> 0)
         |  WHERE k IS NOT NULL)
         |ORDER BY dialect""".stripMargin,
    // exact-mode theta sketches round-tripped through the Puffin
    // file must equal DuckDB's count(DISTINCT)
    "tx_iceberg_stats_roundtrip" ->
      """SELECT col, ndv FROM (
        |  SELECT 's_nationkey' AS col,
        |    count(DISTINCT s_nationkey) AS ndv FROM supplier
        |  UNION ALL
        |  SELECT 's_suppkey', count(DISTINCT s_suppkey) FROM supplier)
        |ORDER BY col""".stripMargin,
    // the variantType-featured Delta export re-served through our
    // importer must aggregate exactly like DuckDB's recompute from
    // the raw JSON text minus the DV-deleted keys
    "tx_delta_variant_roundtrip" ->
      s"""SELECT CAST(FLOOR(k / 10) AS INTEGER) AS k_bucket,
         |  count(*) AS n, MIN(k) AS min_k,
         |  ${Qhelpers.sqlMsum("value")} AS total_value
         |FROM (SELECT CAST(json_extract_string(props, '$$.k') AS INTEGER)
         |        AS k, value FROM events WHERE event_id % 7 <> 0)
         |WHERE k IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the shredded twin reassembles typed subcolumns + residual back
    // to variant; DuckDB recomputes from raw JSON (different staging
    // filter than the unshredded row, so the fixtures can't mask
    // each other)
    "tx_delta_shredded_roundtrip" ->
      s"""SELECT CAST(FLOOR(k / 10) AS INTEGER) AS k_bucket,
         |  count(*) AS n, MIN(k) AS min_k,
         |  ${Qhelpers.sqlMsum("value")} AS total_value
         |FROM (SELECT CAST(json_extract_string(props, '$$.k') AS INTEGER)
         |        AS k, value FROM events WHERE event_id % 3 <> 0)
         |WHERE k IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // every partition-path region value must land typed on every row
    // of its directory's files - DuckDB recomputes from the raw column
    "tx_stream_hive" ->
      s"""SELECT CAST(s_nationkey AS BIGINT) AS region,
         |  count(*) AS n,
         |  ${Qhelpers.sqlMsum("s_acctbal")} AS bal,
         |  min(s_suppkey) AS min_supp
         |FROM supplier
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // variant-stored props must aggregate exactly like DuckDB's
    // recompute from the raw JSON text
    "tx_variant_store" ->
      s"""SELECT CAST(FLOOR(k / 10) AS INTEGER) AS k_bucket,
         |  count(*) AS n, MIN(k) AS min_k,
         |  ${Qhelpers.sqlMsum("value")} AS total_value
         |FROM (SELECT CAST(json_extract_string(props, '$$.k') AS INTEGER)
         |        AS k, value FROM events)
         |WHERE k IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // after expire sweeps both exported trees, each dialect's read
    // must still equal the post-delete state DuckDB recomputes
    "tx_export_expire" ->
      s"""SELECT dialect, count(*) AS n,
         |  ${Qhelpers.sqlMsum("p_retailprice")} AS price,
         |  max(p_partkey) AS max_key
         |FROM (SELECT 'delta' AS dialect, p_retailprice, p_partkey
         |        FROM part WHERE p_partkey % 7 <> 0
         |      UNION ALL
         |      SELECT 'iceberg', p_retailprice, p_partkey
         |        FROM part WHERE p_partkey % 7 <> 0)
         |GROUP BY dialect ORDER BY dialect""".stripMargin,
    // the exact ANALYZE declaration must equal DuckDB's own
    // count(DISTINCT) per column
    "tx_sql_analyze" ->
      """SELECT col, ndv FROM (
        |  SELECT 'c_custkey' AS col,
        |         count(DISTINCT c_custkey) AS ndv FROM customer
        |  UNION ALL
        |  SELECT 'c_nationkey', count(DISTINCT c_nationkey) FROM customer
        |  UNION ALL
        |  SELECT 'c_mktsegment', count(DISTINCT c_mktsegment) FROM customer
        |) ORDER BY col""".stripMargin,
    // the changelog stream reconstitutes the post-delete state: two
    // insert snapshots plus a position-delete retraction, applied in
    // sequence order - DuckDB computes the final state relationally
    "tx_iceberg_changes_merge" ->
      s"""SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
         |  count(*) AS n,
         |  ${Qhelpers.sqlMsum("c_acctbal")} AS bal,
         |  min(c_custkey) AS min_cust
         |FROM customer WHERE c_custkey % 9 <> 0
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // two Iceberg snapshots tail-streamed into the sink exactly once
    // - DuckDB aggregates the customer table directly
    "tx_iceberg_stream_tail" ->
      s"""SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
         |  count(*) AS n,
         |  ${Qhelpers.sqlMsum("c_acctbal")} AS bal,
         |  min(c_custkey) AS min_cust
         |FROM customer
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // identity ids may carry gaps but must cover every row uniquely;
    // DuckDB recomputes the invariants from the raw supplier table
    "tx_sql_identity" ->
      s"""SELECT count(*) AS n, count(*) AS distinct_ids,
         |       CAST(0 AS BIGINT) AS null_ids,
         |       ${Qhelpers.sqlMsum("s_acctbal")} AS bal
         |FROM supplier""".stripMargin,
    // the engine groups by the STORED generated o_year values; DuckDB
    // recomputes the grouping from the base column — any wrong/null
    // materialization shifts rows between groups
    "tx_sql_generated" ->
      s"""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         |       COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("o_totalprice")} AS bal
         |FROM orders
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // a stock id-mode table's columns bind by parquet footer field
    // id; the import surfaces the declared names over the same rows,
    // so the oracle recomputes directly from the raw customer parquet
    // the committed txn's state, relationally: the aborted txn's
    // insert must be invisible (rolled back), the committed one fully
    // visible in BOTH tables
    "tx_sql_txn" ->
      s"""SELECT a.n_regionkey AS region, COUNT(*) AS n_rows,
         |       MIN(a.n_nationkey) AS min_key, MAX(b.cnt) AS region_cnt
         |FROM (SELECT * FROM nation WHERE n_nationkey < 10) a
         |JOIN (SELECT n_regionkey AS r_key, count(*) AS cnt
         |      FROM nation WHERE n_nationkey < 10
         |      GROUP BY n_regionkey) b
         |  ON a.n_regionkey = b.r_key
         |GROUP BY a.n_regionkey
         |ORDER BY region""".stripMargin,
    // export-side id mode: footer-id-bound read must be relationally
    // invisible (same aggregate from the raw parquet)
    "tx_delta_idmode_roundtrip" ->
      s"""SELECT c_mktsegment AS segment, COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("c_acctbal")} AS bal,
         |       MIN(c_custkey) AS min_cust
         |FROM customer
         |GROUP BY c_mktsegment
         |ORDER BY segment""".stripMargin,
    "tx_delta_idmap_roundtrip" ->
      s"""SELECT c_mktsegment AS segment, COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("c_acctbal")} AS bal_sum,
         |       MIN(c_custkey) AS min_cust
         |FROM customer
         |GROUP BY c_mktsegment
         |ORDER BY segment""".stripMargin,
    // renamed columns ride the Iceberg export via
    // schema.name-mapping.default; the import surfaces declared names
    // over the same bytes with the position-deletes masked
    "tx_iceberg_map_roundtrip" ->
      s"""SELECT p_brand, COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("p_retailprice")} AS total,
         |       MIN(p_partkey) AS min_key
         |FROM part
         |WHERE p_size <= 40
         |GROUP BY p_brand
         |ORDER BY p_brand""".stripMargin,
    // both appends reconstitute part; the copy-on-write delete removes
    // the big sizes — the ICEBERG-read aggregate must equal the
    // raw-parquet recompute of that state
    "tx_iceberg_roundtrip" ->
      s"""SELECT p_brand, COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("p_retailprice")} AS total,
         |       MIN(p_partkey) AS min_key
         |FROM part
         |WHERE p_size <= 40
         |GROUP BY p_brand
         |ORDER BY p_brand""".stripMargin,
    // both appends reconstitute part; the light (merge-on-read)
    // delete tombstones the big sizes, which the Iceberg export
    // carries as v2 POSITION-DELETE files — the import-side aggregate
    // must equal the raw-parquet recompute of that masked state
    "tx_iceberg_dv_roundtrip" ->
      s"""SELECT p_brand, COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("p_retailprice")} AS total,
         |       MIN(p_partkey) AS min_key
         |FROM part
         |WHERE p_size <= 40
         |GROUP BY p_brand
         |ORDER BY p_brand""".stripMargin,
    // the v3 DV (Puffin blob) representation of the same tombstones
    // must reconstitute the identical masked state
    "tx_iceberg_v3_dv_roundtrip" ->
      s"""SELECT p_brand, COUNT(*) AS n,
         |       ${Qhelpers.sqlMsum("p_retailprice")} AS total,
         |       MIN(p_partkey) AS min_key
         |FROM part
         |WHERE p_size <= 40
         |GROUP BY p_brand
         |ORDER BY p_brand""".stripMargin,
    // both dialects read the same live rows, so both column pairs
    // recompute identically from the raw part table
    "tx_uniform_roundtrip" ->
      s"""SELECT p_brand AS brand, COUNT(*) AS n_delta,
         |       ${Qhelpers.sqlMsum("p_retailprice")} AS bal_delta,
         |       COUNT(*) AS n_iceberg,
         |       ${Qhelpers.sqlMsum("p_retailprice")} AS bal_iceberg
         |FROM part
         |WHERE p_size <= 40
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "mv_routed_agg" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       SUM(l_quantity) AS sum_qty, COUNT(l_quantity) AS n_qty
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // the SQL-text route must produce the same rows as the DataFrame
    // route — one oracle shape, two query surfaces
    "mv_routed_sql" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       SUM(l_quantity) AS sum_qty, COUNT(l_quantity) AS n_qty
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // the joined aggregate must equal the raw fact-join-dim recompute;
    // quantities are integer-valued doubles, so the double sums are
    // order-independent and exact in both engines
    "mv_routed_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "mv_routed_having" ->
      """SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |HAVING l_returnflag <> 'R'
        |   AND COUNT(*) > (SELECT COUNT(*) // 4 FROM lineitem)
        |ORDER BY l_returnflag""".stripMargin,
    // sparse-exact sketch cardinality → the view's estimate must equal
    // DuckDB's exact COUNT(DISTINCT) on raw parquet
    "mv_sketch_distinct" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        | COUNT(DISTINCT date_trunc('month', l_shipdate)) AS nd_months
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // join route + subset grouping + HAVING: routed result must equal
    // the raw fact-join-dim recompute under the same post-agg filter
    "mv_routed_join_subset" ->
      """SELECT o_orderstatus, l_returnflag, COUNT(*) AS n,
        |       SUM(l_quantity) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus, l_returnflag
        |HAVING l_returnflag <> 'R'
        |   AND COUNT(*) > (SELECT COUNT(*) // 12 FROM lineitem)
        |ORDER BY o_orderstatus, l_returnflag""".stripMargin,
    // extrema are comparison-only (no summation-order concerns) — the
    // routed result must equal the raw-parquet recompute exactly
    "mv_routed_minmax" ->
      """SELECT l_returnflag, MIN(l_quantity) AS min_qty,
        |       MAX(l_quantity) AS max_qty, COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
}
