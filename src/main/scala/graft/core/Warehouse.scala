package graft.core

import org.apache.spark.sql.SparkSession

/** The domain tables of one deployment, each a [[TxTable]] under
  * `root`. The reference's write semantics (SURVEY §2.1) map onto
  * TxTable's methods:
  *
  *  - `append`           — plain INSERT (S12)
  *  - `insertIfAbsent`   — INSERT .. ON CONFLICT DO NOTHING (S9)
  *  - `upsert`           — INSERT .. ON CONFLICT DO UPDATE (S10/S13)
  *  - `deleteWhere`      — DELETE (S16)
  *  - `truncate`         — TRUNCATE (S17)
  */
final class Warehouse(val spark: SparkSession, val root: String) {

  def domainTable(name: String): TxTable = {
    val (schema, keys) = graft.domain.Schemas.tables(name)
    new TxTable(spark, s"$root/$name", schema, keys,
      Warehouse.bucketedTables.getOrElse(name, 16))
  }

  /** Alias of [[domainTable]], kept for callers compiled against it. */
  def domainTxTable(name: String): TxTable = domainTable(name)

  /** Create every domain table that doesn't exist yet (replaces the
    * reference's SQL migration runner, `src/db.ts:29-75`). */
  def createAll(): Unit =
    graft.domain.Schemas.tables.keys.foreach(domainTable(_).createIfAbsent())

  /** Run `body` as a crash-safe multi-table job over the named domain
    * tables (the reference's per-job Postgres transaction analog —
    * see [[JobTxn]] for the exact semantics and caveats). */
  def jobTxn[A](names: Seq[String])(body: => A): A =
    JobTxn.run(spark, s"$root/_txn",
      names.map(n => n -> domainTable(n)))(body)

  /** Roll back any job that crashed mid-write (journal present) —
    * run at startup before new jobs. Returns journals recovered. */
  def recoverJobTxns(): Int =
    JobTxn.recover(spark, s"$root/_txn", domainTable)

  /** Register every domain table as a temp view so the spark.sql
    * surface can query the warehouse by name (SURVEY §1.1 catalog
    * registration). */
  def registerViews(): Unit =
    graft.domain.Schemas.tables.keys.foreach { n =>
      domainTable(n).read.createOrReplaceTempView(n)
    }

  /** Scheduled-maintenance sweep (the lakehouse OPTIMIZE job; the
    * reference's Postgres autovacuum/index-maintenance analog):
    * compact every domain table whose data-file count exceeds
    * `maxFiles`, then vacuum it to `keepVersions` so compaction
    * reclaims space instead of doubling it (old versions' files stay
    * until vacuum). Returns table →
    * (filesBefore, filesAfter) for the tables compacted. Safe to run
    * from a cron/stream trigger WHILE writers are live: compaction is
    * an ordinary optimistic commit (rebased on conflict), and vacuum
    * deletes nothing younger than `vacuumMinAgeMs` — size that window
    * above BOTH the longest reader job lifetime and the longest
    * in-flight commit (see [[TxTable.vacuum]]). */
  def compactAll(maxFiles: Int = 16, keepVersions: Int = 3,
      vacuumMinAgeMs: Long = TxTable.DefaultVacuumRetentionMs,
      /** Output files are sized from ACTUAL bytes (≈ this many bytes
        * per file — the Delta/Iceberg target-file-size knob; see
        * [[TxTable.compactTo]]) instead of one file per bucket
        * regardless of table size. */
      targetFileBytes: Long = Warehouse.DefaultTargetFileBytes): Map[String, (Int, Int)] =
    graft.domain.Schemas.tables.keys.toSeq.sorted.flatMap { n =>
      val t = domainTable(n)
      val before = t.dataFileCount
      if (before > maxFiles) {
        t.compactTo(targetFileBytes)
        t.vacuum(keepVersions, vacuumMinAgeMs)
        Some(n -> (before, t.dataFileCount))
      } else None
    }.toMap
}

object Warehouse {
  /** Default compaction file-size target (the 128 MiB lakehouse
    * convention: big enough for scan efficiency, small enough for
    * task-level parallelism and tight zone maps). */
  val DefaultTargetFileBytes: Long = 128L * 1024 * 1024

  /** Bucket counts of the tables the reference mutates per pipeline
    * step (`repository.ts:25-78` upsert, run/review status updates):
    * a key-addressed write rewrites only the touched buckets' files,
    * so a 1-row status update (S13) moves one bucket's worth of data,
    * not the whole table. Other domain tables get 16. Counts are
    * sized for test scale; at 100 TB, size them so one bucket ≈ a few
    * GB (buckets ≈ tableBytes / 4 GiB) — the untouched 99.9% of files
    * are then never opened. The protocol is count-agnostic. */
  val bucketedTables: Map[String, Int] = Map(
    "regulation_items" -> 16,
    "source_documents" -> 16,
    "runs" -> 8,
    "review_queue" -> 8,
    "vector_chunks" -> 16)
}
