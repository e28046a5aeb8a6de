package graft.core

import org.apache.spark.sql.SparkSession

/** The domain tables of one deployment, each a [[TxTable]] under
  * `root`. The reference's write semantics (SURVEY §2.1) map onto
  * TxTable's methods:
  *
  *  - `append`           — plain INSERT (S12)
  *  - `insertIfAbsent`   — INSERT .. ON CONFLICT DO NOTHING (S9)
  *  - `upsert`           — INSERT .. ON CONFLICT DO UPDATE (S10/S13)
  *  - `updateKey`        — UPDATE .. WHERE key = k (S13/S14)
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
}

object Warehouse {
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
