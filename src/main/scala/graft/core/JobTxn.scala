package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Multi-table job boundary with crash-safe compensating rollback —
  * the replacement for the reference's Postgres transaction around a
  * job's multi-table writes (`services/api/src/jobs/scan.ts:35-94`
  * wraps doc + item + review + link inserts in one transaction: a
  * failed job leaves NO partial state).
  *
  * Protocol: before the body runs, an INTENT JOURNAL (job id → every
  * enlisted table's current version) is published atomically to the
  * journal directory. If the body succeeds the journal is deleted —
  * that delete is the commit point of the job. If the body throws,
  * every enlisted table is rolled back to its journaled version via
  * [[TxTable.restore]] and the journal is deleted. If the PROCESS
  * dies mid-job, the journal survives; [[JobTxn.recover]] (run at
  * startup, the WAL-recovery analog) performs the same rollback.
  *
  * Semantics — honest caveats vs a database transaction:
  *  - Atomicity is COMPENSATING, not isolated: concurrent readers can
  *    observe intermediate states while the job runs (snapshot reads
  *    pin a version, so any single read is consistent; cross-table
  *    consistency exists only at job boundaries).
  *  - Rollback restores the WHOLE table to its pre-job version: the
  *    enlisted tables must have a single writing job at a time (the
  *    reference's merge worker is concurrency-1 for the same reason;
  *    its scan workers partition by run). Restore is metadata-only
  *    and forward-only — concurrent READERS are never disturbed, and
  *    the aborted versions stay time-travelable until vacuum.
  *  - A table that did not exist pre-job rolls back to EMPTY
  *    (truncate), not to absent.
  *
  * At 100 TB: the journal is a few hundred bytes of driver-side
  * metadata; rollback cost is O(manifest), zero data I/O, because
  * [[TxTable.restore]] re-links the old file list as a new version.
  */
object JobTxn {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run `body` as a multi-table job over `tables` (name → table).
    * Rolls back every table on failure; journal survives a crash for
    * [[recover]]. Nested/concurrent jobs get distinct journal files. */
  def run[A](spark: SparkSession, journalDir: String,
      tables: Seq[(String, TxTable)])(body: => A): A = {
    require(tables.nonEmpty, "JobTxn requires at least one table")
    require(tables.map(_._1).distinct.size == tables.size,
      "duplicate table names in one JobTxn")
    val f = fs(spark, journalDir)
    f.mkdirs(new Path(journalDir))
    val id = java.util.UUID.randomUUID().toString
    val journal = new Path(journalDir, s"txn-$id.tsv")
    val entries = tables.map { case (n, t) => (n, t, t.currentVersion) }
    writeJournal(spark, journal,
      entries.map { case (n, _, v) => (n, v) })
    val done =
      try body
      catch {
        case e: Throwable =>
          rollback(entries.map { case (_, t, v) => (t, v) })
          // best-effort: a surviving journal on THIS path is safe —
          // recover() re-rolls-back to the same versions
          f.delete(journal, false)
          throw e
      }
    // the delete IS the commit point: a silently-failed delete would
    // make the next recover() roll back a SUCCESSFUL job — that must
    // surface here, not there
    if (!f.delete(journal, false) && f.exists(journal))
      sys.error(s"job committed but its journal $journal could not be " +
        "removed — remove it before restarting, or recovery will roll " +
        "the job back")
    done
  }

  private[graft] def writeJournal(spark: SparkSession, journal: Path,
      entries: Seq[(String, Long)]): Unit = {
    val f = journal.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(journal.getParent, s".${journal.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(entries.map { case (n, v) => s"$n\t$v" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, journal)) {
      f.delete(tmp, false)
      sys.error(s"could not publish job journal $journal")
    }
  }

  private def rollback(entries: Seq[(TxTable, Long)]): Unit =
    entries.foreach { case (t, v) =>
      if (t.currentVersion != v) {
        if (v < 0) { if (t.exists) t.truncate() }
        else t.restore(v)
      }
    }

  /** Recover from crashed jobs: roll every journaled table back to its
    * journaled version and delete the journal. Run at startup before
    * new jobs (the WAL-recovery analog). `resolve` maps a journaled
    * table name to its table. Returns the number of journals
    * recovered.
    *
    * Journals are processed INDEPENDENTLY: one corrupt line or a name
    * `resolve` no longer knows must not block every later startup and
    * starve the healthy journals behind it — such a journal is renamed
    * to `quarantine-<name>` (its versions preserved for manual
    * repair; that job's partial state stands until then) and recovery
    * continues. Monitor the journal dir for quarantine files. */
  def recover(spark: SparkSession, journalDir: String,
      resolve: String => TxTable): Int = {
    val f = fs(spark, journalDir)
    val dir = new Path(journalDir)
    if (!f.exists(dir)) return 0
    val journals = f.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("txn-") && p.getName.endsWith(".tsv"))
    journals.count { j =>
      try {
        val in = f.open(j)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        val entries = text.split("\n").toSeq.filter(_.nonEmpty).map { l =>
          l.split("\t", 2) match {
            case Array(n, v) => (resolve(n), v.toLong)
            case bad => sys.error(s"malformed journal line '${bad.mkString}'")
          }
        }
        rollback(entries)
        f.delete(j, false)
        true
      } catch {
        case scala.util.control.NonFatal(_) =>
          f.rename(j, new Path(dir, s"quarantine-${j.getName}"))
          false
      }
    }
  }
}
