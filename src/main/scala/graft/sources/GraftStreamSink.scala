package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

import graft.core.TxTable

/** NATIVE STREAMING SINK for graft tables —
  * `df.writeStream.format("graft").start(dir)` and
  * `.toTable("lake.t")` land micro-batches in a [[TxTable]] through
  * the guarded commit protocol, EXACTLY-ONCE, with no `foreachBatch`
  * glue. This is the write half of the round-12 streaming tail
  * source: a graft table can now sit on BOTH ends of a streaming
  * pipeline (`readStream.table("lake.raw")` → transforms →
  * `writeStream.toTable("lake.clean")`), the composition the
  * reference's scan pipeline implies (`src/jobs/scan.ts` lands
  * fetched batches in the store continuously).
  *
  * Exactly-once: Structured Streaming replays the last epoch after a
  * crash between the sink commit and the checkpoint write. Every
  * epoch commit here carries the per-query watermark
  * `stream_batch:<tag>` → epochId in the commit metadata — riding
  * the SAME atomic manifest rename as the data — and the commit is a
  * guarded `appendIf`/`upsertIf`/`replaceIf` whose precondition
  * re-reads that watermark from the snapshot at each attempt's
  * claimed base. A replayed epoch sees itself already applied and
  * becomes a no-op; a replay racing an unrelated writer cannot slip
  * a duplicate in behind the check (the CAS contract of
  * `TxTable.upsertIf`). The key matches
  * [[graft.streaming.StreamingView]]'s convention, so a sink-fed
  * table and a foreachBatch-fed table speak the same ledger.
  *
  * Scale: executor tasks stage their rows straight to parquet
  * ([[RowParquet]], the row-level-DML staging writer) — commit
  * messages carry FILE PATHS, never rows, so driver coordination is
  * O(tasks). The epoch commit then reads the staged files as a
  * DataFrame and hands them to the table's own append/upsert, which
  * re-buckets by the table keys, runs CHECK admission, and lays out
  * blooms exactly like every other write path.
  *
  * Modes:
  *  - default (`outputMode("append")`): `appendIf` — log-style ingest;
  *  - `.option("graft.mode", "upsert")`: `upsertIf` — last-writer-wins
  *    by the table's key columns; REQUIRED for `outputMode("update")`
  *    (the sink refuses update-as-blind-append: on a keyed table that
  *    would silently duplicate keys);
  *  - `outputMode("complete")`: `replaceIf` — the epoch's full result
  *    replaces the table (live aggregate tables).
  */
private[sources] object GraftStreamSink {
  /** Commit-metadata key carrying the last applied epoch — the shared
    * [[graft.core.StreamLedger]] convention (same ledger as
    * `StreamingView.start`'s foreachBatch watermark). */
  def metaKey(tag: String): String = graft.core.StreamLedger.key(tag)

  sealed trait Mode
  case object AppendMode extends Mode
  case object UpsertMode extends Mode
  case object ReplaceMode extends Mode

  /** `df` shaped to the table schema — [[TxTable.conformTo]], the one
    * conform every write surface shares, plus a refusal for columns
    * the table lacks (a silent drop would eat typos). */
  def conformTo(target: StructType, df: DataFrame): DataFrame = {
    val unknown = df.columns
      .filterNot(c => target.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(unknown.isEmpty,
      s"streaming batch columns [${unknown.mkString(", ")}] are not in " +
        "the table schema - evolve the table first " +
        "(ALTER TABLE ... ADD COLUMNS / TxTable.addColumns)")
    TxTable.conformTo(df, target)
  }
}

/** One epoch task's commit message: the staged parquet path (absent
  * if the task saw no rows), its row count, and the sum of per-row
  * Murmur3 value hashes. rows+hash are LOAD-BEARING, not telemetry:
  * summed across tasks (order-independent) they are the epoch's
  * content fingerprint in the exactly-once ledger — a replayed epoch
  * must reproduce both or the commit fails honestly. */
final case class GraftStreamTaskResult(file: Option[String], rows: Long,
    hashSum: Long) extends WriterCommitMessage

final class GraftStreamingWrite(dir: String, incoming: StructType,
    tag: String, mode: GraftStreamSink.Mode, evolve: Boolean = false)
    extends StreamingWrite {
  import GraftStreamSink._

  private val stageDir = s"$dir/.stage-stream-$tag"

  // executor writers rebuild filesystems from the driver's Hadoop
  // configuration (object-store credentials/endpoints), same pattern
  // as the row-level delta writers
  private val hadoopConfKv: Array[(String, String)] = {
    import scala.jdk.CollectionConverters._
    SparkSession.active.sparkContext.hadoopConfiguration
      .iterator().asScala.map(e => e.getKey -> e.getValue).toArray
  }

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    GraftStreamWriterFactory(stageDir, incoming, hadoopConfKv)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val results = messages.collect { case m: GraftStreamTaskResult => m }
    val files = results.flatMap(_.file).toSeq
    val rowCount = results.map(_.rows).sum
    val contentHash = results.map(_.hashSum).sum
    try {
      val tx = GraftDataSource.openForRead(spark, dir)
      val key = metaKey(tag)
      import graft.core.StreamLedger
      // Replay vs re-checkpoint, told apart instead of guessed: a TRUE
      // crash-replay re-sends exactly the LAST committed epoch with the
      // same content (deterministic source replay from checkpointed
      // offsets) — same id, same row count, same value-hash sum →
      // converge to a no-op. A pinned graft.tag under a FRESH
      // checkpoint resets epoch ids to 0 while the source may have
      // changed; silently skipping would LOSE the difference, so an
      // epoch id BEHIND the ledger, or the same id with a different
      // content fingerprint (even at equal cardinality), FAILS with
      // the remedy named.
      val recorded = tx.latestMeta(key).map(StreamLedger.parse)
      val skip = recorded match {
        case Some((e, _, _)) if e > epochId =>
          throw new IllegalStateException(
            s"stream ledger '$key' of $dir is at epoch $e but this run " +
              s"sent epoch $epochId: a pinned graft.tag was restarted " +
              "from a FRESH checkpoint after the ledger advanced - " +
              "resuming would silently skip data. Resume the original " +
              "checkpoint, or use a new tag (replaying the whole source " +
              "into the ledgered table converges via the per-epoch " +
              "no-op only when epoch ids line up)")
        case Some((e, rOpt, hOpt)) if e == epochId =>
          if (rOpt.forall(_ == rowCount) && hOpt.forall(_ == contentHash))
            true // the true-replay no-op
          else throw new IllegalStateException(
            s"stream ledger '$key' of $dir already applied epoch $e " +
              s"with ${rOpt.getOrElse("?")} row(s) / content hash " +
              s"${hOpt.getOrElse("?")}, but this run's epoch $epochId " +
              s"carries $rowCount row(s) / hash $contentHash: same " +
              "epoch id, different content (pinned tag + fresh " +
              "checkpoint over a changed source) - a silent skip would " +
              "lose the difference. Use a new tag or resume the " +
              "original checkpoint")
        case _ => false
      }
      if (!skip) {
        def fresh(snap: TxTable.Snapshot): Boolean =
          !snap.meta(key).map(StreamLedger.epochOf).exists(_ >= epochId)
        val meta = Map(key -> StreamLedger.format(epochId, rowCount,
          contentHash))
        val target = tx.currentSchema
        def raw: DataFrame = spark.read.schema(incoming).parquet(files: _*)
        def batch: DataFrame = conformTo(target, raw)
        mode match {
          case ReplaceMode =>
            // an EMPTY complete-mode epoch is still a result ("the
            // aggregate is now empty") and must replace
            val full =
              if (files.isEmpty)
                spark.createDataFrame(
                  java.util.Collections.emptyList[org.apache.spark.sql.Row](),
                  target)
              else batch
            tx.replaceIf(full, meta)(fresh)
          case UpsertMode =>
            // empty epochs skip entirely: appending/upserting nothing
            // is idempotent under replay, no ledger commit needed
            if (files.nonEmpty) {
              if (evolve) tx.upsertEvolvingIf(raw, meta)(fresh)
              else tx.upsertIf(batch, meta)(fresh)
            }
          case AppendMode =>
            if (files.nonEmpty) {
              if (evolve) tx.appendEvolvingIf(raw, meta)(fresh)
              else tx.appendIf(batch, meta)(fresh)
            }
        }
        ()
      }
    } finally cleanup(files)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    cleanup(messages
      .collect { case m: GraftStreamTaskResult => m }.flatMap(_.file).toSeq)

  /** Delete THIS epoch's staged files (and the stage dir once empty);
    * other epochs' in-flight files are never touched. */
  private def cleanup(files: Seq[String]): Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val sd = new Path(stageDir)
    val fs = sd.getFileSystem(conf)
    files.foreach(f => fs.delete(new Path(f), false))
    // non-recursive: succeeds only when empty, which is the point
    try { fs.delete(sd, false); () } catch { case _: java.io.IOException => () }
  }
}

final case class GraftStreamWriterFactory(stageDir: String,
    schema: StructType, hadoopConfKv: Array[(String, String)])
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftStreamTaskWriter(stageDir, schema, partitionId, taskId,
      epochId, hadoopConfKv)
}

/** Executor task writer: streams the task's rows to one staged
  * parquet file, lazily opened — a task with no rows stages nothing.
  * Task retries get distinct (partition, task) names; only files
  * named in COMMITTED messages are ever read. */
final class GraftStreamTaskWriter(stageDir: String, schema: StructType,
    partitionId: Int, taskId: Long, epochId: Long,
    hadoopConfKv: Array[(String, String)])
    extends DataWriter[InternalRow] {

  private lazy val conf: Configuration = {
    val c = new Configuration()
    hadoopConfKv.foreach { case (k, v) => c.set(k, v) }
    c
  }
  private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _
  private var rows = 0L
  private var hashSum = 0L
  private def path = s"$stageDir/ins-$epochId-$partitionId-$taskId.parquet"

  /** Per-row VALUE hash (Spark's stable `hash()` murmur3 semantics —
    * value-based, never representation-based, so a replayed epoch
    * re-encoding the same values hashes identically). Summed, not
    * XORed: XOR would cancel duplicate row pairs. */
  private lazy val rowHasher =
    new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
      schema.indices.map(i =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          i, schema(i).dataType, nullable = true)))

  override def write(row: InternalRow): Unit = {
    if (writer == null) {
      val p = new Path(stageDir)
      p.getFileSystem(conf).mkdirs(p)
      writer = RowParquet.open(path, schema, conf)
    }
    writer.write(row)
    rows += 1
    hashSum += rowHasher.eval(row).asInstanceOf[Int].toLong
  }

  override def commit(): WriterCommitMessage = {
    val had = writer != null
    close()
    GraftStreamTaskResult(if (had) Some(path) else None, rows, hashSum)
  }

  override def abort(): Unit = {
    close()
    if (writer != null) {
      new Path(path).getFileSystem(conf).delete(new Path(path), false)
      ()
    }
  }

  override def close(): Unit = if (writer != null) writer.close()
}
