package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.TxTable
import graft.ext.IncrementalView

/** STREAMING materialized-view maintenance — the composition the
  * managed lakehouses sell as "live tables": a stream lands in a
  * [[TxTable]] and one or more [[IncrementalView]]s catch up after
  * every commit, so dashboard aggregates are always one micro-batch
  * behind the stream, never a full recompute away.
  *
  * Per micro-batch: append (or upsert) the batch to the table — ONE
  * table commit — then `refresh()` each view, which reads only that
  * commit's CDC delta, prunes to the affected view buckets, and
  * upserts them ([[IncrementalView]]'s scale contract: a 1-group
  * batch touches one bucket of a 100 TB view).
  *
  * Effectively-once: Structured Streaming can REPLAY a batch after a
  * crash between the table commit and the checkpoint write. The
  * table append is therefore guarded by a per-batch watermark in the
  * commit metadata (`stream_batch:<queryId>` → batchId, riding the
  * same atomic manifest rename as the data): a replayed batch sees
  * its id already applied and skips the write instead of
  * double-appending. View refreshes are idempotent by construction
  * (their own watermark CAS), so the pair (skip, refresh) converges
  * to exactly-once state.
  */
object StreamingView {

  /** Key under which the last applied batch id is committed — the
    * shared [[graft.core.StreamLedger]] convention. */
  private def metaKey(queryTag: String) = graft.core.StreamLedger.key(queryTag)

  /** Start maintaining `views` over `table` from `stream`.
    *
    * @param queryTag stable tag for this stream→table pipeline (the
    *   replay guard is per tag, so two independent streams into one
    *   table don't share a watermark)
    * @param upsert   false = append-only ingest (the common log case);
    *   true = upsert by the table's key columns */
  def start(table: TxTable, views: Seq[IncrementalView], stream: DataFrame,
      checkpointDir: String, queryTag: String,
      upsert: Boolean = false): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // parse via the SHARED ledger convention: a table previously
        // fed by the native sink carries "<epoch>:<rows>:<hash>"
        // values under the same tag, which a bare _.toLong would
        // crash on — epochOf reads the id out of every format
        val applied = table.latestMeta(metaKey(queryTag))
          .map(graft.core.StreamLedger.epochOf)
        if (!applied.exists(_ >= batchId)) {
          val meta = Map(metaKey(queryTag) -> batchId.toString)
          // the precondition reads the watermark from the snapshot at
          // each attempt's claimed base (never floating head state), so
          // a replay racing any other writer cannot slip a duplicate
          // batch in behind the check
          def fresh(snap: TxTable.Snapshot): Boolean =
            !snap.meta(metaKey(queryTag))
              .map(graft.core.StreamLedger.epochOf).exists(_ >= batchId)
          if (upsert) table.upsertIf(batch, meta)(fresh)
          else table.appendIf(batch, meta)(fresh)
          ()
        }
        views.foreach(_.refresh())
      }
      .trigger(Trigger.AvailableNow())
      .start()
}
