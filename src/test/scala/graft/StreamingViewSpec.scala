package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.TxTable
import graft.ext.IncrementalView
import graft.streaming.{EventStreams, StreamingView}

/** Streaming materialized-view maintenance: a file stream lands in a
  * TxTable micro-batch by micro-batch and IncrementalViews catch up
  * after every commit — final state must equal the batch recompute,
  * and a full REPLAY (fresh checkpoint, same batch ids) must
  * converge, not double-append. */
class StreamingViewSpec extends SparkSpec {
  import spark.implicits._

  private def eventsDir(tag: String, nFiles: Int): String = {
    val dir = tmpDir(tag)
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .repartitionByRange(nFiles, col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def mkTable(tag: String): TxTable =
    new TxTable(spark, tmpDir(tag) + "/t", StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType))), Seq("event_id"), numBuckets = 4)

  private def viewRows(v: IncrementalView) =
    v.read.select("event_type", "cnt", "min_value", "max_value")
      .as[(String, Long, Double, Double)].collect().toSet

  test("per-batch commits keep the view equal to the batch recompute") {
    val src = eventsDir("sv-src", nFiles = 3)
    val table = mkTable("sv-tab")
    val view = new IncrementalView(spark, table, tmpDir("sv-view") + "/v",
      Seq("event_type"), Nil, numBuckets = 2, minMaxCols = Seq("value"))
    val stream = spark.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .select("event_id", "event_type", "value")
    StreamingView.start(table, Seq(view), stream,
      tmpDir("sv-cp"), queryTag = "t1").awaitTermination()

    val batch = spark.read.schema(EventStreams.eventSchema).parquet(src)
      .select("event_id", "event_type", "value")
    assert(table.read.count() === batch.count())
    // one table commit per micro-batch (3 files, 1 per trigger) on top
    // of the v0 create
    assert(table.currentVersion === 3, s"versions=${table.versions}")
    val expect = batch.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), min("value").as("min_value"),
        max("value").as("max_value"))
      .as[(String, Long, Double, Double)].collect().toSet
    assert(viewRows(view) === expect)
    assert(view.appliedVersion === table.currentVersion)
  }

  test("a full replay (fresh checkpoint, same batch ids) converges — no double-append") {
    val src = eventsDir("sv2-src", nFiles = 2)
    val table = mkTable("sv2-tab")
    val view = new IncrementalView(spark, table, tmpDir("sv2-view") + "/v",
      Seq("event_type"), Nil, numBuckets = 2, minMaxCols = Seq("value"))
    def run(cp: String) = {
      val stream = spark.readStream.schema(EventStreams.eventSchema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .select("event_id", "event_type", "value")
      StreamingView.start(table, Seq(view), stream, cp, queryTag = "t1")
        .awaitTermination()
    }
    run(tmpDir("sv2-cp-a"))
    val n = table.read.count()
    val v = table.currentVersion
    val rows = viewRows(view)
    // crash-and-lose-the-checkpoint: every batch replays under the
    // same ids; the per-batch watermark in the commit meta skips them
    run(tmpDir("sv2-cp-b"))
    assert(table.read.count() === n)
    assert(table.currentVersion === v, "replay must not commit again")
    assert(viewRows(view) === rows)
  }

  test("replay racing an unrelated writer: batches apply once, the writer's rows survive") {
    val src = eventsDir("sv3-src", nFiles = 2)
    val table = mkTable("sv3-tab")
    val view = new IncrementalView(spark, table, tmpDir("sv3-view") + "/v",
      Seq("event_type"), Nil, numBuckets = 2, minMaxCols = Seq("value"))
    def run(cp: String) = {
      val stream = spark.readStream.schema(EventStreams.eventSchema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .select("event_id", "event_type", "value")
      StreamingView.start(table, Seq(view), stream, cp, queryTag = "t1")
        .awaitTermination()
    }
    run(tmpDir("sv3-cp-a"))
    val n = table.read.count()
    // checkpoint lost AND a rival writer lands unrelated commits while
    // the batches replay: every replayed batch must skip (its guarded
    // append re-checks the watermark against each claimed base), and
    // none of the rival's commits may be lost to the race
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    try {
      val rival = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (1 to 5).foreach { i =>
          table.upsert(Seq((900000L + i, "rival", i.toDouble))
            .toDF("event_id", "event_type", "value"))
        }
      })
      run(tmpDir("sv3-cp-b"))
      rival.get()
    } finally pool.shutdown()
    assert(table.read.count() === n + 5, "replay dup or lost rival rows")
    view.refresh() // rival commits may postdate the replay's last refresh
    val expect = table.read.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), min("value").as("min_value"),
        max("value").as("max_value"))
      .as[(String, Long, Double, Double)].collect().toSet
    assert(viewRows(view) === expect)
  }

  test("a sink-written ledger value parses here (shared StreamLedger)") {
    // a table previously fed by the NATIVE sink carries
    // "<epoch>:<rows>:<hash>" under the same stream_batch tag; moving
    // the pipeline to foreachBatch must read that ledger, not crash on
    // it, and must honor its watermark
    val src = eventsDir("sv-mig-src", nFiles = 2)
    val table = mkTable("sv-mig-tab")
    val seed = spark.read.schema(EventStreams.eventSchema).parquet(src)
      .select("event_id", "event_type", "value").limit(5)
    table.appendIf(seed,
      Map(graft.core.StreamLedger.key("mig") ->
        graft.core.StreamLedger.format(0L, 5L, 12345L)))(_ => true)
    val before = table.read.count()

    val stream = spark.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .select("event_id", "event_type", "value")
    // batch 0 is behind the sink's watermark (epoch 0 applied) → skip;
    // batch 1 is new → applies. No NumberFormatException anywhere.
    StreamingView.start(table, Nil, stream,
      tmpDir("sv-mig-cp"), queryTag = "mig").awaitTermination()
    assert(graft.core.StreamLedger.epochOf(
      table.latestMeta(graft.core.StreamLedger.key("mig")).get) === 1L)
    assert(table.read.count() > before)
  }
}
