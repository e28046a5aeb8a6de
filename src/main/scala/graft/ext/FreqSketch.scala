package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MERGEABLE frequency summaries — the ingest-path answer to
  * "what are the top terms so far?" at 100 TB, completing the sketch
  * store family ([[DistinctSketch]] = distincts, [[HistogramSketch]] =
  * quantiles, this = frequent items). Each ingest batch persists its
  * Misra–Gries summary (≤ `capacity` (item, cnt) rows) plus one meta
  * row; any later top-k / frequent-items ask folds the stored
  * summaries — cost ∝ batches × capacity, never the corpus.
  *
  * Mergeability is the published mergeable-summaries result (Agarwal
  * et al.): summing two MG summaries item-wise and trimming back to
  * capacity (subtract the (capacity+1)-th largest count, keep
  * positives) preserves the guarantee — every stored count is a LOWER
  * bound, undercounting its item by at most the sum of the trim
  * pivots recorded in the meta rows (plus each batch's own in-summary
  * undercount, bounded the same way). While nothing ever trims —
  * vocabulary inside `capacity` — every count is EXACT, the meta rows
  * prove it, and frequent-items asks are oracle-checkable (the same
  * exact-regime discipline as the HLL sparse mode and the KMV sketch).
  */
object FreqSketch {

  /** Aggregate + append this batch's summary. Distributed shape: every
    * partition runs bounded Misra–Gries state ([[HeavyHitters]]) and
    * reports its decrement-event count (its per-item undercount
    * budget; 0 = the partition summary is an exact census); the
    * ≤ capacity × partitions partial rows sum per item, and the
    * mergeable trim needs only the top capacity+1 summed rows
    * (entries ranked below the pivot cannot survive the subtraction) —
    * a TakeOrdered, never a full sort; ≤ capacity+1 rows reach the
    * driver. Meta records (capacity, trimmed, budget) per batch, where
    * budget = merge-trim pivot + partition decrement events — the
    * batch's total per-item undercount bound. Batches land in
    * per-batch partition directories with OVERWRITE, so replaying a
    * batch id is idempotent rather than double-counting. */
  def addBatch(batch: DataFrame, itemCol: String, dir: String,
      batchId: Long, capacity: Int = 4096): Unit =
    addBatchKeyed(batch, itemCol, dir, batchId.toString, capacity)

  /** String-keyed [[addBatch]] — the sanitized run id IS the batch
    * partition value, so distinct runs can never hash-collide into
    * one overwritten directory (see [[StoreKeys.sanitize]]). */
  def addBatchKeyed(batch: DataFrame, itemCol: String, dir: String,
      batchKey: String, capacity: Int = 4096): Unit = {
    val batchId = StoreKeys.sanitize(batchKey)
    val s = batch.sparkSession
    import s.implicits._
    validateCapacity(s, dir, capacity)
    // one pass over the batch; the bounded partials are cached for
    // their two consumers (top-k fold + decrement total) and released
    // before return
    val partials = batch.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
      .as[String]
      .mapPartitions { it =>
        val (summary, dec) = HeavyHitters.misraGriesWithStats(it, capacity)
        (summary.map { case (i, c) => (i, c, 0L) } :+
          ((null: String, 0L, dec))).iterator
      }
      .toDF("item", "cnt", "dec")
      .persist()
    try {
      val top = partials.filter(col("item").isNotNull)
        .groupBy("item").agg(sum("cnt").as("cnt"))
        .orderBy(desc("cnt"), asc("item"))
        .limit(capacity + 1)
        .as[(String, Long)].collect()
      val decrements = {
        val r = partials.agg(coalesce(sum("dec"), lit(0L))).head
        r.getLong(0)
      }
      val mergeTrim = top.length > capacity
      val pivot = if (mergeTrim) top.last._2 else 0L
      val budget = pivot + decrements
      val rows = (if (mergeTrim) top.init.map { case (i, c) => (i, c - pivot) }
        .filter(_._2 > 0L).toSeq else top.toSeq)
      // per-batch partition directories, OVERWRITTEN: a replayed batch
      // (idempotent ScanJob re-run, crash between the two writes)
      // rewrites the same bytes instead of appending a double-counting
      // duplicate — counts merge by summing, so append-on-replay would
      // silently double every count while exactness() still read clean
      rows.toDF("item", "cnt")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/freq/batch_id=$batchId")
      Seq((capacity, budget > 0L, budget))
        .toDF("capacity", "trimmed", "pivot")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/meta/batch_id=$batchId")
    } finally { partials.unpersist(); () }
  }

  /** GROUPED batch append: one Misra–Gries summary per `groupCol`
    * group (per-group rows (grp, item, cnt) + per-group meta), the
    * store shape behind per-jurisdiction / per-language frequent-item
    * asks. Distributed end to end: per-partition per-group bounded
    * states ([[HeavyHitters.misraGriesByGroup]]) emit ≤ capacity
    * candidate rows per (partition, group) plus a sentinel row
    * carrying the group's decrement-event count; the partials sum per
    * (group, item); the mergeable trim ranks WITHIN each group
    * (row_number over a window partitioned by group — the ranked
    * slice is ≤ (capacity+1) × groups rows, control-plane sized) and
    * subtracts each group's own pivot. Nothing is collected to the
    * driver — the trimmed rows and meta write straight from
    * executors. Same overwrite-per-batch-directory idempotence as
    * [[addBatch]]. Meta's `pivot` records each group's total per-item
    * undercount budget (merge-trim pivot + that group's partition
    * decrement events). */
  def addBatchGrouped(batch: DataFrame, groupCol: String, itemCol: String,
      dir: String, batchId: Long, capacity: Int = 4096): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    validateCapacity(s, dir, capacity)
    val partials = batch.select(col(groupCol).cast("string").as("grp"),
        col(itemCol).cast("string").as("item"))
      .filter(col("grp").isNotNull && col("item").isNotNull)
      .as[(String, String)]
      .mapPartitions { it =>
        HeavyHitters.misraGriesByGroup(it, capacity).flatMap {
          case (g, st) =>
            st.summary.map { case (i, c) => (g, i, c, 0L) } :+
              ((g, null: String, 0L, st.decrements))
        }
      }
      .toDF("grp", "item", "cnt", "dec")
      .persist()
    try {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("grp").orderBy(desc("cnt"), asc("item"))
      // ≤ (capacity+1) × groups rows survive the rank — checkpointed
      // once for their two consumers (trimmed rows, per-group pivots)
      val ranked = partials.filter(col("item").isNotNull)
        .groupBy("grp", "item").agg(sum("cnt").as("cnt"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= capacity + 1)
        .localCheckpoint(true)
      val pivots = ranked.filter(col("rk") === capacity + 1)
        .select(col("grp"), col("cnt").as("trim_pivot"))
      val decs = partials.filter(col("item").isNull)
        .groupBy("grp").agg(sum("dec").as("dec"))
      ranked.filter(col("rk") <= capacity)
        .join(broadcast(pivots), Seq("grp"), "left")
        .withColumn("cnt", col("cnt") - coalesce(col("trim_pivot"), lit(0L)))
        .filter(col("cnt") > 0L)
        .select("grp", "item", "cnt")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/freq/batch_id=$batchId")
      decs.join(broadcast(pivots), Seq("grp"), "left")
        .select(col("grp"), lit(capacity).as("capacity"),
          (coalesce(col("trim_pivot"), lit(0L)) + col("dec") > 0L)
            .as("trimmed"),
          (coalesce(col("trim_pivot"), lit(0L)) + col("dec")).as("pivot"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/meta/batch_id=$batchId")
    } finally { partials.unpersist(); () }
  }

  /** Group-wise fold of a grouped store: (grp, item, cnt) — exact
    * while [[exactness]] reports (true, 0) (the meta schema is shared,
    * so the exactness discipline is too). */
  def mergedGrouped(spark: SparkSession, dir: String): DataFrame =
    StoreRead.parquet(spark, s"$dir/freq")
      .groupBy("grp", "item").agg(sum("cnt").as("cnt"))

  /** Per-group frequent items served entirely from a grouped store:
    * items whose group frequency × den > the group's item count ×
    * num. Exact-regime only, like [[frequentFromStore]] — in that
    * regime each group's summed counts ARE its corpus counts, so the
    * per-group stored totals are the thresholds' n. */
  def frequentFromStoreGrouped(spark: SparkSession, dir: String,
      num: Long, den: Long): DataFrame = {
    val (exact, _) = exactness(spark, dir)
    require(exact,
      "store has trimmed batches; exact frequent-items needs the " +
        "untrimmed regime (raise capacity or verify against the corpus)")
    val m = mergedGrouped(spark, dir)
    val totals = m.groupBy("grp").agg(sum("cnt").as("grp_total"))
    m.join(broadcast(totals), Seq("grp"))
      .filter(col("cnt") * den > col("grp_total") * num)
      .drop("grp_total")
      .orderBy(asc("grp"), desc("cnt"), asc("item"))
  }

  /** Item-wise fold of every stored summary: (item, cnt). Counts are
    * exact while [[exactness]] reports (true, 0); otherwise lower
    * bounds with total undercount ≤ the reported pivot sum. The fold
    * reads ∝ batches × capacity rows — never the corpus. */
  def merged(spark: SparkSession, dir: String): DataFrame =
    StoreRead.parquet(spark, s"$dir/freq")
      .groupBy("item").agg(sum("cnt").as("cnt"))

  /** (every stored count is exact, summed per-item undercount budget
    * across batches — merge-trim pivots + partition decrement events). */
  def exactness(spark: SparkSession, dir: String): (Boolean, Long) = {
    val m = StoreRead.parquet(spark, s"$dir/meta")
      .agg(max(col("trimmed").cast("int")), sum("pivot")).head
    (m.getInt(0) == 0, m.getLong(1))
  }

  /** Items whose total frequency × den > corpus count × num, with
    * exact counts, heaviest first — served ENTIRELY from the store
    * (in the exact regime the summed counts ARE the corpus counts, so
    * the stored total is the threshold's n). Refuses the estimate
    * regime: a trimmed store holds lower-bound counts, not
    * oracle-exact thresholds. */
  def frequentFromStore(spark: SparkSession, dir: String,
      num: Long, den: Long): DataFrame = {
    val (exact, _) = exactness(spark, dir)
    require(exact,
      "store has trimmed batches; exact frequent-items needs the " +
        "untrimmed regime (raise capacity or verify against the corpus)")
    val m = merged(spark, dir)
    val total = m.agg(sum("cnt")).head.getLong(0)
    m.filter(col("cnt") * den > lit(total) * num)
      .orderBy(desc("cnt"), asc("item"))
  }

  /** One store = one capacity: summaries trimmed at different
    * capacities carry incompatible error budgets. */
  private def validateCapacity(spark: SparkSession, dir: String,
      capacity: Int): Unit = {
    require(capacity > 0, "capacity must be positive")
    try {
      val caps = StoreRead.parquet(spark, s"$dir/meta")
        .select("capacity").distinct().collect().map(_.getInt(0))
      require(caps.forall(_ == capacity),
        s"store capacity ${caps.mkString(",")} != $capacity")
    } catch { case e: Exception
        if e.getMessage != null && e.getMessage.contains("PATH_NOT_FOUND") =>
      ()
    }
  }
}
