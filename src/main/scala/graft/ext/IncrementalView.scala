package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.TxTable

/** Incrementally-maintained grouped aggregate over a [[TxTable]] — a
  * materialized view refreshed from the table's CDC feed instead of
  * recomputed (the "incremental view maintenance" recipe for
  * distributive aggregates: COUNT and SUM deltas; AVG derives).
  *
  * Scale shape: a refresh reads ONLY the source rows the commits since
  * the last refresh rewrote (`TxTable.changes` diffs manifests
  * driver-side), reduces them to per-group deltas (one small shuffle
  * proportional to the CHANGE volume, never the table), semi-joins the
  * current view down to the affected groups with a broadcast of the
  * delta keys (no view-wide shuffle), and upserts — which itself
  * rewrites only the affected view buckets. A 1-row source change
  * refreshes a 100 TB table's view by reading one bucket and writing
  * one bucket.
  *
  * Crash safety: the applied-source-version watermark is committed IN
  * the view's manifest (`meta` rides the atomic rename — see
  * [[TxTable.commitMeta]]), so refresh-then-crash can never
  * double-apply a delta: either the commit landed (data + watermark
  * together) or neither did. If the watermark version has been
  * vacuumed out of the source's retention horizon, refresh falls back
  * to a full recompute in one `replace` commit.
  *
  * MIN/MAX tracking (`minMaxCols`) follows the standard IVM split for
  * NON-invertible aggregates: inserts merge cheaply
  * (least/greatest against the stored extremum), but a delete can
  * strand a stale extremum — so any group touched by a delete or
  * update_preimage in the refresh window is RECOMPUTED from the
  * source snapshot, pruned to exactly those dirty groups (broadcast
  * semi join; clean groups still take the pure-delta path and the
  * source is never re-aggregated wholesale). Append-mostly sources —
  * the lakehouse norm — pay nothing extra.
  *
  * DISTINCT tracking (`distinctCols`) stores one Datasketches HLL
  * sketch per (group, column) and serves `nd_<c>` — the live
  * per-group approx COUNT(DISTINCT) dashboard column — from the view
  * at zero source cost. Insert deltas UNION into the stored sketch
  * (associative, lossless at fixed lgK); deletes are not invertible,
  * so they ride the same dirty-group recompute as extrema.
  * Sparse-exact at small per-group cardinalities, the standard ~1.6 %
  * envelope beyond (DistinctSketch contract).
  *
  * Caveats (standard for IVM): float sums drift under long ± chains —
  * prefer integral/decimal value columns; groups whose count reaches
  * zero stay as tombstone rows filtered by [[read]].
  */
final class IncrementalView(
    spark: SparkSession,
    val source: TxTable,
    val dir: String,
    val groupCols: Seq[String],
    val sumCols: Seq[String],
    numBuckets: Int = 16,
    val minMaxCols: Seq[String] = Nil,
    val distinctCols: Seq[String] = Nil) {

  require(groupCols.nonEmpty, "IncrementalView requires group columns")
  require(!groupCols.exists(c =>
    c == "cnt" || c.startsWith("sum_") || c.startsWith("nn_") ||
      c.startsWith("min_") || c.startsWith("max_") ||
      c.startsWith("sk_") || c.startsWith("nd_")),
    "group columns may not collide with the view's cnt/sum_*/nn_*/min_*/max_*/sk_*/nd_* columns")
  private val srcSchema = source.currentSchema
  (sumCols ++ minMaxCols ++ distinctCols).foreach { c =>
    require(srcSchema.fieldNames.contains(c), s"unknown tracked column $c")
  }

  private def sumFieldType(c: String): DataType = srcSchema(c).dataType match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType => LongType
    case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
    case _ => DoubleType
  }

  /** Stored schema. Each sum column carries a shadow `nn_<c>` NON-NULL
    * COUNT so the view can reproduce SQL sum semantics exactly: a full
    * recompute's SUM is NULL iff the group has zero non-null values,
    * which plain ±delta arithmetic on the sum alone cannot track
    * (0-from-values vs no-values are indistinguishable). [[read]]
    * projects the shadows away. */
  val schema: StructType = StructType(
    groupCols.map(c => srcSchema(c).copy(nullable = true)) ++
      Seq(StructField("cnt", LongType)) ++
      sumCols.flatMap(c => Seq(
        StructField(s"sum_$c", sumFieldType(c)),
        StructField(s"nn_$c", LongType))) ++
      // extrema store the SOURCE type and may be NULL (a group with no
      // non-null value) — least/greatest skip NULLs, so no shadow
      // column is needed, unlike sums
      minMaxCols.flatMap(c => Seq(
        StructField(s"min_$c", srcSchema(c).dataType),
        StructField(s"max_$c", srcSchema(c).dataType))) ++
      // per-group HLL sketches (Datasketches binary): insert deltas
      // UNION in (associative, lossless at fixed lgK); deletes are not
      // invertible, so delete-touched groups recompute — exactly the
      // min/max discipline. NULL sketch = group saw no non-null value.
      distinctCols.map(c => StructField(s"sk_$c", BinaryType)))

  val table = new TxTable(spark, dir, schema, groupCols, numBuckets)

  private val WatermarkKey = "ivm_src_version"

  /** Source version the view last applied (−1 = never refreshed). */
  def appliedVersion: Long =
    table.latestMeta(WatermarkKey).map(_.toLong).getOrElse(-1L)

  /** The watermark as a guarded-commit SNAPSHOT sees it — preconditions
    * must read this (pinned at the claimed base), never the floating
    * [[appliedVersion]], or a commit landing between the check and the
    * base read would let a stale delta apply twice. */
  private def watermarkOf(snap: TxTable.Snapshot): Long =
    snap.meta(WatermarkKey).map(_.toLong).getOrElse(-1L)

  /** Storage-form rows (cnt / sum_* / nn_* columns, tombstones
    * filtered) — the relation the materialized-view rewrite
    * ([[graft.plans.MvRewrite]]) splices in place of a matched
    * aggregate; each call builds a fresh plan (fresh expression ids,
    * so one query may use the view more than once). */
  private[graft] def storageRead: DataFrame =
    table.read.filter(col("cnt") > 0)

  /** The view's current contents: tombstones of emptied groups filtered
    * out, nn_* shadows folded back into NULL-exact sums (a group whose
    * values are all NULL reads sum = NULL, same as a recompute). */
  def read: DataFrame = table.read.filter(col("cnt") > 0)
    .select((groupCols.map(col) :+ col("cnt")) ++
      sumCols.map(c => when(col(s"nn_$c") > 0, col(s"sum_$c")).as(s"sum_$c")) ++
      minMaxCols.flatMap(c => Seq(col(s"min_$c"), col(s"max_$c"))) ++
      // approx per-group distinct, served from the stored sketch (the
      // "live COUNT(DISTINCT) dashboard" column — sparse-exact at
      // small per-group cardinalities, ~1.6% envelope beyond)
      distinctCols.map(c => coalesce(
        when(col(s"sk_$c").isNotNull, hll_sketch_estimate(col(s"sk_$c"))),
        lit(0L)).as(s"nd_$c")): _*)

  /** Stored representation keeps sums NULL-free (all-null group → 0)
    * so ±delta arithmetic never poisons an accumulator with NULL; the
    * nn_* shadow restores NULL on [[read]]. */
  private def aggs(weight: org.apache.spark.sql.Column) =
    (sum(weight).as("cnt") +:
      sumCols.flatMap(c => Seq(
        coalesce(sum(col(c).cast(sumFieldType(c)) * weight),
          lit(0).cast(sumFieldType(c))).as(s"sum_$c"),
        sum(when(col(c).isNotNull, weight).otherwise(0L)).as(s"nn_$c")))) ++
      // extrema over INSERTED rows only: deletes cannot subtract from a
      // min/max, so refresh routes any delete-touched group to a
      // recompute where weight is uniformly 1 and the `when` is a no-op
      minMaxCols.flatMap(c => Seq(
        min(when(weight > 0, col(c))).as(s"min_$c"),
        max(when(weight > 0, col(c))).as(s"max_$c"))) ++
      // sketches over INSERTED rows only, same reasoning as extrema
      distinctCols.map(c => hll_sketch_agg(
        when(weight > 0, col(c).cast(StringType))).as(s"sk_$c"))

  /** Catch the view up to the source's current version. Returns the
    * number of source commits applied (0 = already current). */
  def refresh(): Int = {
    val from = appliedVersion
    val to = source.currentVersion
    if (to <= from) return 0
    table.createIfAbsent()
    // horizon check up front; the narrow catch covers only the
    // check-then-load race with a concurrent source vacuum. Any OTHER
    // failure (transient FS error, corrupt manifest) must surface —
    // swallowing it would silently escalate an incremental refresh
    // into a full-source recompute.
    val horizonOk = from < 0 || source.versions.contains(from)
    val feed =
      if (!horizonOk) None
      else
        try Some(source.changes(math.max(from, -1L), to))
        catch { case _: java.io.FileNotFoundException => None }
    // every commit below is GUARDED on the watermark still being
    // `from`, checked against the snapshot at each attempt's claimed
    // base: two concurrent refreshers can both compute the same delta,
    // but only the first applies it — the loser either fails its
    // version claim (rebases, re-checks, abandons) or reads a base
    // that already carries the winner's watermark and abandons
    // outright, instead of double-counting the delta.
    // one-commit full recompute (replace is atomic, so readers see
    // either the old view or the complete new one). Aggregate the
    // snapshot AT `to` — a floating `source.read` would include any
    // commit landing after `to` was read, which the next refresh
    // would then re-apply.
    def fullRecompute(): Boolean = {
      val full = aggs(lit(1L))
      table.replaceIf(
        source.readVersion(to)
          .groupBy(groupCols.map(col): _*).agg(full.head, full.tail: _*),
        Map(WatermarkKey -> to.toString))(watermarkOf(_) == from)
    }
    val applied = feed match {
      case None => fullRecompute() // horizon lost
      case Some(ch) =>
        val weight = when(
          col("_change_type").isin("insert", "update_postimage"), 1L)
          .otherwise(-1L) // delete / update_preimage subtract
        val wAggs = aggs(weight)
        // localCheckpoint: the (small) delta feeds the bucket probe,
        // the broadcast key set AND the merge — without it the CDC
        // read + shuffle would re-execute for each
        val delta = ch.groupBy(groupCols.map(col): _*)
          .agg(wAggs.head, wAggs.tail: _*)
          .localCheckpoint()
        // group keys may legitimately be NULL — every key match below
        // is null-safe (`<=>`), or a NULL-keyed group would miss its
        // existing view row and reset instead of accumulating
        def keyCond(l: String, r: String) =
          groupCols.map(k => col(s"$l.$k") <=> col(s"$r.$k")).reduce(_ && _)
        // min/max are NOT invertible under deletes: a group the window
        // deleted from may have lost its stored extremum, so those
        // DIRTY groups recompute from the `to` snapshot (pruned to the
        // dirty keys — the source is never re-aggregated wholesale);
        // clean groups keep the pure ±delta merge below
        val dirtyKeys =
          if (minMaxCols.isEmpty && distinctCols.isEmpty) None
          else {
            val dk = ch.filter(
              !col("_change_type").isin("insert", "update_postimage"))
              .select(groupCols.map(col): _*).distinct().localCheckpoint()
            if (dk.isEmpty) None else Some(dk)
          }
        // key sets are broadcast ONLY while they are provably small
        // (cheap counts — both sides are localCheckpointed): a delete
        // sweeping a large fraction of groups, or a backfill touching
        // millions, would otherwise FORCE a group-count-proportional
        // broadcast and OOM the driver at the 100 TB design point.
        // Over the cap the hint is dropped and AQE plans the join
        // from measured sizes — still delta-proportional, never a
        // cliff onto a full recompute.
        val nDelta = delta.count()
        val nDirty = dirtyKeys.fold(0L)(_.count())
        def kb(df: DataFrame, n: Long): DataFrame =
          if (n <= IncrementalView.MaxBroadcastKeys) broadcast(df) else df
        val cleanDelta = dirtyKeys match {
          case None => delta
          case Some(dk) => delta.alias("_d0")
            .join(kb(dk, nDirty).alias("_k0"), keyCond("_d0", "_k0"), "left_anti")
        }
        // affected groups only, from affected BUCKETS only: the delta
        // keys' buckets are computed driver-side and the view read is
        // manifest-pruned to them — a 1-group delta reads one bucket
        // of a 100 TB view, exactly like the upsert that follows
        val keyBuckets = delta.select(table.bucketColumn.as("_b"))
          .distinct().collect().map(_.getInt(0)).toSet
        val affected = table.readBuckets(keyBuckets).alias("_v").join(
          kb(delta.select(groupCols.map(col): _*), nDelta).alias("_dk"),
          keyCond("_v", "_dk"), "left_semi")
        val dAlias = cleanDelta.columns.map(c =>
          col(c).as(if (groupCols.contains(c)) c else s"_d_$c"))
        val merged = cleanDelta.select(dAlias: _*).alias("_d")
          .join(affected.alias("_a"), keyCond("_d", "_a"), "left_outer")
          .select((groupCols.map(k => col(s"_d.$k").as(k)) :+
            (coalesce(col("_a.cnt"), lit(0L)) + col("_d_cnt")).as("cnt")) ++
            sumCols.flatMap(c => Seq(
              (coalesce(col(s"_a.sum_$c"), lit(0).cast(sumFieldType(c))) +
                col(s"_d_sum_$c")).as(s"sum_$c"),
              (coalesce(col(s"_a.nn_$c"), lit(0L)) + col(s"_d_nn_$c"))
                .as(s"nn_$c"))) ++
            minMaxCols.flatMap(c => Seq(
              least(col(s"_a.min_$c"), col(s"_d_min_$c")).as(s"min_$c"),
              greatest(col(s"_a.max_$c"), col(s"_d_max_$c")).as(s"max_$c"))) ++
            distinctCols.map { c =>
              // hll_union is not NULL-tolerant — coalesce around it
              when(col(s"_a.sk_$c").isNull, col(s"_d_sk_$c"))
                .when(col(s"_d_sk_$c").isNull, col(s"_a.sk_$c"))
                .otherwise(hll_union(col(s"_a.sk_$c"), col(s"_d_sk_$c")))
                .as(s"sk_$c")
            }: _*)
        val toWrite = dirtyKeys match {
          case None => merged
          case Some(dk) =>
            val full = aggs(lit(1L))
            val recomputed = source.readVersion(to).alias("_s")
              .join(kb(dk, nDirty).alias("_k"), keyCond("_s", "_k"), "left_semi")
              .groupBy(groupCols.map(col): _*)
              .agg(full.head, full.tail: _*)
              .localCheckpoint()
            // dirty groups with NO surviving source rows must still
            // overwrite their stale view row with a tombstone
            val gone = dk.alias("_g")
              .join(recomputed.alias("_r"), keyCond("_g", "_r"), "left_anti")
              .select((groupCols.map(col) :+ lit(0L).as("cnt")) ++
                sumCols.flatMap(c => Seq(
                  lit(0).cast(sumFieldType(c)).as(s"sum_$c"),
                  lit(0L).as(s"nn_$c"))) ++
                minMaxCols.flatMap(c => Seq(
                  lit(null).cast(srcSchema(c).dataType).as(s"min_$c"),
                  lit(null).cast(srcSchema(c).dataType).as(s"max_$c"))) ++
                distinctCols.map(c =>
                  lit(null).cast(BinaryType).as(s"sk_$c")): _*)
            merged.unionByName(recomputed).unionByName(gone)
        }
        table.upsertIf(toWrite, Map(WatermarkKey -> to.toString))(
          watermarkOf(_) == from)
    }
    if (applied) versionsApplied(from, to) else 0
  }

  private def versionsApplied(from: Long, to: Long): Int =
    source.versions.count(v => v > from && v <= to)
}

object IncrementalView {
  /** Broadcast-hint ceiling for the refresh's delta / dirty-group key
    * sets: at or under this many keys the broadcast is tens of MB at
    * worst (delta-proportional, the common case); over it the hint is
    * dropped and AQE plans the join from measured sizes instead of
    * force-shipping a group-count-proportional set to the driver. */
  val MaxBroadcastKeys: Long = 1000000L
}
