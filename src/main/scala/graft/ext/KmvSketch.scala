package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct sketch with SET OPERATIONS — the
  * Theta-sketch recipe (published as the KMV/theta family; see the
  * DataSketches literature): keep the `k` smallest hash values of the
  * key domain in unsigned hash order. Because the hash is uniform, the
  * k-th smallest value estimates density, and — unlike HLL — two
  * sketches support INTERSECTION, not just union: restrict both sides
  * to the joint theta and count common survivors.
  *
  * Exactness discipline (the same one the HLL oracle rows use): while
  * fewer than `k` distinct values were seen, EVERY distinct hash is
  * retained, so cardinality, union, and intersection counts are EXACT
  * and oracle-checkable; past `k` the standard estimators apply and
  * [[KmvSketch.isExact]] reports which regime a sketch is in.
  *
  * Build shape at 100 TB: one partial-distinct aggregate feeds a
  * TakeOrdered(k) — what crosses the shuffle is each partition's
  * distinct hash set, and the driver holds ≤ k longs (control plane).
  * Sketches are mergeable (union is lossless: the k smallest of A ∪ B
  * lie inside the union of each side's k smallest), so per-batch
  * sketches roll up like the other mergeable sketch stores
  * ([[DistinctSketch]], [[HistogramSketch]]).
  *
  * Internal order: `flip(h) = h ^ Long.MinValue` maps unsigned hash
  * order onto signed order; `hashes` is sorted by `flip`.
  */
case class KmvSketch(k: Int, hashes: Array[Long]) {
  require(hashes.length <= k, s"sketch holds ${hashes.length} > k=$k hashes")
  import KmvSketch.{flip, HashSpace}

  /** True while every distinct value's hash is retained. */
  def isExact: Boolean = hashes.length < k

  /** Fraction of the hash space at or below the k-th minimum (1.0 in
    * the exact regime). */
  def theta: Double =
    if (isExact) 1.0
    else (flip(hashes.last).toDouble - Long.MinValue.toDouble) / HashSpace

  /** Distinct-count estimate: exact count below k, else (k-1)/theta. */
  def estimate: Double =
    if (isExact) hashes.length.toDouble else (k - 1) / theta

  /** Lossless union merge (result capped at min of the two k's). */
  def merge(other: KmvSketch): KmvSketch = {
    val kk = math.min(k, other.k)
    KmvSketch(kk, (hashes ++ other.hashes).distinct.sortBy(flip).take(kk))
  }

  /** Intersection-count estimate: common survivors at the joint theta
    * scaled back up; exact (a plain set intersection) when both sides
    * are exact. */
  def intersectEstimate(other: KmvSketch): Double = {
    if (isExact && other.isExact)
      hashes.toSet.intersect(other.hashes.toSet).size.toDouble
    else {
      // joint bound: the smaller of the two k-th minima (in unsigned
      // order); survivors are hashes at or below it on BOTH sides
      val bounds = Seq(this, other).filterNot(_.isExact)
        .map(s => flip(s.hashes.last))
      val cut = bounds.min
      val tJoint = (cut.toDouble - Long.MinValue.toDouble) / HashSpace
      val a = hashes.iterator.filter(flip(_) <= cut).toSet
      val b = other.hashes.iterator.filter(flip(_) <= cut).toSet
      a.intersect(b).size / tJoint
    }
  }
}

object KmvSketch {
  private[ext] def flip(h: Long): Long = h ^ Long.MinValue
  private val HashSpace = math.pow(2, 64)

  /** Bounded per-group k-MINIMUM hashes as a typed `Aggregator` (the
    * [[TopK]] partial-aggregate recipe): each partition ships at most
    * `k` longs per group across the shuffle — the window formulation
    * (`row_number <= k` over the group's full distinct hash set)
    * would instead SORT every group's millions of distinct hashes to
    * keep 4096. Fast path: a full buffer rejects any hash at or above
    * its current k-th minimum in O(1). */
  final case class KmBuf(hs: Seq[Long])
  final class KMinAggregator(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, KmBuf, KmBuf] {
    // invariant: every buffer is flip-sorted, duplicate-free, ≤ k.
    // reduce used to re-run distinct + sortBy (boxing every Long) on
    // the whole ≤ k buffer PER ROW — O(k² log k) per group to fill a
    // 4096-wide sketch; a binary-search insert into the already-sorted
    // buffer is one primitive array copy per accepted hash, and the
    // O(1) full-buffer reject is unchanged (r21).
    private def insert(hs: Seq[Long], h: Long): Seq[Long] = {
      val arr = hs.toArray
      val fh = flip(h)
      var lo = 0
      var hi = arr.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (flip(arr(mid)) < fh) lo = mid + 1 else hi = mid
      }
      if (lo < arr.length && arr(lo) == h) hs // duplicate
      else {
        val n = math.min(arr.length + 1, k)
        val out = new Array[Long](n)
        java.lang.System.arraycopy(arr, 0, out, 0, lo)
        if (lo < n) {
          out(lo) = h
          java.lang.System.arraycopy(arr, lo, out, lo + 1,
            math.min(arr.length - lo, n - lo - 1))
        }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
      }
    }
    private def trim(hs: Seq[Long]): Seq[Long] =
      hs.distinct.sortBy(flip).take(k)
    override def zero: KmBuf = KmBuf(Seq.empty)
    override def reduce(b: KmBuf, h: Long): KmBuf =
      if (b.hs.length >= k && flip(h) >= flip(b.hs.last)) b
      else KmBuf(insert(b.hs, h))
    override def merge(a: KmBuf, b: KmBuf): KmBuf = KmBuf(trim(a.hs ++ b.hs))
    override def finish(b: KmBuf): KmBuf = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[KmBuf] =
      org.apache.spark.sql.Encoders.product[KmBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[KmBuf] =
      org.apache.spark.sql.Encoders.product[KmBuf]
  }

  /** Persist one ingest batch's PER-SEGMENT k-min sketches under
    * `dir/batch=<id>` — the mergeable-sketch-store pattern
    * ([[DistinctSketch]], [[QuantileSketch]]): each batch writes its
    * own partition, replay-safe (overwrite), and the store folds to
    * current with no corpus re-read. Store size ∝ segments × k longs
    * per batch — control-plane data, coalesced to one file. */
  def addBatchGrouped(df: DataFrame, segCol: String, keyCol: String,
      dir: String, batchId: Long, k: Int = 4096): Unit =
    addBatchGroupedKeyed(df, segCol, keyCol, dir, batchId.toString, k)

  /** [[addBatchGrouped]] keyed by a batch STRING (a run id) — the
    * ingest-path variant ([[FreqSketch.addBatchKeyed]] convention):
    * replays of the same run overwrite their own partition instead of
    * appending a duplicate sketch. */
  def addBatchGroupedKeyed(df: DataFrame, segCol: String, keyCol: String,
      dir: String, batchKey: String, k: Int = 4096): Unit = {
    import org.apache.spark.sql.functions.udaf
    val batchId = StoreKeys.sanitize(batchKey)
    val kmin = udaf(new KMinAggregator(k),
      org.apache.spark.sql.Encoders.scalaLong)
    // no pre-distinct: the aggregator rejects duplicate hashes inside
    // its bounded buffer (binary-search insert) and merge re-distincts
    // — the (seg, h) distinct only added a second full exchange of the
    // batch ahead of the aggregation's own shuffle (guide §2.4, the
    // overlapMatrix precedent)
    df.select(col(segCol).cast("string").as("seg"),
        xxhash64(col(keyCol)).as("h"))
      .groupBy("seg").agg(kmin(col("h")).as("s"))
      .select(col("seg"), explode(col("s.hs")).as("h"), lit(k).as("k"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/batch=$batchId")
  }

  /** PAIRWISE SEGMENT-OVERLAP GRID from the persisted store: one row
    * per unordered segment pair (zero-overlap pairs included) with
    * common / per-side distinct counts and Jaccard. Batch sketches
    * re-merge per segment (lossless: the k smallest of a union lie in
    * the union of each side's k smallest), then pairs count common
    * survivors at the pair's JOINT theta — the theta-sketch
    * intersection, gridded. All counts are EXACT while every merged
    * sketch is exact (`n < k`, reported in the `exact` column — the
    * sparse-exact oracle discipline); past k they are the standard
    * (k-1)/theta estimators. Scale shape: the only corpus-sized work
    * happened at `addBatchGrouped` time; this read touches segments ×
    * ≤ k store rows, the pair join is an equi-join on the hash, and
    * the N² pair frame is segment-taxonomy-sized (broadcast). */
  def overlapMatrix(spark: SparkSession, dir: String,
      requireExact: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.udaf
    val st = StoreRead.parquet(spark, dir)
    val k = st.agg(min("k")).head.getInt(0)
    val kmin = udaf(new KMinAggregator(k),
      org.apache.spark.sql.Encoders.scalaLong)
    // no pre-distinct: KMinAggregator dedups inside its bounded buffer
    // (reduce/merge trim through .distinct), so a separate (seg, h)
    // distinct pass only added a second full exchange of the store
    // for rows the aggregator drops anyway (guide §2.4)
    val merged = st.select("seg", "h")
      .groupBy("seg").agg(kmin(col("h")).as("s"))
      .select(col("seg"), col("s.hs").as("hs"))
      .localCheckpoint(true) // segments × ≤ k longs — bounded
    // oracle-soundness gate on the CHECKPOINTED merge (one tiny
    // aggregate), not on the finished grid — re-running the whole
    // grid plan just to read its `exact` column would double the query
    if (requireExact) {
      val inexact = merged.filter(size(col("hs")) >= k).count()
      require(inexact == 0L,
        s"$inexact merged KMV sketch(es) left the exact regime " +
          "(retained >= k hashes); estimates are not oracle-sound")
    }
    val fl = (c: Column) => c.bitwiseXOR(lit(Long.MinValue))
    // per-segment dims: retained count, exactness, k-th-min cut (the
    // last retained hash — `hs` is sorted in unsigned order), estimate
    val dims = broadcast(merged.select(
      col("seg"), size(col("hs")).cast("long").as("n_kept"),
      (size(col("hs")) < k).as("exact"),
      fl(element_at(col("hs"), -1)).as("cutFlip"))
      .withColumn("theta", when(col("exact"), lit(1.0)).otherwise(
        (col("cutFlip").cast("double") - lit(Long.MinValue.toDouble)) /
          lit(HashSpace)))
      .withColumn("est", when(col("exact"), col("n_kept").cast("double"))
        .otherwise(lit((k - 1).toDouble) / col("theta"))))
    val kept = merged.select(col("seg"), explode(col("hs")).as("h"))
    // common survivors per pair at the joint cut: min over the
    // INEXACT sides' cuts (exact sides retain everything — no cut);
    // least() skips nulls, so a null joint cut marks an exact pair
    val pairCounts = kept.as("a")
      .join(kept.as("b"),
        col("a.h") === col("b.h") && col("a.seg") < col("b.seg"))
      .join(dims.as("da"), col("a.seg") === col("da.seg"))
      .join(dims.as("db"), col("b.seg") === col("db.seg"))
      .withColumn("cut", least(
        when(col("da.exact"), lit(null)).otherwise(col("da.cutFlip")),
        when(col("db.exact"), lit(null)).otherwise(col("db.cutFlip"))))
      .filter(fl(col("a.h")) <= coalesce(col("cut"), fl(col("a.h"))))
      .groupBy(col("a.seg").as("seg_a"), col("b.seg").as("seg_b"),
        col("cut"))
      .agg(count(lit(1)).as("n_survivors"))
      .withColumn("t_joint", when(col("cut").isNull, lit(1.0)).otherwise(
        (col("cut").cast("double") - lit(Long.MinValue.toDouble)) /
          lit(HashSpace)))
      .withColumn("n_common",
        round(col("n_survivors").cast("double") / col("t_joint"))
          .cast("long"))
      .select("seg_a", "seg_b", "n_common")
    // full grid including zero-overlap pairs
    dims.as("da").join(dims.as("db"), col("da.seg") < col("db.seg"))
      .select(col("da.seg").as("seg_a"), col("db.seg").as("seg_b"),
        round(col("da.est")).cast("long").as("n_a"),
        round(col("db.est")).cast("long").as("n_b"),
        (col("da.exact") && col("db.exact")).as("exact"))
      // pairCounts ≤ one row per segment pair (taxonomy-sized): the
      // hint turns a two-exchange-two-sort SMJ into a broadcast join
      .join(broadcast(pairCounts), Seq("seg_a", "seg_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("jaccard", round(col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6))
      .select("seg_a", "seg_b", "n_common", "n_a", "n_b", "jaccard", "exact")
      .orderBy("seg_a", "seg_b")
  }

  /** Sketch the distinct values of `keyCol`: partial-distinct
    * aggregate, then the k smallest hashes via TakeOrdered (never a
    * global sort), ≤ k longs to the driver.
    *
    * Distinctness is over xxhash64 VALUES, not keys — so the "exact
    * regime" (fewer than k distinct keys ⇒ the sketch is a census,
    * and the differential oracle in `x_kmv_segments` is sound)
    * additionally assumes no 64-bit hash collision among the distinct
    * keys: a collision undercounts by one and would fail the oracle
    * with a confusing mismatch. Same caveat class as the HLL sparse
    * mode — negligible probability (~n²/2⁶⁵), stated so an oracle
    * failure points at the right cause. */
  def sketch(df: DataFrame, keyCol: String, k: Int = 4096): KmvSketch = {
    val hs = df.select(xxhash64(col(keyCol)).as("h")).distinct()
      // signed sort on the flipped value == unsigned hash order
      .orderBy(col("h").bitwiseXOR(lit(Long.MinValue)))
      .limit(k)
      .collect().map(_.getLong(0))
    KmvSketch(k, hs)
  }
}
