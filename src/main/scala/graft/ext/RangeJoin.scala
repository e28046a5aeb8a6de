package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Interval / range join — the second operator family Spark lacks a
  * native strategy for (guide §custom-operator). A naive
  * `a.join(b, |a.t − b.t| <= tol)` plans BroadcastNestedLoopJoin:
  * O(n·m) comparisons, a non-starter at scale. The bucketized pattern
  * instead: quantize time into `tol`-wide buckets, explode each LEFT
  * row into its bucket and the two adjacent ones, equi-join on
  * (key, bucket) — any pair within `tol` differs by at most one
  * bucket, so exactly one probe hits — then filter the exact
  * predicate. Shuffle on (key, bucket); candidate set ≈ 3 × bucket
  * occupancy; no duplicate pairs by construction.
  */
object RangeJoin {

  /** Pairs of (left, right) rows with the same `keyCol` whose
    * `timeCol`s differ by at most `tolMicros`. Output columns are
    * prefixed `l_` / `r_`. */
  def withinInterval(left: DataFrame, right: DataFrame, keyCol: String,
      timeCol: String, tolMicros: Long): DataFrame = {
    def prefixed(df: DataFrame, prefix: String): DataFrame =
      df.columns.foldLeft(df)((acc, c) => acc.withColumnRenamed(c, s"$prefix$c"))

    val l = prefixed(left, "l_")
      .withColumn("l_us", unix_micros(col(s"l_$timeCol")))
      .withColumn("_bucket", explode(array(Seq(-1, 0, 1).map(p =>
        expr(s"l_us div $tolMicros + $p")): _*)))
      .withColumn("_key", col(s"l_$keyCol"))
    val r = prefixed(right, "r_")
      .withColumn("r_us", unix_micros(col(s"r_$timeCol")))
      .withColumn("_bucket", expr(s"r_us div $tolMicros"))
      .withColumn("_key", col(s"r_$keyCol"))

    l.join(r, Seq("_key", "_bucket"))
      .filter(abs(col("l_us") - col("r_us")) <= tolMicros)
      .drop("_key", "_bucket", "l_us", "r_us")
  }

  /** SELF interval-OVERLAP pairs within a key (the temporal-join
    * staple: concurrent bookings, co-active sessions, same-part
    * in-transit shipments). Each pair is oriented a-starts-first
    * (ties broken by the id tuple), so overlap reduces to ONE
    * inequality — b starts at or before a ends — and the
    * nested-loop-free plan follows the house bucket recipe: the
    * EARLIER side explodes into the calendar MONTHS its interval
    * covers, the later side keys by its START month (which the
    * earlier interval must cover for any overlap), candidates
    * equi-join on (key, month) and the exact predicate verifies. A
    * (a, b) pair meets in exactly ONE month — b's start month — so
    * no dedup pass is needed. Fan-out = interval length in months
    * (bounded for operational intervals); callers cap per-key row
    * counts upstream when keys can be hot. Output: key, both id
    * tuples (prefixed a_/b_), both intervals, and overlap_days
    * (inclusive). Intervals are [start, end] inclusive with
    * start ≤ end. */
  def overlapPairs(df: DataFrame, keyCol: String, startCol: String,
      endCol: String, idCols: Seq[String],
      perKeyBound: Option[Int] = None,
      capPerKey: Option[Int] = None): DataFrame = {
    require(idCols.nonEmpty, "overlapPairs needs id columns for pair order")
    require(capPerKey.isEmpty || perKeyBound.isDefined,
      "capPerKey rides the bounded-occupancy path: declare perKeyBound")
    val cols = keyCol +: startCol +: endCol +: idCols
    val base = df.select(cols.map(col): _*)
    if (perKeyBound.isDefined)
      return overlapPairsBounded(base, keyCol, startCol, endCol, idCols,
        capPerKey)
    def side(p: String): DataFrame =
      cols.foldLeft(base)((acc, c) => acc.withColumnRenamed(c, s"$p$c"))
    val a = side("a_")
      .withColumn("_am", explode(expr(
        s"sequence(date_trunc('MONTH', a_$startCol), " +
          s"date_trunc('MONTH', a_$endCol), interval 1 month)")))
    val b = side("b_")
      .withColumn("_bm", date_trunc("MONTH", col(s"b_$startCol")))
    val aFirst = {
      val aIds = struct(idCols.map(c => col(s"a_$c")): _*)
      val bIds = struct(idCols.map(c => col(s"b_$c")): _*)
      col(s"a_$startCol") < col(s"b_$startCol") ||
        (col(s"a_$startCol") === col(s"b_$startCol") && aIds < bIds)
    }
    a.join(b, col(s"a_$keyCol") === col(s"b_$keyCol") &&
        col("_am") === col("_bm"))
      .filter(aFirst && col(s"b_$startCol") <= col(s"a_$endCol"))
      .withColumn("overlap_days",
        (datediff(least(col(s"a_$endCol"), col(s"b_$endCol")),
          col(s"b_$startCol")) + 1).cast("long"))
      .drop("_am", "_bm", s"b_$keyCol")
      .withColumnRenamed(s"a_$keyCol", keyCol)
  }

  /** Interval row for [[overlapStats]]: start/end as epoch DAYS
    * (`unix_date`), ids as the (long, int) tuple the capped callers
    * use. Field order (s, id1, id2, en) matches the bounded path's
    * array_sort struct order, so the cap cut is identical. */
  final case class Iv(s: Int, id1: Long, id2: Int, en: Int)
  final case class IvBuf(xs: Seq[Iv])
  final case class OvStats(n_pairs: Long, max_overlap_days: Long)

  /** Per-key overlap-pair STATS as ONE bounded typed Aggregator (the
    * `TopK` bounded-buffer discipline): when the caller only wants
    * per-key aggregates of the oriented overlap pairs — not the pairs
    * themselves — materializing each pair row (array explode + a
    * second aggregation, with the pair predicate evaluated by
    * interpreted higher-order functions) is pure overhead. The
    * aggregator keeps each key's first-`cap` intervals by (start,
    * ids) — the same deterministic cut `capPerKey` fuses — in a
    * bounded sorted buffer merged map-side (≤ cap entries per key
    * cross the shuffle, vs every row under `collect_list`), and
    * `finish` runs the pair scan in compiled JVM code: the buffer is
    * start-sorted, so each row's candidate window ends at the first
    * later start past its end (the month-bucket path's one
    * inequality). Output rows are identical to aggregating
    * [[overlapPairs]] with the same bound+cap (property-tested):
    * n_pairs = COUNT(*), max_overlap_days = MAX(inclusive overlap
    * days), keys with zero pairs emit n_pairs = 0 for the caller to
    * filter (explode drops them). */
  final class OverlapStatsAgg(cap: Int)
      extends Aggregator[Iv, IvBuf, OvStats] {
    private def key(e: Iv): (Int, Long, Int, Int) = (e.s, e.id1, e.id2, e.en)
    private val ord = Ordering[(Int, Long, Int, Int)]
    // invariant: every buffer is key-sorted, ≤ cap. reduce used to
    // re-sort the whole buffer per accepted row once full (O(cap log
    // cap) per row on a hot key, plus an immutable append allocation);
    // now a full buffer REJECTS rows ≥ its last key in O(1) and
    // accepts via one binary-search + arraycopy insert — the
    // KMinAggregator discipline (r22). The key is the FULL tuple, so
    // equal keys are equal VALUES and the kept multiset (cap smallest
    // by key) is identical to the sort-and-take cut.
    private def insert(xs: Seq[Iv], e: Iv): Seq[Iv] = {
      val arr = xs.toArray
      val ke = key(e)
      var lo = 0
      var hi = arr.length
      while (lo < hi) { // upper bound: first index with key > ke
        val mid = (lo + hi) >>> 1
        if (ord.compare(key(arr(mid)), ke) <= 0) lo = mid + 1 else hi = mid
      }
      val n = math.min(arr.length + 1, cap)
      val out = new Array[Iv](n)
      java.lang.System.arraycopy(arr, 0, out, 0, math.min(lo, n))
      if (lo < n) {
        out(lo) = e
        java.lang.System.arraycopy(arr, lo, out, lo + 1,
          math.min(arr.length - lo, n - lo - 1))
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
    override def zero: IvBuf = IvBuf(Seq.empty)
    override def reduce(b: IvBuf, e: Iv): IvBuf =
      if (b.xs.length >= cap && b.xs.nonEmpty &&
        ord.compare(key(e), key(b.xs.last)) >= 0) b
      else IvBuf(insert(b.xs, e))
    override def merge(a: IvBuf, b: IvBuf): IvBuf =
      IvBuf((a.xs ++ b.xs).sortBy(key).take(cap)) // keeps the invariant
    override def finish(b: IvBuf): OvStats = {
      val xs = b.xs.sortBy(key).toArray // pair scan needs (s, ids)-sorted
      var n = 0L
      var mx = 0L
      var i = 0
      while (i < xs.length) {
        val x = xs(i)
        var j = i + 1
        var go = true
        while (go && j < xs.length) {
          val y = xs(j)
          if (y.s > x.en) go = false // starts ascend: no later j overlaps
          else {
            // strict (start, ids) orientation: identical twins are
            // rejected in BOTH orientations, exactly like aFirst
            if (!(x.s == y.s && x.id1 == y.id1 && x.id2 == y.id2)) {
              n += 1
              val ov = (math.min(x.en, y.en) - y.s + 1).toLong
              if (ov > mx) mx = ov
            }
            j += 1
          }
        }
        i += 1
      }
      OvStats(n, mx)
    }
    override def bufferEncoder: Encoder[IvBuf] = Encoders.product[IvBuf]
    override def outputEncoder: Encoder[OvStats] = Encoders.product[OvStats]
  }

  /** Column form: `overlap_stats(cap)(unix_date(start), id1, id2,
    * unix_date(end))` → struct<n_pairs, max_overlap_days>. */
  def overlap_stats(cap: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new OverlapStatsAgg(cap), Encoders.product[Iv])

  /** BOUNDED-OCCUPANCY fast path (`perKeyBound` declared by the
    * caller): when every key holds at most a few dozen intervals, the
    * month-bucket self-JOIN pays for its generality — the input is
    * scanned twice (one subtree per join side), each side shuffles,
    * and the calendar explode multiplies the earlier side by its
    * interval length. Instead gather each key's rows into ONE bounded
    * array (`collect_list` ≤ the declared bound — the same bounded-
    * buffer contract as `TopK`) and enumerate ordered pairs inside the
    * group with two generators: no join, no month buckets, ONE scan,
    * ONE shuffle (the groupBy), and downstream per-key aggregations
    * reuse the groupBy's hash partitioning with no further exchange.
    * Candidate volume per key is bound² (vs the bucket path's
    * 3 × occupancy per month) — the caller's declared bound is what
    * makes that a constant. Output schema and rows are IDENTICAL to
    * the bucket path (property-tested); the exact predicate is the
    * same a-starts-first single inequality. */
  private def overlapPairsBounded(base: DataFrame, keyCol: String,
      startCol: String, endCol: String, idCols: Seq[String],
      capPerKey: Option[Int]): DataFrame = {
    val payload = startCol +: endCol +: idCols
    // struct field order (start, ids..., end): array_sort's default
    // lexicographic struct comparison then IS the pair orientation —
    // after sorting, position i < j implies xs[j] does not start
    // before xs[i] — so pair generation walks each row's TAIL only
    // (bound²/2 candidates) and the overlap filter prunes INSIDE the
    // array before anything explodes. The residual aFirst guard
    // (strict (start, ids) inequality) only rejects fully-identical
    // (start, ids) twins, exactly as the bucket path does.
    val sortFields = (startCol +: idCols :+ endCol)
    // capPerKey: the caller's deterministic first-N-per-key cut (the
    // row_number(ORDER BY start, ids) <= N discipline) FUSED into this
    // aggregation — the sorted array's first N elements ARE that cut
    // (the (start, ids) prefix of the sort key is the cap's exact
    // ordering, and callers cap only on per-key-unique id tuples, the
    // same condition that makes the window cut deterministic). Fusing
    // removes the caller's separate Exchange + full Sort +
    // WindowGroupLimit pass over the input; per-key aggregation state
    // stays occupancy-sized, which is this path's declared contract
    // (hot-key inputs should still pre-cap upstream).
    val sorted = array_sort(collect_list(struct(sortFields.map(col): _*)))
    val xs = capPerKey.map(c => slice(sorted, 1, c)).getOrElse(sorted)
    val grouped = base.groupBy(col(keyCol)).agg(xs.as("_xs"))
    val orderKey = (v: String) =>
      s"struct(${(startCol +: idCols).map(v + "." + _).mkString(",")})"
    val pairsArr = expr(
      s"""flatten(transform(_xs, (x, i) ->
         |  transform(
         |    filter(slice(_xs, i + 2, size(_xs)),
         |      y -> y.$startCol <= x.$endCol
         |        AND ${orderKey("x")} < ${orderKey("y")}),
         |    y -> struct(x AS a, y AS b))))""".stripMargin)
    val pairs = grouped
      .select(col(keyCol), explode(pairsArr).as("_p"))
      .select(col(keyCol), col("_p.a").as("_a"), col("_p.b").as("_b"))
    pairs
      .select(col(keyCol) +:
        payload.map(c => col("_a")(c).as(s"a_$c")) ++:
        payload.map(c => col("_b")(c).as(s"b_$c")) :+
        (datediff(least(col("_a")(endCol), col("_b")(endCol)),
          col("_b")(startCol)) + 1).cast("long").as("overlap_days"): _*)
  }
}
