package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT frequent-item (heavy-hitter) mining at corpus scale, the
  * two-pass sketch-then-verify recipe (Misra–Gries summaries; see the
  * published frequent-items literature, e.g. Misra & Gries 1982 and the
  * Space-Saving family):
  *
  *  1. CANDIDATES — every partition runs a bounded Misra–Gries summary
  *     of capacity `k` over its items (imperative per-partition state,
  *     the one shape `mapPartitions` is for): at most `k` counters
  *     live at any moment regardless of partition size or vocabulary,
  *     and an item with partition frequency > n_p/k is guaranteed to
  *     survive. Summing the guarantee over partitions: any item with
  *     GLOBAL frequency > n/k appears in at least one partition's
  *     summary (if it survived nowhere, its total frequency would be
  *     ≤ Σ n_p/k = n/k) — the union of per-partition candidates is a
  *     sound superset for any threshold φ ≥ 1/k.
  *  2. VERIFY — exact counts for candidates only: the per-partition
  *     summaries stay a DataFrame (at 10k+ cluster partitions the
  *     union is tens of millions of rows — executor data, not driver
  *     state), are deduplicated executor-side (≤ k distinct survivors
  *     per partition before dedup, skew-free after), then broadcast
  *     semi-join-reduce the corpus, and one hash aggregate counts the
  *     survivors exactly. The corpus size for the threshold comes from
  *     an aggregate over per-partition sentinel rows, joined in as a
  *     1-row broadcast — the driver never materializes candidates or
  *     the count.
  *
  * The output is EXACT (identical to a full GROUP BY + HAVING), but the
  * shuffled aggregate runs over candidate items only — at 100 TB the
  * full-vocabulary aggregate shuffles billions of distinct keys to find
  * the dozens above threshold; this shuffles the candidate slice.
  *
  * Reference behavior: the term-frequency analytics over scanned
  * document text (`/root/reference/services/api/src/services/scan.ts`
  * keyword extraction) — re-expressed as a distributed two-pass plan.
  */
object HeavyHitters {

  /** One Misra–Gries summary (at most `k` counters) as incremental
    * state: `decrements` counts decrement-all events — each event
    * undercounts any single item's summary count by at most 1, so the
    * event count IS the per-item undercount budget (0 = the summary is
    * an exact census of what was added); `n` counts items added. The
    * class shape (vs a closed-over iterator fold) exists so the
    * grouped variants can keep ONE bounded state per group inside a
    * partition. */
  private[ext] final class MgState(k: Int) {
    val counters = new java.util.HashMap[String, Long](k * 2)
    var decrements = 0L
    var n = 0L
    def add(item: String): Unit = {
      n += 1L
      val c = counters.get(item)
      if (c != 0L || counters.containsKey(item)) counters.put(item, c + 1L)
      else if (counters.size < k) counters.put(item, 1L)
      else {
        // decrement-all step: drop every counter by 1, evict zeros
        decrements += 1L
        val it = counters.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
        }
      }
    }
    def summary: List[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      counters.asScala.toList
    }
  }

  /** Per-partition Misra–Gries summary plus the decrement-event count
    * (see [[MgState]]). */
  private[ext] def misraGriesWithStats(items: Iterator[String], k: Int)
      : (List[(String, Long)], Long) = {
    val st = new MgState(k)
    items.foreach(st.add)
    (st.summary, st.decrements)
  }

  /** Per-partition grouped summaries: one bounded [[MgState]] per
    * group seen in the partition (state = groups-in-partition ×
    * capacity — sized for low-cardinality group domains: languages,
    * jurisdictions, sources). Returns (group → state). */
  private[ext] def misraGriesByGroup(
      rows: Iterator[(String, String)], k: Int)
      : Iterator[(String, MgState)] = {
    val states = new java.util.HashMap[String, MgState]()
    rows.foreach { case (g, x) =>
      var st = states.get(g)
      if (st == null) { st = new MgState(k); states.put(g, st) }
      st.add(x)
    }
    import scala.jdk.CollectionConverters._
    states.asScala.iterator
  }

  /** Items of `itemCol` whose frequency × `den` > corpus size × `num`
    * (i.e. frequency > (num/den) · n, exact rational threshold — kept
    * in integer arithmetic so engines can't disagree on a boundary).
    * Returns (item, n) with exact counts, heaviest first.
    *
    * `capacity` must satisfy capacity ≥ den/num for the candidate
    * guarantee (checked). */
  def frequentItems(items: DataFrame, itemCol: String,
      num: Long, den: Long, capacity: Int = 4096): DataFrame = {
    require(num > 0 && den > 0, "threshold must be a positive rational")
    require(capacity.toLong * num >= den,
      s"capacity $capacity < den/num = ${den / num}: Misra-Gries cannot " +
        "guarantee candidates at this threshold")
    val s = items.sparkSession
    import s.implicits._
    val col0 = col(itemCol)
    val strings = items.select(col0.cast("string").as("item"))
      .filter(col("item").isNotNull)
    // ONE pass yields the candidates WITH their summary counts, the
    // threshold's n, and the decrement evidence: each partition emits
    // its summary plus a sentinel row (null item) carrying (decrement
    // events, item count) — a separate count() action would
    // re-evaluate the whole upstream pipeline (explodes, regexes)
    // again. The summaries STAY distributed: at cluster partition
    // counts (10k+ partitions × capacity) the union of candidates is
    // tens of millions of rows — executor data, never driver state.
    // localCheckpoint materializes the bounded summary rows (≤
    // capacity + 1 per partition) exactly once so the derived
    // subplans don't re-run the upstream pipeline.
    val summaries = strings.as[String].mapPartitions { it =>
      var n = 0L
      val counted = it.map { x => n += 1; x }
      val (summary, dec) = misraGriesWithStats(counted, capacity)
      (summary.map { case (i, c) => (i, c, 0L) } :+
        ((null: String, dec, n))).iterator
    }.toDF("item", "c", "n").localCheckpoint(true)
    // sentinel rows → corpus size, as a 1-row DataFrame joined in
    // below (never a driver-side literal)
    val totalDf = summaries.filter(col("item").isNull)
      .agg(coalesce(sum("n"), lit(0L)).as("hh_total"))
    // ADAPTIVE EXACT FAST PATH (r21, the KMV/HLL sparse-exact
    // discipline as a runtime check): a Misra–Gries state that never
    // ran a decrement-all step is an exact census of its partition —
    // every item seen is retained with its true count. When NO
    // partition decremented (vocabulary fit the capacity everywhere),
    // summing the summary counts IS the exact global census and the
    // whole second corpus pass (re-tokenize + semi-join + count) is
    // provably redundant. The check is one tiny aggregate over the
    // checkpointed summary rows (metadata-bounded, the overlapMatrix
    // requireExact precedent); any decrement anywhere falls back to
    // the two-pass verify, so the output is EXACT in both regimes.
    val decrements = summaries.filter(col("item").isNull)
      .agg(coalesce(sum("c"), lit(0L))).head.getLong(0)
    if (decrements == 0L)
      summaries.filter(col("item").isNotNull)
        .groupBy("item").agg(sum("c").as("n"))
        .join(broadcast(totalDf))
        .filter(col("n") * den > col("hh_total") * num)
        .drop("hh_total")
        .orderBy(desc("n"), asc("item"))
    else {
      // executor-side dedup of the candidate union; the deduped set is
      // ≤ capacity × partitions and skew-free (already distinct), so
      // the broadcast hint is safe at any corpus size
      val cands = summaries.filter(col("item").isNotNull)
        .select("item").distinct()
      strings.join(broadcast(cands), Seq("item"), "left_semi")
        .groupBy("item")
        .agg(count(lit(1)).as("n"))
        .join(broadcast(totalDf))
        .filter(col("n") * den > col("hh_total") * num)
        .drop("hh_total")
        .orderBy(desc("n"), asc("item"))
    }
  }

  /** PER-GROUP exact heavy hitters: items of `itemCol` whose frequency
    * WITHIN their `groupCol` group exceeds (num/den) of that group's
    * item count. Same two-pass sketch-then-verify plan as
    * [[frequentItems]], with one bounded Misra–Gries state per group
    * per partition — the candidate guarantee applies group-wise (an
    * item with group frequency > n_g/capacity survives in some
    * partition's state for that group, by the same summed-undercount
    * argument restricted to the group's rows). The full per-group
    * vocabulary never crosses a shuffle; only candidates do.
    *
    * Per-partition state is groups-in-partition × capacity counters —
    * sized for low-cardinality group domains (languages,
    * jurisdictions), not for group counts rivaling the vocabulary
    * (there, run the plain GROUP BY — no sketch can help).
    *
    * Returns (groupCol, item, n) with exact counts, ordered by group
    * then heaviest first. Null groups and null items are ignored.
    *
    * Reference behavior: per-jurisdiction term processing
    * (`/root/reference/services/api/src/services/merge.ts:22-25`). */
  def frequentItemsByGroup(items: DataFrame, groupCol: String,
      itemCol: String, num: Long, den: Long,
      capacity: Int = 4096): DataFrame = {
    require(num > 0 && den > 0, "threshold must be a positive rational")
    require(capacity.toLong * num >= den,
      s"capacity $capacity < den/num = ${den / num}: Misra-Gries cannot " +
        "guarantee candidates at this threshold")
    val s = items.sparkSession
    import s.implicits._
    val strings = items.select(col(groupCol).cast("string").as("grp"),
        col(itemCol).cast("string").as("item"))
      .filter(col("grp").isNotNull && col("item").isNotNull)
    // same distributed shape as the ungrouped pass: bounded summary
    // rows stay a DataFrame (localCheckpoint = evaluated once), a
    // per-(partition, group) sentinel row carries (decrement events,
    // the group's item count), and the driver never materializes
    // candidates or totals
    val summaries = strings.as[(String, String)].mapPartitions { it =>
      misraGriesByGroup(it, capacity).flatMap { case (g, st) =>
        st.summary.map { case (i, c) => (g, i, c, 0L) } :+
          ((g, null: String, st.decrements, st.n))
      }
    }.toDF("grp", "item", "c", "n").localCheckpoint(true)
    val totals = summaries.filter(col("item").isNull)
      .groupBy("grp").agg(sum("n").as("hh_total"))
    // adaptive exact fast path, group-wise (see [[frequentItems]]): a
    // per-(partition, group) state with zero decrements is an exact
    // census of that group's slice; when NO state anywhere
    // decremented, summed summary counts are the exact per-group
    // censuses and the second corpus pass is skipped
    val decrements = summaries.filter(col("item").isNull)
      .agg(coalesce(sum("c"), lit(0L))).head.getLong(0)
    if (decrements == 0L)
      summaries.filter(col("item").isNotNull)
        .groupBy("grp", "item").agg(sum("c").as("n"))
        .join(broadcast(totals), Seq("grp"))
        .filter(col("n") * den > col("hh_total") * num)
        .select(col("grp").as(groupCol), col("item"), col("n"))
        .orderBy(asc(groupCol), desc("n"), asc("item"))
    else {
      val cands = summaries.filter(col("item").isNotNull)
        .select("grp", "item").distinct()
      strings.join(broadcast(cands), Seq("grp", "item"), "left_semi")
        .groupBy("grp", "item")
        .agg(count(lit(1)).as("n"))
        .join(broadcast(totals), Seq("grp"))
        .filter(col("n") * den > col("hh_total") * num)
        .select(col("grp").as(groupCol), col("item"), col("n"))
        .orderBy(asc(groupCol), desc("n"), asc("item"))
    }
  }
}
