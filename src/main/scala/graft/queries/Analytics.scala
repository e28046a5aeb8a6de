package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import Qhelpers._
import graft.ext.Funnel

/** Aggregation / window / JSON / routing catalog (SURVEY.md §2.4, §2.5,
  * §2.8 F16, §2.9). Single-pass designs: the reference computes its
  * dashboard with 20 separate filter passes (`apps/web/src/App.tsx:
  * 122-154`); here each stat is a conditional aggregate in ONE scan —
  * the shape that survives 100 TB.
  */
object Analytics {

  /** A3-family — dashboard multi-dim counts as one pass
    * (ref `apps/web/src/App.tsx:122-154`: 20 filter().length passes →
    * a single conditional aggregate). */
  def a3_dashboard_stats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").agg(
      count(lit(1)).as("n_total"),
      count(when(col("o_orderstatus") === "O", 1)).as("n_open"),
      count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
      count(when(col("o_orderstatus") === "P", 1)).as("n_pending"),
      count(when(col("o_orderpriority") === "1-URGENT", 1)).as("n_urgent"),
      count(when(col("o_totalprice") < 10000.0, 1)).as("n_small"),
      count(when(col("o_totalprice") >= 250000.0, 1)).as("n_large"),
      countDistinct(col("o_custkey")).as("n_customers"),
      msum(col("o_totalprice")).as("total_value"))

  /** A1-family — global multi-expression aggregate with exact distincts
    * (ref `src/index.ts:176-178`). */
  def a1_global_distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      count(lit(1)).as("n_lines"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      min(col("l_shipdate")).as("first_ship"),
      max(col("l_shipdate")).as("last_ship"))

  /** A4-family — latest event per type (`runs[0]` generalized,
    * ref `App.tsx:149`). max over unique event_id disambiguates. */
  def a4_latest_per_type(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(max(col("ts")).as("last_ts"),
        max(col("event_id")).as("max_event_id"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  private val priorityRank =
    when(col("o_orderpriority") === "1-URGENT", 5)
      .when(col("o_orderpriority") === "2-HIGH", 4)
      .when(col("o_orderpriority") === "3-MEDIUM", 3)
      .when(col("o_orderpriority") === "4-NOT SPECIFIED", 2)
      .otherwise(1)

  /** A5-family — argmax by custom rank map (trust-tier argmax,
    * ref `src/jobs/merge.ts:163-182`): per customer, their
    * highest-urgency order priority via `max_by` (Spark 4 built-in).
    * Ties share the same arg value → deterministic. */
  def a5_argmax_rank(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(max_by(col("o_orderpriority"), priorityRank).as("top_priority"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_custkey")

  private val stageOrder = Seq("signup", "view", "click", "purchase", "error")

  /** A6-family — argmax by ordinal position in a stage list
    * (monitoring-stage argmax, ref `src/jobs/merge.ts:184-198`). */
  def a6_argmax_ordinal(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        max_by(col("event_type"),
          array_position(lit(stageOrder.toArray), col("event_type")))
          .as("top_stage"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")

  /** O3-family — top-k with tiebreak (TakeOrderedAndProject: no global
    * sort at scale; ref head-N truncations `src/lineage.ts:30-70`). */
  def o3_topk(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(100)

  /** Extension (§2.4 note) — ROLLUP hierarchy totals in one pass. */
  def a_rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), msum(col("o_totalprice")).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy("status", "priority")

  /** W1 (§2.5 extension) — ranking window: top-3 customers per market
    * segment by account balance. */
  def w1_topn_per_group(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(desc("c_acctbal"), asc("c_custkey"))
    t(s, dir, "customer")
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 3)
      .select("c_mktsegment", "rnk", "c_custkey", "c_name", "c_acctbal")
      .orderBy("c_mktsegment", "rnk")
  }

  /** W2 (§2.5 extension) — running (cumulative) sum, decimal-exact so
    * segment-tree vs sequential accumulation can't diverge. */
  def w2_running_sum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("s_nationkey").orderBy(asc("s_suppkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "supplier")
      .withColumn("running_bal",
        sum(money(col("s_acctbal"))).over(w).cast(DoubleType))
      .select("s_nationkey", "s_suppkey", "s_name", "s_acctbal", "running_bal")
      .orderBy("s_nationkey", "s_suppkey")
  }

  /** W3 (§2.5 extension) — lag/delta analytics: per event type, how many
    * successive events (per user, time order) increased in value. */
  def w3_lag_delta(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    t(s, dir, "events")
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .groupBy("event_type")
      .agg(
        count(when(col("value") > col("prev_value"), 1)).as("n_increase"),
        count(when(col("value") <= col("prev_value"), 1)).as("n_not_increase"),
        count(when(col("prev_value").isNull, 1)).as("n_first"))
      .orderBy("event_type")
  }

  /** D2-family — multi-column distinct (link-set dedup semantics,
    * ref `db/schema.sql:101-102`). */
  def d2_multi_col_dedup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select("user_id", "event_type")
      .distinct()
      .orderBy("user_id", "event_type")

  /** D4-family — union of heterogeneous sources by name with missing
    * columns (ref `src/services/scan.ts:64-107`). */
  def d4_union_by_name(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(
      lit("customer").as("kind"), col("c_custkey").as("id"),
      col("c_name").as("name"), col("c_acctbal").as("acctbal"),
      col("c_mktsegment").as("segment"))
    val su = t(s, dir, "supplier").select(
      lit("supplier").as("kind"), col("s_suppkey").as("id"),
      col("s_name").as("name"), col("s_acctbal").as("acctbal"))
    c.unionByName(su, allowMissingColumns = true)
      .orderBy("kind", "id")
  }

  /** F16-family — JSON extraction from an open-map column
    * (ref `meta JSONB`, `get_json_object` mapping in SURVEY §2.8). */
  def f16_json_extract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast(IntegerType))
      .withColumn("k_bucket", floor(col("k") / 10).cast(IntegerType))
      .groupBy("k_bucket")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(dec12_6)).cast(DoubleType).as("total_value"))
      .orderBy("k_bucket")

  /** VARIANT decode — the same open-map column through Spark 4's
    * VariantType engine path: `parse_json` builds the binary variant
    * ONCE, `variant_get` then extracts typed paths without re-parsing
    * the JSON text per access (the scale story for wide semi-
    * structured records — N path reads cost one parse, where
    * `get_json_object` re-parses per path). Must agree exactly with
    * [[f16_json_extract]]'s text-path twin and DuckDB's recompute. */
  def f17_variant_extract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("pv", parse_json(col("props")))
      .withColumn("k",
        try_variant_get(col("pv"), "$.k", "int"))
      .withColumn("k_bucket", floor(col("k") / 10).cast(IntegerType))
      .where(col("k").isNotNull)
      .groupBy("k_bucket")
      .agg(count(lit(1)).as("n"), min("k").as("min_k"),
        max("k").as("max_k"),
        sum(col("value").cast(dec12_6)).cast(DoubleType).as("total_value"))
      .orderBy("k_bucket")

  /** F-family scalar bundle — substring/case/length/clamp/round/
    * coalesce/md5 fingerprint (SURVEY §2.8 F6-F8, F11, F15, F19). */
  def f_scalar_bundle(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        substring(col("p_name"), 1, 5).as("name_prefix"),
        length(col("p_name")).cast(LongType).as("name_len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        least(greatest(col("p_retailprice"), lit(500.0)), lit(1500.0))
          .as("price_clamped"),
        round(col("p_retailprice") * 100).cast(LongType).as("price_cents"),
        coalesce(nullif(col("p_type"), lit("ECONOMY")), lit("STANDARD"))
          .as("type_or_standard"),
        md5(concat_ws("|", col("p_name"), col("p_brand"))).as("fingerprint"))
      .orderBy("p_partkey")

  /** Tumbling time-window aggregation (batch shape of §2.12 streaming;
    * hourly event rollup). */
  def ev_tumbling_hourly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(dec12_6)).cast(DoubleType).as("total_value"))
      .orderBy("hour", "event_type")

  /** Time-series gap filling — the dashboard ask "hourly series with
    * explicit ZERO rows for silent hours": the hour spine generates
    * from the corpus min..max via `sequence()` (calendar-bounded —
    * spine size = hours × event types, never corpus rows), crossed
    * with the tiny type dimension, then the real hourly counts
    * left-join in and gaps coalesce to 0. One shuffle for the counts;
    * the spine side is a one-row aggregate exploded map-side. */
  def ev_gap_fill(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val counts = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val spine = ev
      .agg(date_trunc("hour", min("ts")).as("h0"),
        date_trunc("hour", max("ts")).as("h1"))
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
      .crossJoin(ev.select("event_type").distinct())
    spine.join(counts, Seq("hour", "event_type"), "left")
      .select(col("hour"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("hour", "event_type")
  }

  /** Gap-based sessionization (30-min inactivity gap) via lag + running
    * sum — the deterministic batch analog of `session_window`
    * (§2.12 extension). */
  def ev_sessionize(s: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byTime))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("new_sess")).cast(LongType).as("n_sessions"))
      .orderBy("user_id")
  }

  /** SESSION-LENGTH distribution (the engagement-shape report:
    * "mostly one-event bounces, or long sessions?"): the ev_sessionize
    * 30-min gap rule assigns (user, session) ids via a running sum
    * inside the SAME keyed window as the lag (one user_id shuffle
    * total), events roll up per session, and session lengths roll up
    * into a bounded histogram — pure integer counts end to end. */
  def ev_session_lengths(s: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byTime))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("sess", sum("new_sess").over(byTime))
      .groupBy("user_id", "sess").agg(count(lit(1)).as("len"))
      .groupBy("len").agg(count(lit(1)).as("n_sessions"))
      .orderBy("len")
  }

  /** Behavioral PATH analysis — the session transition matrix: for
    * every within-session consecutive event pair, count (from_type →
    * to_type) and each origin's outgoing share (the Markov-chain view
    * of user journeys: "after a click, 40% purchase"). Session rule =
    * the ev_sessionize 30-min gap; a transition exists iff the gap
    * rule did NOT open a new session, so ONE lag window yields both
    * the predecessor type and the same-session mask — one shuffle on
    * user_id, then the matrix aggregate over a tiny (from, to) grid.
    * `share` is a single double division of two exact counts —
    * engine-portable without decimal contortions. */
  def ev_transition_matrix(s: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    val counts = t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byTime))
      .withColumn("from_type", lag(col("event_type"), 1).over(byTime))
      .filter(col("prev_us").isNotNull &&
        unix_micros(col("ts")) - col("prev_us") <= gapUs)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("share", round(col("n").cast(DoubleType) /
        sum(col("n")).over(Window.partitionBy("from_type"))
          .cast(DoubleType), 6))
      .orderBy("from_type", "to_type")
  }

  /** CONVERSION LATENCY distribution (the funnel's "how long does it
    * take?" companion: time from a user's FIRST view to their first
    * purchase at or after it), bucketed by hour — a bounded-domain
    * histogram instead of a global median, so no unpartitioned
    * window and pure integer arithmetic end to end (`div` on
    * microseconds; long `/` would be double division). Two grouped
    * aggregates + one user-keyed join. */
  def ev_conversion_latency(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("vus"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("pus"))
    purchases.join(firstView, Seq("user_id"))
      .filter(col("pus") >= col("vus"))
      .groupBy("user_id", "vus").agg(min("pus").as("pus"))
      .withColumn("hours", expr("(pus - vus) div 3600000000"))
      .groupBy("hours").agg(count(lit(1)).as("n_users"))
      .orderBy("hours")
  }

  /** ROLLING 7-day DISTINCT users from MERGEABLE daily sketches — the
    * ask plain SQL cannot window ("COUNT(DISTINCT) OVER a sliding
    * frame" doesn't exist because distinct doesn't subtract): each day
    * is HLL-sketched ONCE (Spark's native Datasketches aggregate),
    * every day's sketch explodes to the ≤ 7 windows it serves, and
    * each window is a UNION of 7 tiny sketches — corpus rows are read
    * exactly once however long the window. lgK 14 keeps every window's
    * cardinality in HLL's EXACT sparse regime at these SFs, so the
    * differential oracle against DuckDB's true per-window
    * COUNT(DISTINCT) is sound (the x_hll_distinct discipline; bigger
    * cardinalities carry the standard envelope and are spec territory,
    * not oracle territory). */
  def ev_rolling_distinct_7d(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .groupBy("day")
      .agg(hll_sketch_agg(col("user_id").cast("string"), lit(14)).as("sk"))
    val observed = daily.select(col("day").as("target"))
    daily
      .withColumn("target", explode(expr(
        "sequence(day, day + interval 6 days, interval 1 day)")))
      .join(observed, Seq("target"), "left_semi")
      .groupBy(col("target").as("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("n_users"))
      .orderBy("day")
  }

  /** PARETO / revenue-concentration report ("do the top 10 % of
    * customers carry half the revenue?"): spend DECILES from the
    * distributed ranking family ([[graft.ext.GlobalRank]] — no
    * single-partition window), then per-decile customer counts, exact
    * decimal revenue, and each decile's share of total (integer-exact
    * decimal sums; the share is one divide, rounded). */
  def a_pareto_deciles(s: SparkSession, dir: String): DataFrame = {
    // customer-domain-sized aggregate, materialized once: GlobalRank
    // reads its input twice (the value census and the rank-join), so
    // an uncheckpointed spend re-scans orders per consumer (r21)
    val spend = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(money(col("o_totalprice"))).as("spend_dec"))
      .localCheckpoint(true)
    val ranked = graft.ext.GlobalRank.withRanks(
      spend.withColumn("spend", col("spend_dec").cast(DoubleType)),
      "spend", "custkey", nTiles = 10)
    ranked.groupBy(col("ntile").cast(LongType).as("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend_dec")).as("_rev"))
      // total via a window over the TEN decile rows (bounded fold —
      // no extra driver action, no corpus data under the window)
      .withColumn("_total", sum("_rev").over(Window.partitionBy()))
      .select(col("decile"), col("n_customers"),
        col("_rev").cast(DoubleType).as("revenue"),
        round(col("_rev").cast(DoubleType) / col("_total").cast(DoubleType), 6)
          .as("revenue_share"))
      .orderBy("decile")
  }

  /** LAST-TOUCH ATTRIBUTION (the marketing-analytics staple: credit
    * each purchase to the most recent prior click): the as-of
    * union-carry ([[graft.ext.AsOf]] — one key shuffle, never a range
    * self-join) pins each purchase to the user's latest click at or
    * before its timestamp and carries the clicked ITEM; revenue then
    * rolls up per attributed item in exact decimal. Unattributed
    * purchases (no prior click) are counted in a dedicated row rather
    * than dropped — attribution reports that silently shrink their
    * denominator overstate every channel. */
  def ev_attribution_last_touch(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("item"))
    graft.ext.AsOf.asofJoin(purchases, clicks, "user_id", "ts",
        Seq("item"), tieBreak = Seq("event_id"))
      .groupBy(coalesce(col("asof_item"), lit(-1)).as("item"))
      .agg(count(lit(1)).as("n_purchases"),
        msum(col("value")).as("attributed_value"))
      .orderBy("item")
  }

  /** GLOBAL ranking family (§2.5) WITHOUT the single-partition window
    * ([[graft.ext.GlobalRank]]): customer spend percentiles —
    * row_number / rank / percent_rank / cume_dist / NTILE(10) over
    * the full customer ordering via the two-phase distributed-rank
    * recipe (range partition + broadcast prefix offsets; the only
    * windows in the plan are keyed). The oracle pits the closed forms
    * against DuckDB's NATIVE window functions — the distributed
    * formulation must be indistinguishable from the engine built-ins.
    * Rank family orders by spend alone (ties share rank); positional
    * functions tie-break by custkey, exactly `ORDER BY spend,
    * custkey`. */
  def w7_global_ranks(s: SparkSession, dir: String): DataFrame = {
    val spend = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(money(col("o_totalprice"))).cast(DoubleType).as("spend"))
      .localCheckpoint(true) // two GlobalRank consumers, one orders scan
    graft.ext.GlobalRank.withRanks(spend, "spend", "custkey", nTiles = 10)
      .select(col("custkey"), col("spend"), col("row_number"),
        col("rank"), col("percent_rank"), col("cume_dist"),
        col("ntile").cast(LongType).as("decile"))
      .orderBy("custkey")
  }

  /** ITEM CO-OCCURRENCE ("users who bought X also bought Y" — the
    * co-visitation recommender primitive): distinct (user, item)
    * purchases, per-user item lists CAPPED at 64 (deterministic
    * row_number cut, mirrored in the oracle — the capped-pair
    * discipline of the co-supplier graph: a power user's fan-out is
    * bounded, never quadratic in their history), item pairs via ONE
    * equi self-join on user_id, then lift = n_co·N / (n_a·n_b)
    * (integer products, one IEEE divide) against broadcast per-item
    * user counts. Shuffles: one on user_id, one on the item pair —
    * the pair domain is catalog², aggregated map-side. */
  def ev_item_cooccurrence(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("item"))
      .filter(col("item").isNotNull)
      .distinct()
    // materialized ONCE (localCheckpoint, ≤ 64 rows per user — the
    // same linear bound ev_session_funnel's frame carries): four
    // consumers read it (both self-join sides, the per-item census,
    // the user count) and would otherwise each re-run the purchase
    // scan + distinct + window (r21, guide §5)
    val capped = p
      .withColumn("_rk", row_number().over(
        Window.partitionBy("user_id").orderBy("item")))
      .filter(col("_rk") <= 64).drop("_rk")
      .localCheckpoint(true)
    // count(1), not countDistinct(user_id): capped is DISTINCT on
    // (user_id, item) by construction, so a given user contributes at
    // most one row per (item_a, item_b) pair and per item — the counts
    // are provably equal, and dropping the distinct-aggregate removes
    // its extra keyed-on-(pair, user) partial stage from both censuses
    // (r21 continuation; oracle-identical)
    val co = capped.select(col("user_id"), col("item").as("item_a"))
      .join(capped.select(col("user_id"), col("item").as("item_b")),
        Seq("user_id"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= 2)
    val itemUsers = capped.groupBy("item")
      .agg(count(lit(1)).as("nu"))
    // user count as a 1-row broadcast frame, not a driver action: the
    // count() cost one extra job per run for a value the plan can
    // carry itself (r21; same integer arithmetic, identical output)
    val nUsers = capped.agg(
      countDistinct("user_id").as("_n_users"))
    co.join(broadcast(itemUsers
        .select(col("item").as("item_a"), col("nu").as("n_a"))), "item_a")
      .join(broadcast(itemUsers
        .select(col("item").as("item_b"), col("nu").as("n_b"))), "item_b")
      .crossJoin(broadcast(nUsers))
      .withColumn("lift",
        round((col("n_co") * col("_n_users")).cast(DoubleType)
          / (col("n_a") * col("n_b")).cast(DoubleType), 6))
      .select("item_a", "item_b", "n_co", "n_a", "n_b", "lift")
      .orderBy("item_a", "item_b")
  }

  /** RANGE-frame window (§2.5 — the one frame kind rows-frames can't
    * fake): trailing 7-DAY revenue per order day, where the frame
    * covers a VALUE distance (≤ 6 days back), so calendar gaps
    * contribute nothing instead of dragging in the previous 6 ROWS
    * whatever their dates. The window rides the daily roll-up
    * (calendar-bounded — ~2.4k rows at sf1, control-plane sized like
    * the gap-fill spine), never the orders table; revenue sums are
    * exact DECIMAL before the final double cast. */
  def w6_range_frame_7d(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(money(col("o_totalprice"))).as("rev"))
    val trailing = Window.orderBy(col("dn")).rangeBetween(-6, 0)
    daily
      .withColumn("dn",
        datediff(col("day"), lit(java.sql.Date.valueOf("1990-01-01")))
          .cast(LongType))
      .withColumn("rev7d", sum(col("rev")).over(trailing))
      .select(col("day"), col("rev").cast(DoubleType).as("rev"),
        col("rev7d").cast(DoubleType).as("rev7d"))
      .orderBy("day")
  }

  /** TIME-WEIGHTED average (TWAP — the irregular-series mean where a
    * value "holds" until the next observation; plain AVG over-weights
    * bursts): per day, Σ value·Δt / Σ Δt with Δt = microseconds to
    * the day's next event (the day's last event carries no interval).
    * ONE day-partitioned window (lead) — a single shuffle — then a
    * grouped sum; each value·Δt product is ONE IEEE multiply landed
    * in DECIMAL(38,6) (sum order cannot matter; the ~2e-3 double ULP
    * at μs·value magnitudes sits far above the 6-dp quantum, so both
    * engines truncate identically), and the final ratio is one
    * divide + round. */
  def ev_twap_daily(s: SparkSession, dir: String): DataFrame = {
    val byDay = Window.partitionBy(col("d"))
      .orderBy(asc("ts"), asc("event_id"))
    t(s, dir, "events")
      .withColumn("d", date_trunc("day", col("ts")))
      .withColumn("dt",
        unix_micros(lead(col("ts"), 1).over(byDay)) - unix_micros(col("ts")))
      .filter(col("dt").isNotNull)
      .groupBy(col("d").as("day"))
      .agg(
        sum((col("value") * col("dt").cast(DoubleType))
          .cast("decimal(38,6)")).as("_num"),
        sum(col("dt")).as("_den"),
        count(lit(1)).as("n_intervals"))
      .select(col("day"),
        round(col("_num").cast(DoubleType) / col("_den").cast(DoubleType), 6)
          .as("twap"),
        col("n_intervals"))
      .orderBy("day")
  }

  /** Seasonal ANOMALY baseline (time-series ops ask: "was last night's
    * traffic weird for a 3am?"): hourly event counts compared to the
    * baseline of hours sharing their HOUR-OF-DAY — per hod: #hours
    * observed, mean, σ, and how many hours sat more than 1σ from the
    * mean. The moments are exact integer sums (hour counts are
    * longs), so mean/σ are a fixed IEEE sequence on identical inputs
    * in both engines (the `a_outliers` discipline); two tiny
    * aggregates + one broadcast join of a 24-row baseline — the only
    * corpus-sized pass is the first hourly roll-up. */
  def ev_anomaly_hours(s: SparkSession, dir: String): DataFrame = {
    def d(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c.cast(DoubleType)
    val hourly = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .withColumn("hod", hour(col("h")))
    val base = hourly.groupBy("hod").agg(count(lit(1)).as("k"),
        sum("n").as("s1"), sum(col("n") * col("n")).as("s2"))
      .select(col("hod"), col("k"),
        (d(col("s1")) / d(col("k"))).as("mean"),
        sqrt((d(col("s2")) - d(col("s1")) * d(col("s1")) / d(col("k")))
          / d(col("k"))).as("sigma"))
    hourly.join(broadcast(base), "hod")
      .groupBy(col("hod"), col("k"), round(col("mean"), 6).as("mean_n"),
        round(col("sigma"), 6).as("sigma_n"))
      .agg(count(when(abs(d(col("n")) - col("mean")) > col("sigma"), 1))
        .as("n_anomalous"))
      .orderBy("hod")
  }

  /** EWMA (exponentially weighted moving average) engagement score per
    * user — s_t = α·x_t + (1−α)·s_{t−1} over the user's last 20 events
    * in (ts, event_id) order, evaluated at the newest event. The
    * sequential recursion unrolls to its closed form (newest event has
    * descending rank 1, the oldest kept M = min(T, 20)): s = 2^{−(M−1)}
    * ·x_{rank M} + Σ_{rank<M} 2^{−rank}·x — ONE user_id shuffle
    * (window), each term independent, the sum an ordinary grouped
    * aggregate: embarrassingly parallel instead of a per-user scan.
    * DETERMINISM: α = ½ makes every weight an exact power of two
    * (shiftleft + divide — no `pow`, whose last-ULP rounding differs
    * between libm implementations), so each term x·2^{−e} is
    * bit-exact in both engines (power-of-two multiply shifts the
    * exponent only); terms sum in DECIMAL(38,18) (the house
    * no-raw-double-sum rule) so addition order cannot matter. */
  def ev_ewma_users(s: SparkSession, dir: String): DataFrame = {
    val newestFirst = Window.partitionBy("user_id")
      .orderBy(desc("ts"), desc("event_id"))
    t(s, dir, "events")
      .filter(col("value").isNotNull)
      .withColumn("_rnd", row_number().over(newestFirst))
      .filter(col("_rnd") <= 20)
      .withColumn("_m", count(lit(1)).over(Window.partitionBy("user_id")))
      .withColumn("_e",
        when(col("_rnd") === col("_m"), col("_m") - 1)
          .otherwise(col("_rnd")))
      .withColumn("_term", col("value") /
        expr("cast(shiftleft(1L, cast(_e as int)) as double)"))
      .groupBy("user_id")
      .agg(
        round(sum(col("_term").cast("decimal(38,18)")).cast(DoubleType), 6)
          .as("ewma"),
        count(lit(1)).as("n_used"))
      .orderBy("user_id")
  }

  /** Sliding time-window aggregation (batch shape of §2.12): Spark's
    * own `window(ts, 2h, 1h)` generator in BATCH mode — every event
    * lands in two hour-aligned windows; the oracle unnests the same
    * two starts per event. */
  def ev_sliding_2h1h(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(
        window(col("ts"), "2 hours", "1 hour").getField("start")
          .as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("window_start", "event_type")

  /** Per-user event milestones: a user emits a row at every 10th event
    * in (ts, event_id) order — n_events = the running count at the
    * crossing. */
  def ev_milestones(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    t(s, dir, "events")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") % 10 === 0)
      .select(col("user_id"), col("_rn").cast(LongType).as("n_events"),
        (col("_rn") / 10).cast(LongType).as("milestone"))
      .orderBy("user_id", "milestone")
  }

  /** Batch twin of the STREAM-STREAM interval join
    * (`streaming.EventStreams.purchasesWithRecentClicks` — purchases ⋈
    * clicks within a per-user 10-minute look-back, the Structured
    * Streaming watermarked state join): the query runs the SAME
    * production transformation in batch mode (watermarks are no-ops on
    * a bounded input — one code path serves both), rolled up per user.
    * StreamingSpec proves the incremental streaming execution emits
    * exactly these rows; this row pins the join semantics themselves
    * (inclusive interval bounds, per-user equi-key) against DuckDB. */
  def ev_stream_join(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.purchasesWithRecentClicks(
        t(s, dir, "events"))
      .groupBy(col("p_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("c_value").cast(dec12_6)).cast(DoubleType).as("click_value"))
      .orderBy("user_id")

  /** Cohort retention matrix (§2.12 analytics extension): cohort = a
    * user's first active DAY, cell (cohort_day, day_offset) = distinct
    * users from that cohort active day_offset days later. ONE shuffle on
    * user_id carries both the min and the per-user active-day set
    * (collect_set is bounded by the calendar window — ≤ retention-window
    * days per user, never per-event state), then the explode+re-count is
    * over (users × active-days) rows with a tiny (cohorts × offsets)
    * result. No window functions, no second scan of events. */
  def ev_retention_cohorts(s: SparkSession, dir: String): DataFrame = {
    // day as midnight TIMESTAMP, not DATE — date32 parquet lands as
    // python objects in the driver's pandas compare
    val perUser = t(s, dir, "events")
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .groupBy("user_id")
      .agg(min(col("d")).as("cohort_day"), collect_set(col("d")).as("days"))
    perUser
      .select(col("cohort_day"), explode(col("days")).as("active_day"))
      .groupBy(col("cohort_day"),
        datediff(col("active_day"), col("cohort_day")).cast(LongType)
          .as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Ordered 3-step funnel (view → click → purchase, each step within
    * 24 h of the previous) via the parametric [[graft.ext.Funnel]]
    * fold: ONE shuffle on user_id, ordered fold as the sequential
    * state machine, no per-step self-joins, no corpus-sized window
    * (design + equivalence argument documented there). */
  def ev_funnel_steps(s: SparkSession, dir: String): DataFrame =
    Funnel.fold(t(s, dir, "events"),
      col("user_id"), col("ts"), col("event_type"),
      Seq(Funnel.Step("view", 0, "view"),
        Funnel.Step("click", 24, "click"),
        Funnel.Step("purchase", 24, "purchase")))

  /** The pure-SQL-text twin of `ev_funnel_steps` through the
    * `graft_funnel` table function: same one-shuffle ordered fold,
    * reached with no Scala entry point; shares the chained-min
    * oracle verbatim. */
  def ev_funnel_sql(s: SparkSession, dir: String): DataFrame =
    s.sql(s"SELECT * FROM graft_funnel('$dir/events.parquet', " +
      "'view:0,click:24,purchase:24')")

  /** 4-step funnel (signup → view → click → purchase) with per-step
    * windows that NARROW down-funnel (72 h → 24 h → 12 h) — the
    * parametric form of [[ev_funnel_steps]], same one-shuffle fold. */
  def ev_funnel_4step(s: SparkSession, dir: String): DataFrame =
    Funnel.fold(t(s, dir, "events"),
      col("user_id"), col("ts"), col("event_type"),
      Seq(Funnel.Step("signup", 0, "signup"),
        Funnel.Step("view", 72, "view"),
        Funnel.Step("click", 24, "click"),
        Funnel.Step("purchase", 12, "purchase")))

  /** New-vs-returning users per day — the classic acquisition
    * dashboard split: a user's first active day marks them "new" that
    * day and "returning" on every later active day. One (user, day)
    * distinct pass, a per-user min-day aggregate joined back, one
    * grouped count — no windows, no second events scan. */
  def ev_new_vs_returning(s: SparkSession, dir: String): DataFrame = {
    val ud = t(s, dir, "events")
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .distinct()
    // first day via a user-keyed window (min over the user's rows):
    // the groupBy + self-join shape scanned the distinct frame twice
    // and paid an extra exchange for the join (r21, guide §2.4)
    ud.withColumn("first_d",
        min("d").over(Window.partitionBy("user_id")))
      .groupBy("d")
      .agg(count(when(col("d") === col("first_d"), 1)).as("new_users"),
        count(when(col("d") =!= col("first_d"), 1)).as("returning_users"))
      .orderBy("d")
  }

  /** SESSION-scoped funnel — operator composition: the ev_sessionize
    * gap rule (30-min inactivity, same window expression) assigns
    * each event a (user, session) key, and the PARAMETRIC
    * [[graft.ext.Funnel]] fold then runs per session instead of per
    * user — "did the view convert to a click within the same visit".
    * The windowed frame is materialized once (localCheckpoint) for
    * its two consumers (session census + fold). The oracle derives
    * identical session ids with the same lag/running-sum SQL and
    * chains the per-(user, session) min CTEs. */
  def ev_session_funnel(s: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    val se = t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byTime))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("sess", sum(col("new_sess")).over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("user_id", "sess", "ts", "event_type")
      .localCheckpoint()
    val sessions = se.agg(
      count_distinct(col("user_id"), col("sess")).as("n_sessions"))
    // 8760 h (= a year) cannot bind inside a 30-min-gap session — the
    // step window exists because the fold requires one; the oracle
    // carries the same bound so the texts stay equivalent by identity
    val funnel = Funnel.fold(se,
      struct(col("user_id"), col("sess")), col("ts"), col("event_type"),
      Seq(Funnel.Step("view", 0, "view"), Funnel.Step("click", 8760, "click")))
    sessions.crossJoin(funnel.select(
      col("view_users").as("view_sessions"),
      col("click_users").as("click_sessions")))
  }

  /** V1/V3-family — validation gate + routing split over documents
    * (first-failing-reason-wins precedence, soft-fail routing; ref
    * `src/ontology/validator.ts:26-48`, `src/jobs/scan.ts:50-74`). */
  def v1_validation_route(s: SparkSession, dir: String): DataFrame = {
    val reason =
      when(!col("lang").isin("en", "de", "fr"), "lang_not_allowed")
        .when(col("n_chars") < 120, "too_short")
        .when(col("n_chars") > 2000, "too_long")
        .otherwise(null)
    t(s, dir, "documents")
      .withColumn("reason", reason)
      .withColumn("route",
        when(col("reason").isNull, "main").otherwise("review_queue"))
      .groupBy("route", "reason")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast(LongType).as("total_chars"))
      .orderBy(asc_nulls_first("route"), asc_nulls_first("reason"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a3_dashboard_stats" -> (a3_dashboard_stats _),
    "a1_global_distinct" -> (a1_global_distinct _),
    "a4_latest_per_type" -> (a4_latest_per_type _),
    "a5_argmax_rank" -> (a5_argmax_rank _),
    "a6_argmax_ordinal" -> (a6_argmax_ordinal _),
    "o3_topk" -> (o3_topk _),
    "a_rollup" -> (a_rollup _),
    "w1_topn_per_group" -> (w1_topn_per_group _),
    "w2_running_sum" -> (w2_running_sum _),
    "w3_lag_delta" -> (w3_lag_delta _),
    "d2_multi_col_dedup" -> (d2_multi_col_dedup _),
    "d4_union_by_name" -> (d4_union_by_name _),
    "f16_json_extract" -> (f16_json_extract _),
    "f17_variant_extract" -> (f17_variant_extract _),
    "f_scalar_bundle" -> (f_scalar_bundle _),
    "ev_tumbling_hourly" -> (ev_tumbling_hourly _),
    "ev_sessionize" -> (ev_sessionize _),
    "ev_session_lengths" -> (ev_session_lengths _),
    "ev_transition_matrix" -> (ev_transition_matrix _),
    "ev_anomaly_hours" -> (ev_anomaly_hours _),
    "ev_twap_daily" -> (ev_twap_daily _),
    "w6_range_frame_7d" -> (w6_range_frame_7d _),
    "ev_item_cooccurrence" -> (ev_item_cooccurrence _),
    "w7_global_ranks" -> (w7_global_ranks _),
    "ev_attribution_last_touch" -> (ev_attribution_last_touch _),
    "a_pareto_deciles" -> (a_pareto_deciles _),
    "ev_rolling_distinct_7d" -> (ev_rolling_distinct_7d _),
    "ev_conversion_latency" -> (ev_conversion_latency _),
    "ev_ewma_users" -> (ev_ewma_users _),
    "ev_sliding_2h1h" -> (ev_sliding_2h1h _),
    "ev_stream_join" -> (ev_stream_join _),
    "ev_milestones" -> (ev_milestones _),
    "ev_retention_cohorts" -> (ev_retention_cohorts _),
    "ev_funnel_steps" -> (ev_funnel_steps _),
    "ev_funnel_sql" -> (ev_funnel_sql _),
    "ev_funnel_4step" -> (ev_funnel_4step _),
    "ev_gap_fill" -> (ev_gap_fill _),
    "ev_new_vs_returning" -> (ev_new_vs_returning _),
    "ev_session_funnel" -> (ev_session_funnel _),
    "v1_validation_route" -> (v1_validation_route _))

  val oracle: Map[String, String] = Map(
    "a3_dashboard_stats" ->
      s"""SELECT COUNT(*) AS n_total,
         | COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
         | COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
         | COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending,
         | COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
         | COUNT(*) FILTER (WHERE o_totalprice < 10000.0) AS n_small,
         | COUNT(*) FILTER (WHERE o_totalprice >= 250000.0) AS n_large,
         | COUNT(DISTINCT o_custkey) AS n_customers,
         | ${sqlMsum("o_totalprice")} AS total_value
         |FROM orders""".stripMargin,
    "a1_global_distinct" ->
      """SELECT COUNT(*) AS n_lines,
        | COUNT(DISTINCT l_orderkey) AS n_orders,
        | COUNT(DISTINCT l_partkey) AS n_parts,
        | COUNT(DISTINCT l_suppkey) AS n_supps,
        | MIN(l_shipdate) AS first_ship,
        | MAX(l_shipdate) AS last_ship
        |FROM lineitem""".stripMargin,
    "a4_latest_per_type" ->
      """SELECT event_type, MAX(ts) AS last_ts, MAX(event_id) AS max_event_id,
        | COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a5_argmax_rank" ->
      """SELECT o_custkey,
        | ARG_MAX(o_orderpriority, CASE o_orderpriority
        |   WHEN '1-URGENT' THEN 5 WHEN '2-HIGH' THEN 4 WHEN '3-MEDIUM' THEN 3
        |   WHEN '4-NOT SPECIFIED' THEN 2 ELSE 1 END) AS top_priority,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "a6_argmax_ordinal" ->
      """SELECT user_id,
        | ARG_MAX(event_type, list_position(['signup','view','click','purchase','error'], event_type)) AS top_stage,
        | COUNT(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "o3_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "a_rollup" ->
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
         | COALESCE(o_orderpriority, 'ALL') AS priority,
         | COUNT(*) AS n, ${sqlMsum("o_totalprice")} AS total
         |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         |ORDER BY status, priority""".stripMargin,
    "w1_topn_per_group" ->
      """SELECT c_mktsegment, rnk, c_custkey, c_name, c_acctbal FROM (
        | SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
        |  ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
        | FROM customer) x
        |WHERE rnk <= 3 ORDER BY c_mktsegment, rnk""".stripMargin,
    "w2_running_sum" ->
      """SELECT s_nationkey, s_suppkey, s_name, s_acctbal,
        | CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) OVER (
        |   PARTITION BY s_nationkey ORDER BY s_suppkey ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS VARCHAR) AS DOUBLE) AS running_bal
        |FROM supplier ORDER BY s_nationkey, s_suppkey""".stripMargin,
    "w3_lag_delta" ->
      """SELECT event_type,
        | COUNT(*) FILTER (WHERE value > prev_value) AS n_increase,
        | COUNT(*) FILTER (WHERE value <= prev_value) AS n_not_increase,
        | COUNT(*) FILTER (WHERE prev_value IS NULL) AS n_first
        |FROM (
        | SELECT event_type, value,
        |  LAG(value, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC) AS prev_value
        | FROM events) x
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "d2_multi_col_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "d4_union_by_name" ->
      """SELECT * FROM (
        | SELECT 'customer' AS kind, c_custkey AS id, c_name AS name,
        |   c_acctbal AS acctbal, c_mktsegment AS segment
        | FROM customer
        | UNION ALL BY NAME
        | SELECT 'supplier' AS kind, s_suppkey AS id, s_name AS name,
        |   s_acctbal AS acctbal, NULL AS segment
        | FROM supplier) u
        |ORDER BY kind, id""".stripMargin,
    "f16_json_extract" ->
      """SELECT k_bucket, COUNT(*) AS n,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE) AS total_value
        |FROM (
        | SELECT CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS INTEGER)
        |   / 10) AS INTEGER) AS k_bucket, value
        | FROM events) x
        |GROUP BY k_bucket ORDER BY k_bucket""".stripMargin,
    "f17_variant_extract" ->
      """SELECT k_bucket, COUNT(*) AS n, MIN(k) AS min_k, MAX(k) AS max_k,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE) AS total_value
        |FROM (
        | SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |   CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS INTEGER)
        |     / 10) AS INTEGER) AS k_bucket, value
        | FROM events) x
        |WHERE k IS NOT NULL
        |GROUP BY k_bucket ORDER BY k_bucket""".stripMargin,
    "f_scalar_bundle" ->
      """SELECT p_partkey,
        | upper(p_name) AS name_upper,
        | substr(p_name, 1, 5) AS name_prefix,
        | length(p_name) AS name_len,
        | concat_ws('|', p_brand, p_type) AS brand_type,
        | least(greatest(p_retailprice, 500.0), 1500.0) AS price_clamped,
        | CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        | COALESCE(NULLIF(p_type, 'ECONOMY'), 'STANDARD') AS type_or_standard,
        | md5(concat_ws('|', p_name, p_brand)) AS fingerprint
        |FROM part ORDER BY p_partkey""".stripMargin,
    "ev_tumbling_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    // every event lands in exactly two hour-aligned 2h windows
    "ev_sliding_2h1h" ->
      """SELECT window_start, event_type, COUNT(*) AS n FROM (
        | SELECT event_type,
        |  UNNEST([date_trunc('hour', ts),
        |          date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS window_start
        | FROM events)
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // inclusive BETWEEN on both engines; decimal-cast value sum
    "ev_stream_join" ->
      """SELECT p.user_id AS user_id, COUNT(*) AS n_pairs,
        | CAST(CAST(SUM(CAST(c.value AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE)
        |   AS click_value
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 10 MINUTE AND p.ts
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_milestones" ->
      """SELECT user_id, CAST(rn AS BIGINT) AS n_events,
        | CAST(rn // 10 AS BIGINT) AS milestone
        |FROM (
        | SELECT user_id, ROW_NUMBER() OVER (PARTITION BY user_id
        |   ORDER BY ts ASC, event_id ASC) AS rn
        | FROM events)
        |WHERE rn % 10 = 0
        |ORDER BY user_id, milestone""".stripMargin,
    "ev_sessionize" ->
      """SELECT user_id, COUNT(*) AS n_events,
        | CAST(SUM(new_sess) AS BIGINT) AS n_sessions
        |FROM (
        | SELECT user_id,
        |  CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |    THEN 1 ELSE 0 END AS new_sess
        | FROM (
        |  SELECT user_id, epoch_us(ts) AS us,
        |   LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |     ORDER BY ts ASC, event_id ASC) AS prev_us
        |  FROM events) y) x
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // a transition = a consecutive same-session pair (the gap rule did
    // not fire); share = outgoing fraction per origin type — one
    // double division of exact counts in both engines
    // session lengths: same lag/running-sum session ids as the
    // sessionize oracle, then two integer roll-ups
    "ev_session_lengths" ->
      """WITH e AS (
        | SELECT user_id, ts, event_id,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev_us
        | FROM events),
        |s AS (
        | SELECT user_id,
        |  sum(CASE WHEN prev_us IS NULL
        |        OR epoch_us(ts) - prev_us > 1800000000
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS sess
        | FROM e),
        |l AS (SELECT user_id, sess, count(*) AS len FROM s GROUP BY 1, 2)
        |SELECT CAST(len AS BIGINT) AS len, count(*) AS n_sessions
        |FROM l GROUP BY 1 ORDER BY len""".stripMargin,
    // conversion latency: integer microsecond div end to end
    "ev_conversion_latency" ->
      """WITH v AS (
        | SELECT user_id, min(epoch_us(ts)) AS vus
        | FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        | SELECT p.user_id, v.vus, min(epoch_us(p.ts)) AS pus
        | FROM events p JOIN v ON p.user_id = v.user_id
        | WHERE p.event_type = 'purchase' AND epoch_us(p.ts) >= v.vus
        | GROUP BY 1, 2)
        |SELECT (pus - vus) // 3600000000 AS hours, count(*) AS n_users
        |FROM c GROUP BY 1 ORDER BY hours""".stripMargin,
    // rolling distinct: sketch unions in the exact sparse regime must
    // equal the true per-window COUNT(DISTINCT)
    "ev_rolling_distinct_7d" ->
      """WITH days AS (
        | SELECT DISTINCT date_trunc('day', ts) AS d FROM events)
        |SELECT days.d AS day,
        | count(DISTINCT e.user_id) AS n_users
        |FROM days JOIN events e
        |  ON date_trunc('day', e.ts)
        |     BETWEEN days.d - INTERVAL 6 DAY AND days.d
        |GROUP BY 1 ORDER BY day""".stripMargin,
    // Pareto deciles: ntile ordered by (spend, custkey) mirrors the
    // distributed rank; decimal-exact revenue, one divide per share
    "a_pareto_deciles" ->
      """WITH s AS (
        | SELECT o_custkey AS custkey,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_dec,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        | FROM orders GROUP BY 1),
        |d AS (
        | SELECT custkey, spend_dec,
        |  ntile(10) OVER (ORDER BY spend, custkey) AS decile
        | FROM s),
        |g AS (
        | SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_customers,
        |  sum(spend_dec) AS rev
        | FROM d GROUP BY 1),
        |t AS (SELECT sum(rev) AS trev FROM g)
        |SELECT g.decile, g.n_customers, CAST(g.rev AS DOUBLE) AS revenue,
        | ROUND(CAST(g.rev AS DOUBLE) / CAST(t.trev AS DOUBLE), 6)
        |  AS revenue_share
        |FROM g CROSS JOIN t ORDER BY decile""".stripMargin,
    // last-touch attribution: TIE-AWARE window argmax (not DuckDB's
    // native ASOF JOIN, which picks an ARBITRARY click when two clicks
    // share the same max ts <= purchase ts — the Spark side breaks
    // that tie deterministically by event_id, so the oracle must
    // mirror the (ts, event_id) ordering, not depend on the fixture
    // never having per-user duplicate click timestamps); unattributed
    // purchases land in item -1, not dropped
    "ev_attribution_last_touch" ->
      s"""WITH p AS (SELECT event_id, user_id, ts, value FROM events
         |           WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts, event_id,
         |       CAST(json_extract_string(props, '$$.k') AS INTEGER) AS item
         |      FROM events WHERE event_type = 'click'),
         |m AS (
         | SELECT p.event_id AS pid, p.value AS value, c.item,
         |  row_number() OVER (PARTITION BY p.event_id
         |                     ORDER BY c.ts DESC, c.event_id DESC) AS rk
         | FROM p LEFT JOIN c
         |  ON p.user_id = c.user_id AND c.ts <= p.ts)
         |SELECT coalesce(m.item, -1) AS item,
         | count(*) AS n_purchases,
         | ${Qhelpers.sqlMsum("m.value")} AS attributed_value
         |FROM m WHERE m.rk = 1
         |GROUP BY 1 ORDER BY item""".stripMargin,
    // the distributed closed forms must equal DuckDB's NATIVE window
    // functions; positional functions tie-break by custkey, the rank
    // family orders by spend alone (SQL tie semantics)
    "w7_global_ranks" ->
      """WITH s AS (
        | SELECT o_custkey AS custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        | FROM orders GROUP BY 1)
        |SELECT custkey, spend,
        | row_number() OVER (ORDER BY spend, custkey) AS row_number,
        | rank() OVER (ORDER BY spend) AS rank,
        | ROUND(percent_rank() OVER (ORDER BY spend), 6) AS percent_rank,
        | ROUND(cume_dist() OVER (ORDER BY spend), 6) AS cume_dist,
        | ntile(10) OVER (ORDER BY spend, custkey) AS decile
        |FROM s ORDER BY custkey""".stripMargin,
    // co-visitation with the deterministic 64-item cap mirrored, lift
    // from integer products + one divide
    "ev_item_cooccurrence" ->
      """WITH p AS (
        | SELECT DISTINCT user_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS item
        | FROM events WHERE event_type = 'purchase'
        |  AND json_extract_string(props, '$.k') IS NOT NULL),
        |c AS (
        | SELECT user_id, item FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY item) AS rk FROM p)
        | WHERE rk <= 64),
        |co AS (
        | SELECT a.item AS item_a, b.item AS item_b,
        |  count(DISTINCT a.user_id) AS n_co
        | FROM c a JOIN c b ON a.user_id = b.user_id AND a.item < b.item
        | GROUP BY 1, 2),
        |iu AS (SELECT item, count(DISTINCT user_id) AS nu FROM c GROUP BY 1),
        |n AS (SELECT count(DISTINCT user_id) AS nu FROM c)
        |SELECT co.item_a, co.item_b, co.n_co, ia.nu AS n_a, ib.nu AS n_b,
        | ROUND(CAST(co.n_co * n.nu AS DOUBLE)
        |   / CAST(ia.nu * ib.nu AS DOUBLE), 6) AS lift
        |FROM co
        |CROSS JOIN n
        |JOIN iu ia ON ia.item = co.item_a
        |JOIN iu ib ON ib.item = co.item_b
        |WHERE co.n_co >= 2
        |ORDER BY item_a, item_b""".stripMargin,
    // RANGE frame over day distance: calendar gaps contribute nothing
    // (a rows-frame would drag in 6 prior rows whatever their dates)
    "w6_range_frame_7d" ->
      """WITH d AS (
        | SELECT o_orderdate AS day,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        | FROM orders GROUP BY 1)
        |SELECT day, CAST(rev AS DOUBLE) AS rev,
        | CAST(sum(rev) OVER (ORDER BY day
        |   RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
        |  AS DOUBLE) AS rev7d
        |FROM d ORDER BY day""".stripMargin,
    // time-weighted average: value·Δt products land in DECIMAL(38,6)
    // (order-independent sum), one divide + round at the end
    "ev_twap_daily" ->
      """WITH e AS (
        | SELECT date_trunc('day', ts) AS d, ts, value,
        |  lead(ts) OVER (PARTITION BY date_trunc('day', ts)
        |                 ORDER BY ts, event_id) AS nts
        | FROM events),
        |x AS (
        | SELECT d, value, epoch_us(nts) - epoch_us(ts) AS dt
        | FROM e WHERE nts IS NOT NULL)
        |SELECT d AS day,
        | ROUND(CAST(sum(CAST(value * CAST(dt AS DOUBLE)
        |          AS DECIMAL(38,6))) AS DOUBLE)
        |   / CAST(CAST(sum(dt) AS BIGINT) AS DOUBLE), 6) AS twap,
        | count(*) AS n_intervals
        |FROM x GROUP BY d ORDER BY day""".stripMargin,
    // hour-of-day anomaly baseline: exact integer moments → a fixed
    // IEEE mean/σ sequence (the a_outliers discipline), 1σ flag
    "ev_anomaly_hours" ->
      """WITH h AS (
        | SELECT date_trunc('hour', ts) AS h, count(*) AS n
        | FROM events GROUP BY 1),
        |hod AS (SELECT *, CAST(extract(hour FROM h) AS INT) AS hod FROM h),
        |b AS (
        | SELECT hod, count(*) AS k, CAST(sum(n) AS BIGINT) AS s1,
        |  CAST(sum(n * n) AS BIGINT) AS s2
        | FROM hod GROUP BY 1),
        |st AS (
        | SELECT hod, k, CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE) AS mean,
        |  sqrt((CAST(s2 AS DOUBLE)
        |    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))
        |   / CAST(k AS DOUBLE)) AS sigma
        | FROM b)
        |SELECT hod.hod, st.k, ROUND(st.mean, 6) AS mean_n,
        | ROUND(st.sigma, 6) AS sigma_n,
        | count(*) FILTER (WHERE abs(CAST(hod.n AS DOUBLE) - st.mean)
        |                        > st.sigma) AS n_anomalous
        |FROM hod JOIN st USING (hod)
        |GROUP BY 1, 2, 3, 4 ORDER BY hod""".stripMargin,
    // α = ½ EWMA over the last-20 window: every weight is an exact
    // power of two (shift + divide, no libm pow), terms sum in
    // DECIMAL(38,18) — bit-deterministic across engines
    "ev_ewma_users" ->
      """WITH r AS (
        | SELECT user_id, value,
        |  row_number() OVER (PARTITION BY user_id
        |                     ORDER BY ts DESC, event_id DESC) AS rnd
        | FROM events WHERE value IS NOT NULL),
        |k AS (
        | SELECT user_id, value, rnd, count(*) OVER (PARTITION BY user_id) AS m
        | FROM r WHERE rnd <= 20)
        |SELECT user_id,
        | ROUND(CAST(sum(CAST(value /
        |   CAST((1::BIGINT << (CASE WHEN rnd = m THEN m - 1 ELSE rnd END))
        |        AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE), 6) AS ewma,
        | count(*) AS n_used
        |FROM k GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ev_transition_matrix" ->
      """SELECT from_type, to_type, n,
        | ROUND(CAST(n AS DOUBLE) /
        |   CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
        |   AS share
        |FROM (
        | SELECT from_type, event_type AS to_type, COUNT(*) AS n
        | FROM (
        |  SELECT user_id, event_type, epoch_us(ts) AS us,
        |   LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |     ORDER BY ts ASC, event_id ASC) AS prev_us,
        |   LAG(event_type, 1) OVER (PARTITION BY user_id
        |     ORDER BY ts ASC, event_id ASC) AS from_type
        |  FROM events) e
        | WHERE prev_us IS NOT NULL AND us - prev_us <= 1800000000
        | GROUP BY from_type, event_type) m
        |ORDER BY from_type, to_type""".stripMargin,
    "ev_retention_cohorts" ->
      """WITH u AS (SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
        |           FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS active_day
        |      FROM events)
        |SELECT u.cohort_day,
        | datediff('day', u.cohort_day, a.active_day) AS day_offset,
        | COUNT(*) AS n_users
        |FROM a JOIN u USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,
    // stepwise min-after-previous-step with a 24h per-step window;
    // the Spark side computes the same via an ordered per-user fold
    "ev_funnel_steps" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 24 HOURS GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |         AND e.ts <= s2.t2 + INTERVAL 24 HOURS GROUP BY 1)
        |SELECT (SELECT COUNT(*) FROM s1) AS view_users,
        |       (SELECT COUNT(*) FROM s2) AS click_users,
        |       (SELECT COUNT(*) FROM s3) AS purchase_users""".stripMargin,
    "ev_funnel_sql" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 24 HOURS GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |         AND e.ts <= s2.t2 + INTERVAL 24 HOURS GROUP BY 1)
        |SELECT (SELECT COUNT(*) FROM s1) AS view_users,
        |       (SELECT COUNT(*) FROM s2) AS click_users,
        |       (SELECT COUNT(*) FROM s3) AS purchase_users""".stripMargin,
    // 4-step parametric funnel, same chained-min oracle discipline
    "ev_funnel_4step" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'view' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 72 HOURS GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s2.t2
        |         AND e.ts <= s2.t2 + INTERVAL 24 HOURS GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM events e
        |       JOIN s3 ON e.user_id = s3.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s3.t3
        |         AND e.ts <= s3.t3 + INTERVAL 12 HOURS GROUP BY 1)
        |SELECT (SELECT COUNT(*) FROM s1) AS signup_users,
        |       (SELECT COUNT(*) FROM s2) AS view_users,
        |       (SELECT COUNT(*) FROM s3) AS click_users,
        |       (SELECT COUNT(*) FROM s4) AS purchase_users""".stripMargin,
    // first-active-day split: COUNT(CASE) per house rule
    "ev_new_vs_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
        |            FROM events),
        |fd AS (SELECT user_id, MIN(d) AS first_d FROM ud GROUP BY 1)
        |SELECT ud.d, COUNT(CASE WHEN ud.d = fd.first_d THEN 1 END) AS new_users,
        |       COUNT(CASE WHEN ud.d <> fd.first_d THEN 1 END) AS returning_users
        |FROM ud JOIN fd ON ud.user_id = fd.user_id
        |GROUP BY ud.d ORDER BY ud.d""".stripMargin,
    // identical session ids (same lag + running-sum rule as
    // ev_sessionize), chained per-(user, session) min CTEs
    "ev_session_funnel" ->
      """WITH se AS (
        |  SELECT user_id, ts, event_type,
        |    SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess
        |  FROM (SELECT user_id, ts, event_type, event_id,
        |               epoch_us(ts) AS us,
        |               lag(epoch_us(ts))
        |                 OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                 AS prev_us
        |        FROM events)),
        |s1 AS (SELECT user_id, sess, MIN(ts) AS t1 FROM se
        |       WHERE event_type = 'view' GROUP BY 1, 2),
        |s2 AS (SELECT e.user_id, e.sess, MIN(e.ts) AS t2 FROM se e
        |       JOIN s1 ON e.user_id = s1.user_id AND e.sess = s1.sess
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 8760 HOURS GROUP BY 1, 2)
        |SELECT (SELECT COUNT(DISTINCT (user_id, sess)) FROM se) AS n_sessions,
        |       (SELECT COUNT(*) FROM s1) AS view_sessions,
        |       (SELECT COUNT(*) FROM s2) AS click_sessions""".stripMargin,
    // hour spine via DuckDB's list-form generate_series (inclusive on
    // both ends, like Spark's sequence())
    "ev_gap_fill" ->
      """WITH counts AS (SELECT date_trunc('hour', ts) AS chour,
        |                       event_type AS cet, COUNT(*) AS n
        |                FROM events GROUP BY 1, 2),
        |span AS (SELECT date_trunc('hour', MIN(ts)) AS h0,
        |                date_trunc('hour', MAX(ts)) AS h1 FROM events),
        |hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |          FROM span),
        |spine AS (SELECT hours.h, t.event_type
        |          FROM hours, (SELECT DISTINCT event_type FROM events) t)
        |SELECT spine.h AS hour, spine.event_type, COALESCE(counts.n, 0) AS n
        |FROM spine LEFT JOIN counts
        |  ON counts.chour = spine.h AND counts.cet = spine.event_type
        |ORDER BY hour, event_type""".stripMargin,
    "v1_validation_route" ->
      """SELECT route, reason, COUNT(*) AS n,
        | CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM (
        | SELECT CASE WHEN reason IS NULL THEN 'main' ELSE 'review_queue' END
        |   AS route, reason, n_chars
        | FROM (
        |  SELECT n_chars,
        |   CASE WHEN lang NOT IN ('en','de','fr') THEN 'lang_not_allowed'
        |        WHEN n_chars < 120 THEN 'too_short'
        |        WHEN n_chars > 2000 THEN 'too_long'
        |        ELSE NULL END AS reason
        |  FROM documents) d) r
        |GROUP BY route, reason
        |ORDER BY route ASC NULLS FIRST, reason ASC NULLS FIRST""".stripMargin)
}
