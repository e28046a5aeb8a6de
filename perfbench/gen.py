"""Seeded tables for the analytics workload: the ten tables the query
catalog reads (TPC-H-style star schema plus events, documents and
embeddings), one parquet file per table at <dir>/<table>.parquet, with
the column names, types and value domains of the repository's test
data. Row counts scale with `sf` as TPC-H's do.
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.005

WORDS = ["row", "the", "query", "stream", "key", "agg", "scan", "slow",
         "table", "part", "a", "merge", "window", "order", "column", "join",
         "vector", "fast", "spark", "line", "small", "customer", "group",
         "value", "hash", "batch", "sort", "data", "big", "filter"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]


def _days(rng, start, n_days, size):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo, hi, size):
    return np.round(rng.integers(0, int((hi - lo) * 100) + 1, size) / 100.0 + lo, 2)


def _pick(rng, values, size):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), size)]


def tables(out_dir, seed, sf=SF):
    """Writes every table; returns {table: row count}."""
    def n(base, lo):
        return max(lo, int(base * sf))
    n_cust, n_supp, n_part = n(150000, 50), n(10000, 10), n(200000, 100)
    n_orders, n_line, n_events = n(1500000, 500), n(6000000, 2000), n(1000000, 1000)
    n_docs, n_vecs, n_users = n(50000, 100), n(50000, 100), n(15000, 50)
    rng = np.random.Generator(np.random.PCG64(seed))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    counts = {}

    def write(name, cols):
        table = pa.table({k: pa.array(v, type=t) for k, (v, t) in cols.items()})
        pq.write_table(table, f"{out_dir}/{name}.parquet")
        counts[name] = table.num_rows

    write("region", {
        "r_regionkey": (np.arange(5), i32),
        "r_name": (["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    write("nation", {
        "n_nationkey": (np.arange(25), i32),
        "n_name": ([f"NATION_{k}" for k in range(25)], s),
        "n_regionkey": (np.arange(25) % 5, i32)})
    keys = np.arange(n_cust)
    write("customer", {
        "c_custkey": (keys, i64),
        "c_name": ([f"Customer#{k:09d}" for k in keys], s),
        "c_nationkey": (rng.integers(0, 25, n_cust), i32),
        "c_acctbal": (_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": (_pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                     "HOUSEHOLD", "MACHINERY"], n_cust), s)})
    keys = np.arange(n_supp)
    write("supplier", {
        "s_suppkey": (keys, i64),
        "s_name": ([f"Supplier#{k:09d}" for k in keys], s),
        "s_nationkey": (rng.integers(0, 25, n_supp), i32),
        "s_acctbal": (_money(rng, -999.99, 9999.99, n_supp), f64)})
    keys = np.arange(n_part)
    write("part", {
        "p_partkey": (keys, i64),
        "p_name": (_pick(rng, ADJECTIVES, n_part) + " " + _pick(rng, NOUNS, n_part), s),
        "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": (_pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                               "STANDARD"], n_part), s),
        "p_size": (rng.integers(1, 51, n_part), i32),
        "p_retailprice": (900.0 + (keys % 1000) / 10.0, f64)})
    write("orders", {
        "o_orderkey": (np.arange(n_orders), i64),
        "o_custkey": (rng.integers(0, n_cust, n_orders), i64),
        "o_orderstatus": (_pick(rng, ["F", "O", "P"], n_orders), s),
        "o_totalprice": (_money(rng, 1000.0, 500000.0, n_orders), f64),
        "o_orderdate": (_days(rng, "1995-01-01", 2405, n_orders), ts),
        "o_orderpriority": (_pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"], n_orders), s)})
    write("lineitem", {
        "l_orderkey": (rng.integers(0, n_orders, n_line), i64),
        "l_partkey": (rng.integers(0, n_part, n_line), i64),
        "l_suppkey": (rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": (rng.integers(1, 8, n_line), i32),
        "l_quantity": (rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": (_money(rng, 900.0, 105000.0, n_line), f64),
        "l_discount": (rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": (rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": (_pick(rng, ["A", "N", "R"], n_line), s),
        "l_linestatus": (_pick(rng, ["F", "O"], n_line), s),
        "l_shipdate": (_days(rng, "1995-01-02", 2500, n_line), ts)})
    # a 30-day event stream in event_id order, with jittered gaps
    step = 30 * 86400 * 1000000 // n_events
    offsets = np.arange(n_events) * step + rng.integers(0, step, n_events)
    write("events", {
        "event_id": (np.arange(n_events), i64),
        "ts": (np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"), ts),
        "user_id": (rng.integers(0, n_users, n_events), i64),
        "event_type": (_pick(rng, ["click", "error", "purchase", "signup", "view"],
                             n_events), s),
        "value": (_money(rng, 0.01, 490.0, n_events), f64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s)})
    # bag-of-words documents; one in twenty ends with the "dup" marker
    # the near-duplicate queries look for
    texts = []
    for _ in range(n_docs):
        words = _pick(rng, WORDS, int(rng.integers(8, 101)))
        texts.append(" ".join(words) + (" dup" if rng.integers(0, 20) == 0 else ""))
    write("documents", {
        "doc_id": (np.arange(n_docs), i64),
        "text": (texts, s),
        "lang": (_pick(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n_docs), s),
        "source": ([f"src{k % 20}" for k in range(n_docs)], s),
        "n_chars": ([len(t) for t in texts], i64)})
    vecs = rng.uniform(-1.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": (np.arange(n_vecs), i64),
        "embedding": (list(vecs), pa.list_(pa.float32())),
        "label": (rng.integers(0, 10, n_vecs), i32)})
    return counts

