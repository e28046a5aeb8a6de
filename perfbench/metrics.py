"""Turns the raw records of one benchmark process into metrics.

The JVM side records what happened (ops with their outcome and time,
set-ups, checks, and in a traced run every span and Spark job); all
aggregation lives here so the rules below are tested in one place:

- an op that threw or returned a wrong output is counted as failed and
  never enters a latency sample;
- a tail percentile is reported only when at least ten samples lie
  beyond it;
- set-up time is the median of the process's set-ups.
"""
import bisect
import math
import statistics

# End-to-end metrics every workload reports (name -> unit). What the
# "unit of work" is depends on the workload; see PRIMARY.
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "heap_retained_mb": "MB",
}

# Per-layer metrics every workload reports in a traced run, all non-zero
# on both workloads. Per-op values are means over the measured ops.
# Figures only one workload has (jobs.*, core.*, api.*, queries.*, ext.*)
# and the ones that are 0 in a passing run (spill, failed tasks) are
# printed as `layer` lines instead.
PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.plan_ms": "ms",
    "spark.driver_ms": "ms",
    "spark.task_ms": "ms",
    "spark.core_busy_frac": "fraction",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "jvm.gc_ms": "ms",
}

# Which ops are each workload's unit of work, and what its throughput
# counts: ingest runs commit documents, analytics runs queries.
PRIMARY = {
    "ingest": {"latency": "run", "throughput": "units"},
    "analytics": {"latency": "query", "throughput": "ops"},
}


def median(values):
    return statistics.median(values) if values else None


def tail(values, q, beyond=10):
    """The q-quantile (nearest rank) of `values`, or None unless at
    least `beyond` samples are strictly greater than it."""
    if not values:
        return None
    xs = sorted(values)
    v = xs[max(0, math.ceil(q * len(xs)) - 1)]
    n_beyond = len(xs) - bisect.bisect_right(xs, v)
    return v if n_beyond >= beyond else None


def ok_ms(ops, kind):
    """Latency samples: the times of the successful ops of `kind`."""
    return [o["ms"] for o in ops if o["ok"] and o["kind"] == kind]


def accounting(raw):
    """(correct, attempted, failed): every op and every output check is
    an attempt; a failed op or check is a failure."""
    ops, checks = raw.get("ops", []), raw.get("checks", [])
    failed_ops = sum(1 for o in ops if not o["ok"])
    failed_checks = sum(1 for c in checks if not c["ok"])
    attempted = len(ops) + len(checks)
    failed = failed_ops + failed_checks + (1 if raw.get("fatal") else 0)
    correct = failed == 0 and len(ops) > 0
    return correct, max(1, attempted), failed


def end_to_end(raw):
    """The END_TO_END metrics of one process; a metric that cannot be
    measured (no successful op) is left out."""
    ops = raw.get("ops", [])
    spec = PRIMARY[raw["workload"]]
    out = {}
    if raw.get("setup_s"):
        out["setup_s"] = median(raw["setup_s"])
    lat = median(ok_ms(ops, kind=spec["latency"]))
    if lat is not None:
        out["latency_p50_ms"] = lat
    measure = raw.get("measure_s") or 0.0
    if measure > 0:
        if spec["throughput"] == "units":
            done = sum(o["units"] for o in ops if o["ok"])
        else:
            done = sum(1 for o in ops if o["ok"])
        if done > 0:
            out["throughput_per_s"] = done / measure
    if raw.get("heap_retained_mb"):
        out["heap_retained_mb"] = raw["heap_retained_mb"]
    return out


def complete_passes(ops, size):
    """Wall ms of each complete pass over a fixed op list of `size`."""
    return [sum(o["ms"] for o in ops[i:i + size])
            for i in range(0, len(ops) - size + 1, size)]


def workload_report(raw):
    """The workload's own metrics, named as its users would read them.
    A tail percentile without ten samples beyond it reads None."""
    ops, facts = raw.get("ops", []), raw.get("facts", {})
    w = raw["workload"]
    n_failed = sum(1 for o in ops if not o["ok"])
    rep = {"setup_s": median(raw.get("setup_s", [])),
           "failed_frac": n_failed / len(ops) if ops else None,
           "heap_retained_mb": raw.get("heap_retained_mb")}
    measure = raw.get("measure_s") or 0.0
    if w == "ingest":
        runs = ok_ms(ops, kind="run")
        docs = sum(o["units"] for o in ops if o["ok"])
        rep["ingest_docs_per_s"] = docs / measure if measure else None
        rep["ingest_run_p50_s"] = median(runs) / 1e3 if runs else None
        rep["ingest_runs"] = len(runs)
        n_docs = facts.get("source_documents")
        rep["ingest_bytes_per_doc"] = (facts["bytes_on_disk"] / n_docs
                                       if n_docs else None)
    elif w == "analytics":
        queries = ok_ms(ops, kind="query")
        passes = complete_passes(ops, len(facts.get("sample", [])) or 1)
        rep["analytics_s"] = median(passes) / 1e3 if passes else None
        rep["analytics_p50_ms"] = median(queries)
        rep["analytics_p90_ms"] = tail(queries, 0.9)
        rep["analytics_queries"] = len(queries)
        rep["analytics_passes"] = len(passes)
    return rep


# ---- traced runs ------------------------------------------------------

class Span:
    __slots__ = ("id", "parent", "name", "start", "end", "children", "jobs",
                 "plan_ms")

    def __init__(self, sid, parent, name, start, end):
        self.id, self.parent, self.name = sid, parent, name
        self.start, self.end = start, end
        self.children, self.jobs, self.plan_ms = [], [], 0.0

    @property
    def ms(self):
        return self.end - self.start


def union_ms(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span):
    """Span duration minus the part its child spans and jobs cover."""
    kids = [(c.start, c.end) for c in span.children]
    kids += [(j["start"], j["end"]) for j in span.jobs]
    return span.ms - union_ms(kids, span.start, span.end)


def build_tree(trace):
    """Span objects by id, top-level spans in start order, and every
    Spark job and planning event attached to the innermost span that
    was open when it started (the client thread is in exactly one)."""
    spans = {s[0]: Span(*s) for s in trace.get("spans", [])}
    roots = []
    for s in sorted(spans.values(), key=lambda s: s.start):
        parent = spans.get(s.parent)
        (parent.children if parent else roots).append(s)
    starts = [r.start for r in roots]

    def innermost(t):
        i = bisect.bisect_right(starts, t) - 1
        if i < 0 or t > roots[i].end:
            return None
        node = roots[i]
        while True:
            nxt = next((c for c in node.children if c.start <= t <= c.end), None)
            if nxt is None:
                return node
            node = nxt

    for job in trace.get("jobs", []):
        owner = innermost(job["start"])
        if owner is not None:
            owner.jobs.append(job)
    for start, ms in trace.get("plans", []):
        owner = innermost(start)
        if owner is not None:
            owner.plan_ms += ms
    return spans, roots


def walk(span):
    yield span
    for c in span.children:
        yield from walk(c)


def per_layer(raw, cores):
    """Per-op Spark and JVM figures (a superset of PER_LAYER) plus a
    per-module table for the report."""
    trace = raw.get("trace") or {}
    _, roots = build_tree(trace)
    ops = [r for r in roots if r.name.startswith("op.")]
    n = max(1, len(ops))
    keys = ["stages", "tasks", "task_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "input_bytes", "failed_tasks"]
    sums = dict.fromkeys(keys, 0.0)
    n_jobs = plan = driver = wall = 0.0
    for op in ops:
        jobs = [j for s in walk(op) for j in s.jobs]
        n_jobs += len(jobs)
        plan += sum(s.plan_ms for s in walk(op))
        driver += op.ms - union_ms([(j["start"], j["end"]) for j in jobs],
                                   op.start, op.end)
        wall += op.ms
        for j in jobs:
            for k in keys:
                sums[k] += j[k]
    layer = {
        "spark.jobs": n_jobs / n,
        "spark.stages": sums["stages"] / n,
        "spark.tasks": sums["tasks"] / n,
        "spark.plan_ms": plan / n,
        "spark.driver_ms": driver / n,
        "spark.task_ms": sums["task_ms"] / n,
        "spark.core_busy_frac": sums["task_ms"] / (wall * cores) if wall else 0.0,
        "spark.shuffle_read_bytes": sums["shuffle_read_bytes"] / n,
        "spark.shuffle_write_bytes": sums["shuffle_write_bytes"] / n,
        "spark.spill_bytes": sums["spill_bytes"] / n,
        "spark.input_bytes": sums["input_bytes"] / n,
        "spark.failed_tasks": sums["failed_tasks"],
        "jvm.gc_ms": float(raw.get("gc_ms", 0)),
    }
    table = modules(raw, roots, ops)
    table["trace.self_ms"] = float(trace.get("self_ms", 0.0))
    return layer, table


def modules(raw, roots, ops):
    """Per-module numbers (medians over the measured ops unless named
    otherwise): layer-call durations by span name, per-endpoint and
    per-family op times, hidden jobs during DataFrame construction, and
    the facts the workload recorded."""
    facts = raw.get("facts", {})
    by_name = {}
    for op in ops:
        for s in walk(op):
            if s is not op:
                by_name.setdefault(s.name, []).append(s)
    out = {f"{name}_ms": median([s.ms for s in ss])
           for name, ss in sorted(by_name.items())}
    out.update({f"{name}.self_ms": median([self_ms(s) for s in ss])
                for name, ss in sorted(by_name.items())})
    # DataFrame construction per layer ("queries.construct",
    # "api.<endpoint>.construct"), and the Spark jobs it started before
    # any action was asked for
    layers = {}
    for name, ss in by_name.items():
        if name.endswith("construct"):
            layers.setdefault(name.split(".")[0], []).extend(ss)
    for lay, ss in sorted(layers.items()):
        out[f"{lay}.construct_ms"] = median([s.ms for s in ss])
        out[f"{lay}.hidden_jobs"] = sum(
            len(s2.jobs) for s in ss for s2 in walk(s)) / len(ops)
    per_op = {}
    for op in ops:
        per_op.setdefault(op.name[3:], []).append(op.ms)
    out.update({f"{name}_ms": median(ms) for name, ms in sorted(per_op.items())})
    if raw["workload"] == "analytics":
        families = {}
        for name, ms in per_op.items():
            family = name.split(".")[1]
            families[family] = families.get(family, 0.0) + median(ms)
        out.update({f"queries.{f}_ms": v for f, v in sorted(families.items())})
    setups = [r for r in roots if r.name == "setup"]
    if setups:
        out["setup.spark_jobs"] = median(
            [sum(len(s.jobs) for s in walk(r)) for r in setups])
        if raw["workload"] == "ingest":
            # warehouse set-up is createAll + Seeder.run
            out["core.setup_ms"] = median([r.ms for r in setups])
    named = {"ext.prebuild_s": "ext.prebuild_s",
             "queries.tx_prebuild_s": "queries.tx_prebuild_s",
             "versions_per_op": "core.versions_per_op",
             "source_documents": "core.source_documents",
             "data_files": "core.data_files",
             "bytes_on_disk": "core.bytes_on_disk",
             "prebuild_tmpdir_bytes": "prebuild.tmpdir_bytes",
             "discovered": "jobs.discovered", "accepted": "jobs.accepted",
             "review_routed": "jobs.review_routed"}
    out.update({name: facts[k] for k, name in named.items() if k in facts})
    if facts.get("discovered"):
        out["jobs.accept_frac"] = facts["accepted"] / facts["discovered"]
    return out
