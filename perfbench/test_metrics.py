"""Tests of the benchmark's own rules. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import metrics
import oracle
import run

HERE = os.path.dirname(os.path.abspath(__file__))


def op(ms, ok=True, kind="query", name="q", units=1):
    return {"kind": kind, "name": name, "ok": ok, "ms": ms, "units": units,
            "error": "" if ok else "boom"}


class TailRule(unittest.TestCase):
    def test_reported_only_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail(list(range(1, 101)), 0.9), 90)
        self.assertIsNone(metrics.tail(list(range(1, 100)), 0.9))
        self.assertIsNone(metrics.tail([5.0] * 200, 0.9))
        self.assertIsNone(metrics.tail([], 0.9))

    def test_ties_at_the_percentile_are_not_beyond_it(self):
        values = [1.0] * 85 + [2.0] * 10 + [3.0] * 9
        self.assertIsNone(metrics.tail(values, 0.9))


class FailureAccounting(unittest.TestCase):
    def raw(self, ops, checks=(), fatal=None):
        return {"workload": "analytics", "ops": list(ops), "checks": list(checks),
                "fatal": fatal, "setup_s": [1.0, 2.0, 3.0], "measure_s": 2.0,
                "heap_retained_mb": 100.0}

    def test_failed_op_never_enters_a_latency_sample(self):
        raw = self.raw([op(500.0), op(700.0), op(1.0, ok=False)])
        self.assertEqual(metrics.end_to_end(raw)["latency_p50_ms"], 600.0)
        self.assertEqual(metrics.end_to_end(raw)["throughput_per_s"], 1.0)

    def test_failed_op_or_check_makes_the_run_incorrect(self):
        self.assertEqual(metrics.accounting(self.raw([op(5.0)])), (True, 1, 0))
        self.assertEqual(metrics.accounting(self.raw([op(5.0), op(1.0, ok=False)])),
                         (False, 2, 1))
        bad_check = {"name": "x", "ok": False, "detail": "wrong rows"}
        self.assertEqual(metrics.accounting(self.raw([op(5.0)], [bad_check])),
                         (False, 2, 1))
        self.assertFalse(metrics.accounting(self.raw([op(5.0)], fatal="err"))[0])
        self.assertFalse(metrics.accounting(self.raw([]))[0])

    def test_report_counts_failures_against_attempts(self):
        rep = metrics.workload_report(self.raw([op(5.0), op(1.0, ok=False)]))
        self.assertEqual(rep["failed_frac"], 0.5)
        self.assertEqual(rep["analytics_p50_ms"], 5.0)

    def test_setup_is_the_median_of_the_set_ups(self):
        self.assertEqual(metrics.end_to_end(self.raw([op(5.0)]))["setup_s"], 2.0)

    def test_ingest_throughput_counts_committed_documents(self):
        raw = dict(self.raw([op(4000.0, kind="run", units=30),
                             op(10.0, kind="run", ok=False, units=0)]),
                   workload="ingest", measure_s=5.0)
        e2e = metrics.end_to_end(raw)
        self.assertEqual(e2e["throughput_per_s"], 6.0)
        self.assertEqual(e2e["latency_p50_ms"], 4000.0)


class Tracing(unittest.TestCase):
    def test_union_clips_and_merges(self):
        self.assertEqual(metrics.union_ms([(0, 5), (3, 8), (20, 30)], 2, 25), 11)

    def test_jobs_attach_to_the_innermost_open_span(self):
        trace = {
            "spans": [[1, 0, "op.a", 0.0, 100.0], [2, 1, "layer.x", 10.0, 60.0],
                      [3, 1, "layer.y", 60.0, 90.0]],
            "jobs": [{"start": 20.0, "end": 40.0}, {"start": 70.0, "end": 75.0},
                     {"start": 95.0, "end": 99.0}],
            "plans": [[21.0, 3.0]]}
        spans, roots = metrics.build_tree(trace)
        self.assertEqual([len(spans[i].jobs) for i in (1, 2, 3)], [1, 1, 1])
        self.assertEqual(spans[2].plan_ms, 3.0)
        self.assertEqual(metrics.self_ms(spans[2]), 30.0)
        self.assertEqual(metrics.self_ms(spans[1]), 16.0)


class OracleVerdicts(unittest.TestCase):
    STUB = (
        "def main(sf, out):\n"
        "    print('PASS a (3 rows)')\n"
        "    print('WARN b: values match only after row sort')\n"
        "    print('== 1 pass / 1 fail ==')\n"
        "    return 1\n")

    def test_only_a_pass_verdict_passes(self):
        with tempfile.TemporaryDirectory() as root:
            os.makedirs(os.path.join(root, "tools"))
            with open(os.path.join(root, "tools", "oracle_check.py"), "w") as fh:
                fh.write(self.STUB)
            results = os.path.join(root, "results")
            for name in ("a", "b"):
                os.makedirs(os.path.join(results, name))
                open(os.path.join(results, name, "part-0.parquet"), "w").close()
            checks = oracle.compare(root, root, results,
                                    {"a": "SELECT 1", "b": "SELECT 2", "c": "SELECT 3"})
            with open(os.path.join(results, "verify_meta.json")) as fh:
                meta = json.load(fh)
        self.assertEqual([c["ok"] for c in checks], [True, False, False, False])
        self.assertIn("row sort", checks[1]["detail"])
        self.assertEqual(checks[2]["detail"], "no verdict")
        self.assertEqual(meta, {"n_selected": 3, "n_written": 2, "failed": ["c"]})


class Contract(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def test_metrics_match_the_code(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]},
                         metrics.PER_LAYER)

    def test_workloads_are_runnable(self):
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_exits_non_zero_without_sources(self):
        cwd = os.getcwd()
        with tempfile.TemporaryDirectory() as d:
            os.chdir(d)
            try:
                code = run.main(["--workload", "ingest", "--seed", "1",
                                 "--seconds", "1", "--trace", "0"])
            finally:
                os.chdir(cwd)
        self.assertEqual(code, 2)


if __name__ == "__main__":
    unittest.main()
