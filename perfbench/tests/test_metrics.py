"""Unit tests for the benchmark's aggregation helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics as M  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)),
                         "BENCHMARK.json")


class TailPercentileTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(M.tail_percentile(0))
        self.assertIsNone(M.tail_percentile(10))
        self.assertEqual(M.tail_percentile(11), 9)

    def test_p90_from_one_hundred_samples(self):
        self.assertEqual(M.tail_percentile(100), 90)
        self.assertEqual(M.tail_percentile(99), 89)

    def test_capped_at_p99(self):
        self.assertEqual(M.tail_percentile(1000), 99)
        self.assertEqual(M.tail_percentile(100000), 99)

    def test_at_least_ten_samples_lie_beyond(self):
        for n in range(11, 400):
            xs = list(range(n))
            p, v = M.tail(xs)
            self.assertGreaterEqual(sum(x > v for x in xs), 10, n)
            # and the next percentile up would leave fewer than ten
            if p < 99:
                nxt = M.percentile(xs, p + 1)
                self.assertLess(sum(x > nxt for x in xs), 10 + 1, n)

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(M.percentile(xs, 50), 3)
        self.assertEqual(M.percentile(xs, 100), 5)
        self.assertEqual(M.percentile(xs, 1), 1)


def synthetic_raw(workload, trace):
    """A minimal harness output for `workload` with two measured passes."""
    ops, spans, segments = [], [], []
    for k in (0, 1):
        if workload == "interactive":
            for i in range(3):
                ops.append({"kind": "query", "name": f"q{i}", "ms": 100.0 + i,
                            "ok": True, "build_ms": 5.0, "pass": k})
                spans.append({"tag": f"{k}/q{i}/build", "wall_ms": 5.0,
                              "c": {"jobs": 1.0}, "batch_jobs": []})
                spans.append({"tag": f"{k}/q{i}/action", "wall_ms": 95.0,
                              "c": {"jobs": 2.0, "tasks": 8.0, "run_ms": 40.0,
                                    "task_skew": 1.5}, "batch_jobs": []})
            continue
        for verb, ms in (("backfill", 400.0), ("run", 100.0), ("run", 102.0),
                         ("ml-train", 900.0), ("ml-predict", 200.0)):
            ops.append({"kind": verb, "name": verb, "ms": ms, "ok": True,
                        "pass": k})
            spans.append({"tag": f"{k}/{verb}", "wall_ms": ms,
                          "c": {"jobs": 7.0, "tasks": 12.0,
                                "write_bytes": 500.0}, "batch_jobs": []})
        for b in range(2):
            ops.append({"kind": "batch", "name": f"batch_{b}", "ms": 300.0,
                        "ok": True, "pass": k, "batch_id": b, "docs": 10,
                        "add_batch_ms": 290.0,
                        "query_planning_ms": 2.0, "wal_commit_ms": 3.0,
                        "write_bytes": 1000, "write_files": 4})
        spans.append({"tag": f"{k}/ingest", "wall_ms": 600.0,
                      "c": {"jobs": 20.0}, "batch_jobs": [10, 10]})
        segments.append({"pass": k, "pipeline_ms": 1704.0,
                         "ladder_ms": 600.0, "docs": 20})
    return {"workload": workload, "trace": trace,
            "setup_ms": [3000.0, 900.0, 800.0], "ops": ops,
            "passes_ms": [310.0, 300.0], "segments": segments, "checks": [],
            "jvm": {"gc_ms": 20.0, "heap_peak_mb": 300.0},
            "calibration": {}, "spans": spans,
            "info": {"input_bytes": 100, "state_bytes": 250}}


class ContractTest(unittest.TestCase):
    """The metrics the command prints are exactly BENCHMARK.json's."""

    @classmethod
    def setUpClass(cls):
        with open(BENCHMARK) as f:
            cls.bench = json.load(f)

    def check_names(self, printed, declared):
        self.assertEqual(set(printed), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(printed[m["name"]][1], m["unit"], m["name"])

    def test_every_workload_prints_declared_metrics(self):
        for w in (x["name"] for x in self.bench["workloads"]):
            s = M.summarize(synthetic_raw(w, True), 1500.0, 4)
            self.check_names(s["end_to_end"], self.bench["end_to_end"])
            self.check_names(s["per_layer"], self.bench["per_layer"])

    def test_end_to_end_values_positive(self):
        for w in (x["name"] for x in self.bench["workloads"]):
            s = M.summarize(synthetic_raw(w, False), 1500.0, 4)
            for name, (value, _) in s["end_to_end"].items():
                self.assertGreater(value, 0, (w, name))

    def test_daily_etl_layers(self):
        s = M.summarize(synthetic_raw("daily_etl", True), 1500.0, 4)
        pl = s["per_layer"]
        self.assertEqual(pl["jobs.ingest_jobs_per_batch"][0], 10)
        self.assertEqual(pl["jobs.ingest_ladder_s"][0], 0.6)
        self.assertEqual(pl["jobs.etl_step_jobs"][0], 7)
        self.assertEqual(pl["ml.train_tasks"][0], 12)
        self.assertEqual(pl["cli.ml_train_s"][0], 0.9)
        self.assertEqual(pl["streaming.delta_batch_s"][0], 0.3)
        self.assertAlmostEqual(
            pl["write.state_bytes_per_input_byte"][0], 2.5)
        self.assertEqual(s["named"]["step_p50_s"][0], 0.101)
        self.assertEqual(s["named"]["docs_per_s"][0], 1000 * 20 / 600)

    def test_medians_and_pass_grouping(self):
        s = M.summarize(synthetic_raw("interactive", True), 1500.0, 4)
        pl = s["per_layer"]
        self.assertEqual(pl["scheduler.jobs"][0], 9.0)  # 3 x (1 + 2)
        self.assertEqual(pl["queries.eager_jobs"][0], 3.0)
        self.assertEqual(pl["exec.task_skew"][0], 1.5)
        self.assertEqual(s["named"]["query_p50_ms"][0], 101.0)
        self.assertEqual(pl["trace.op_p50_ms"][0], 101.0)
        self.assertEqual(s["end_to_end"]["setup_s"][0], 0.9)
        self.assertEqual(s["end_to_end"]["pass_s"][0], 0.305)

    def test_failures_count_against_attempted(self):
        raw = synthetic_raw("daily_etl", False)
        raw["ops"][0]["ok"] = False
        raw["checks"] = [{"name": "c", "ok": False, "detail": ""},
                         {"name": "d", "ok": True, "detail": ""}]
        s = M.summarize(raw, 1500.0, 4)
        self.assertEqual(s["failed"], 2)
        self.assertEqual(s["attempted"], len(raw["ops"]) + 2)


if __name__ == "__main__":
    unittest.main()
