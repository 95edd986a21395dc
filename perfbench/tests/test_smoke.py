"""Tiny-input smoke runs of every workload, output checks included.

Builds graft on first use (sbt, offline) and takes a few minutes:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
RUN = os.path.join("perfbench", "run.py")


def run(workload, trace, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def assert_clean_run(self, workload, trace):
        rc, lines, err = run(workload, trace)
        self.assertEqual(rc, 0, err[-2000:])
        result = json.loads(lines[-1])
        self.assertEqual(set(result),
                         {"correct", "attempted", "failed", "metrics"})
        detail = json.loads(lines[-2])
        self.assertTrue(result["correct"],
                        (detail["failed_ops"], detail["failed_checks"]))
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(detail["named"]["error_rate"][0], 0.0)
        return result["metrics"]

    def assert_declared(self, metrics, key):
        declared = {m["name"]: m["unit"] for m in self.bench[key]}
        self.assertEqual({k: v["unit"] for k, v in metrics.items()}, declared)

    def test_interactive(self):
        m = self.assert_clean_run("interactive", 0)
        self.assert_declared(m, "end_to_end")
        for name, v in m.items():
            self.assertGreater(v["value"], 0, name)

    def test_interactive_traced(self):
        m = self.assert_clean_run("interactive", 1)
        self.assert_declared(m, "per_layer")
        self.assertGreater(m["catalyst.plan_nodes"]["value"], 0)
        self.assertGreater(m["scheduler.tasks"]["value"], 0)

    def test_daily_etl(self):
        self.assert_declared(self.assert_clean_run("daily_etl", 0),
                             "end_to_end")

    def test_daily_etl_traced(self):
        m = self.assert_clean_run("daily_etl", 1)
        self.assert_declared(m, "per_layer")
        for name in ("jobs.etl_step_jobs", "write.bytes_per_day",
                     "cli.ml_train_s", "ml.train_tasks",
                     "jobs.ingest_jobs_per_batch", "write.files_per_batch",
                     "streaming.add_batch_ms"):
            self.assertGreater(m[name]["value"], 0, name)

    def test_refuses_without_sources(self):
        """Only BENCHMARK.json and the benchmark's files: no result."""
        scratch = os.path.join(ROOT, ".bench_work")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"),
                            os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target",
                                                          "__pycache__"))
            rc, lines, _ = run("interactive", 0, cwd=d)
            self.assertNotEqual(rc, 0)
            self.assertFalse(any(ln.startswith("{\"correct\"") for ln in lines))


if __name__ == "__main__":
    unittest.main()
