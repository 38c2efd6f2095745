"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The arithmetic tests run in milliseconds. The run tests build the library
and drive toy-size runs of every workload through run.py (a few minutes).
"""

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.nearest_rank(xs, 0.9), 90)
        self.assertEqual(metrics.nearest_rank(xs, 0.5), 50)
        self.assertEqual(metrics.nearest_rank([7], 0.99), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(39))
        self.assertEqual(metrics.tail_percentile(40), 0.75)
        self.assertEqual(metrics.tail_percentile(99), 0.75)
        self.assertEqual(metrics.tail_percentile(100), 0.9)
        self.assertEqual(metrics.tail_percentile(199), 0.9)
        self.assertEqual(metrics.tail_percentile(200), 0.95)
        self.assertEqual(metrics.tail_percentile(1000), 0.99)
        for n in range(1, 3000, 7):
            q = metrics.tail_percentile(n)
            if q is not None:
                self.assertGreaterEqual(metrics.beyond(n, q), 10)

    def test_timing_names_the_supported_tail(self):
        t = metrics.timing([float(i) for i in range(100)])
        self.assertEqual(t["tail"], ("p90", 89.0))
        self.assertEqual(t["n"], 100)
        # freshness counts commits, not events: 5000 events of 12 commits
        t = metrics.timing([1.0] * 5000, samples=12)
        self.assertIsNone(t["tail"])
        self.assertEqual(t["n"], 12)
        self.assertEqual(metrics.pct_name(0.999), "p99.9")


class SelfTimeTest(unittest.TestCase):
    def test_union_of_overlapping_children(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_is_duration_minus_clipped_union(self):
        children = [(10, 30), (20, 40), (90, 120), (-5, 5)]
        # clipped union: [0,5] + [10,40] + [90,100] = 45
        self.assertEqual(metrics.self_time((0, 100), children), 55)
        self.assertEqual(metrics.self_time((0, 100), []), 100)
        self.assertEqual(metrics.self_time((0, 100), [(0, 100), (10, 20)]), 0)


class FreshnessTest(unittest.TestCase):
    def test_open_loop_counts_from_the_scheduled_creation(self):
        model = {"base": 1000, "rate": 500.0}  # one event per 2 ms
        batches = [{"lo": 1000, "hi": 1003, "start_ms": 1.0, "end_ms": 50.0},
                   {"lo": 1003, "hi": 1005, "start_ms": 50.0, "end_ms": 100.0}]
        self.assertEqual(metrics.freshness_samples(model, batches), [50, 48, 46, 94, 92])

    def test_a_failed_commit_makes_nothing_visible(self):
        model = {"base": 0, "rate": 1000.0}
        batches = [{"lo": 0, "hi": 2, "start_ms": 0.0, "end_ms": 10.0, "ok": False}]
        self.assertEqual(metrics.freshness_samples(model, batches), [])


def run_bench(workload, trace, cwd=ROOT, extra=()):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "toy"] + list(extra)
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          timeout=900, text=True)


class RunTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_every_metric_is_present_in_a_toy_run(self):
        for w in ("backfill_wire", "tail_mor", "serve_mor"):
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    r = run_bench(w, trace)
                    self.assertEqual(r.returncode, 0, r.stdout[-3000:] + r.stderr[-3000:])
                    res = json.loads(r.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    want = {m["name"]: m["unit"] for m in self.spec[key]}
                    self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)
                    for v in res["metrics"].values():
                        self.assertTrue(math.isfinite(v["value"]))
                    # the metrics BENCHMARK.json does not gate are printed too, traced or not
                    for name in ("failed_ratio", "lookup_ms_max"):
                        self.assertIn(name, r.stdout)
                    # freshness exists only on the open loop
                    self.assertEqual("freshness_ms_max" in r.stdout, w == "tail_mor")
                    if trace:
                        self.assertIn("spans: ", r.stdout)

    def test_oracle_catches_a_planted_mismatch(self):
        r = run_bench("tail_mor", 0, extra=("--plant-mismatch",))
        self.assertEqual(r.returncode, 1, r.stdout[-3000:] + r.stderr[-3000:])
        self.assertIn("OracleMismatch", r.stdout)
        self.assertFalse(json.loads(r.stdout.strip().splitlines()[-1])["correct"])

    def test_fails_without_the_library_sources(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = run_bench("serve_mor", 0, cwd=d)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)


if __name__ == "__main__":
    unittest.main()
