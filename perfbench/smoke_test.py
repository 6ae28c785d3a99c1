"""Smoke test of the benchmark at a tiny size (a few minutes in all).

    python3 perfbench/smoke_test.py

For every workload: the untraced run prints every end-to-end metric and the
workload's figures with their units and passes its checks; the traced run
prints every per-layer metric with its unit; a corrupted output (one swapped
or replaced URL, one altered query row) fails the check.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
FIGURES = {
    "crawl_wide": {"warmup_s": "s", "round_urls_per_s": "URLs/s", "fetch_urls_per_s": "URLs/s",
                   "update_rows_per_s": "rows/s"},
    "crawl_discover": {"warmup_s": "s", "crawl_s": "s"},
    "analytics": {"warmup_s": "s", "headline_s": "s", "dedup_kdocs_per_s": "kdocs/s"},
}
CORRUPTION = {"crawl_wide": "url", "crawl_discover": "url", "analytics": "row"}


def run(workload, trace=0, corrupt=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    figures = {}
    for line in lines:
        if line.startswith("# metric "):
            name, _, value, unit = line.split()[2:6]
            figures[name] = (float(value), unit)
    return json.loads(lines[-1]), figures


class SmokeTest(unittest.TestCase):

    def check_metrics(self, result, spec):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(result["metrics"]), [m["name"] for m in spec])
        for m in spec:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def check_workload(self, workload):
        result, figures = run(workload)
        self.check_metrics(result, SPEC["end_to_end"])
        self.assertTrue(result["correct"], result)
        self.assertEqual(result["failed"], 0)
        self.assertGreater(result["attempted"], 1)
        for name, unit in FIGURES[workload].items():
            self.assertIn(name, figures)
            self.assertEqual(figures[name][1], unit, name)
        for m in SPEC["end_to_end"]:
            self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])

        traced, figures = run(workload, trace=1)
        self.check_metrics(traced, SPEC["per_layer"])
        self.assertTrue(traced["correct"], traced)
        if workload == "crawl_wide":
            self.assertEqual(figures["scaling_eff"][1], "ratio")

        bad, _ = run(workload, corrupt=CORRUPTION[workload])
        self.assertFalse(bad["correct"])
        self.assertGreaterEqual(bad["failed"], 1)

    def test_crawl_wide(self):
        self.check_workload("crawl_wide")

    def test_crawl_discover(self):
        self.check_workload("crawl_discover")

    def test_analytics(self):
        self.check_workload("analytics")


if __name__ == "__main__":
    unittest.main()
