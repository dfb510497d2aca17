"""Smoke tests of the benchmark itself.

Each workload runs at a tiny size (--smoke 1) and must print every metric
BENCHMARK.json names, with its unit: the end-to-end ones untraced, the
per-layer ones traced. The output checks must catch a deleted range file
and a changed query result, and the command must fail without printing a
result where the engine's sources are absent.

Run from the repository root: python3 -m unittest perfbench/test_perfbench.py
(about five minutes; each case starts a JVM).
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace=0, corrupt="", cwd=ROOT, seconds=2):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", str(seconds),
           "--trace", str(trace), "--smoke", "1", "--corrupt", corrupt]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc):
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}: {proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):

    def assert_metrics(self, out, spec):
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"])
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(out["failed"], 0)
        want = {m["name"]: m["unit"] for m in spec}
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in out["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_every_workload_prints_every_metric(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                out = result(run(w["name"]))
                self.assert_metrics(out, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(out["metrics"][m["name"]]["value"], 0, m["name"])
                self.assert_metrics(result(run(w["name"], trace=1)), SPEC["per_layer"])

    def test_deleted_range_file_fails_the_check(self):
        for w in ("ingest_backfill", "live_tail"):
            with self.subTest(workload=w):
                out = result(run(w, corrupt="range"))
                self.assertFalse(out["correct"])
                self.assertGreaterEqual(out["failed"], 1)

    def test_changed_query_result_fails_the_check(self):
        out = result(run("query_mix", corrupt="query"))
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)

    def test_fails_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            proc = run("ingest_backfill", cwd=d)
            self.assertNotEqual(proc.returncode, 0)
            self.assertEqual(proc.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
