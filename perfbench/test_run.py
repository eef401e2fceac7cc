#!/usr/bin/env python3
"""Tests of the benchmark command itself.

    python3 perfbench/test_run.py        (from the repo root; takes several minutes)

- Every workload, untraced and traced, prints a result line naming exactly
  the metrics BENCHMARK.json declares for the mode, with their units.
- In a directory holding only BENCHMARK.json and perfbench/ (no engine
  sources), the command exits non-zero without printing a result.
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


def run(cwd, workload, trace, seconds=1):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=900)


class CommandTest(unittest.TestCase):

    def test_prints_every_declared_metric(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        for w in spec["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    p = run(ROOT, w["name"], trace)
                    self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                    result = json.loads(p.stdout.splitlines()[-1])
                    self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(result["correct"])
                    want = {m["name"]: m["unit"] for m in spec[key]}
                    got = {k: v["unit"] for k, v in result["metrics"].items()}
                    self.assertEqual(got, want)

    def test_fails_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".build", ".work", "target"))
            p = run(d, "can_backfill_trickle", 0)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(p.stdout.strip(), p.stdout)


if __name__ == "__main__":
    unittest.main()
