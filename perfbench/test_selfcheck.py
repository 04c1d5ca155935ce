#!/usr/bin/env python3
"""Self-check of the benchmark at tiny sizes.

Run from the root of a checkout (takes a few minutes, most of it the
first build):

    python3 perfbench/test_selfcheck.py

For every workload, untraced and traced, it asserts that the command
exits 0, that the last stdout line is the result object, that every
metric BENCHMARK.json declares prints with its unit, and that every
output check ran and passed. It also asserts that the command fails
without a result in a directory that holds only the benchmark.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.getcwd()
RUN = [sys.executable, os.path.join("perfbench", "run.py")]

CHECKS = {
    "pin_batch": ["pin_batch.clean_counts"] + [
        f"pin_batch.{t}" for t in ["task4", "task5", "task6_1", "task6_2", "task7",
                                   "task8", "task9", "task10", "task11"]],
    "pin_stream": ["pin_stream.pin", "pin_stream.geo", "pin_stream.user"],
    "dedup_catalog": [f"dedup_catalog.{q}" for q in ["q203", "q192", "q191", "q212", "q45"]],
}


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class SelfCheck(unittest.TestCase):
    def run_tiny(self, workload, trace):
        p = subprocess.run(RUN + ["--workload", workload, "--seed", "1", "--seconds", "3",
                                  "--trace", str(trace), "--tiny", "1"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        diagnostic = json.loads(lines[-2])["diagnostic"]
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        declared = spec()["per_layer" if trace else "end_to_end"]
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()},
                         {m["name"]: m["unit"] for m in declared})
        for m in result["metrics"].values():
            self.assertIsInstance(m["value"], (int, float))
        self.assertEqual(sorted(diagnostic["checks"]), sorted(CHECKS[workload]))
        self.assertTrue(all(diagnostic["checks"].values()), diagnostic["checks"])
        return result, diagnostic

    def test_workloads(self):
        for w in CHECKS:
            with self.subTest(workload=w):
                result, _ = self.run_tiny(w, 0)
                for name in ("latency_p50_ms", "rows_per_s", "setup_s"):
                    self.assertGreater(result["metrics"][name]["value"], 0, name)
                _, diagnostic = self.run_tiny(w, 1)
                with open(diagnostic["spans"]) as f:
                    spans = json.load(f)
                self.assertTrue(spans["spans"])
                self.assertTrue(all({"id", "parent", "name", "start", "end", "run"} <= set(s)
                                    for s in spans["spans"]))

    def test_fails_without_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project", "__pycache__"))
            p = subprocess.run(RUN + ["--workload", "pin_batch", "--seed", "1",
                                      "--seconds", "10", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
