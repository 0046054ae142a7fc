#!/usr/bin/env python3
"""Smoke check of the benchmark itself, on the small `smoke` input scale.

For every workload, untraced and traced, it runs perfbench/run.py for one
second and asserts that the last stdout line has exactly the result
line's keys, that every metric BENCHMARK.json names is present with its unit and
a finite value, and that no operation failed (fail_ratio = 0). It also
asserts that the benchmark refuses to run, without printing a result, in
a directory that holds only BENCHMARK.json and perfbench/.

    python3 perfbench/smoke_test.py      # from the repository root
"""
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(cwd, workload, trace, timeout=600):
    return subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        proc = run(ROOT, workload, trace)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(res["correct"], proc.stdout[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        spec = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(sorted(res["metrics"]), sorted(m["name"] for m in spec))
        for m in spec:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        if trace:
            self.assertEqual(res["metrics"]["fail_ratio"]["value"], 0)

    def test_workloads(self):
        for w in SPEC["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    self.check(w["name"], trace)

    def test_refuses_without_engine(self):
        build = os.path.join(ROOT, ".bench_build")
        os.makedirs(build, exist_ok=True)
        bare = tempfile.mkdtemp(prefix="bare-", dir=build)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                                ignore=shutil.ignore_patterns("target"))
            proc = run(bare, SPEC["workloads"][0]["name"], 0, timeout=180)
            self.assertNotEqual(proc.returncode, 0)
            self.assertNotIn('"metrics"', proc.stdout)
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main(verbosity=2)
