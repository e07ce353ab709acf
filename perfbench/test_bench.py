#!/usr/bin/env python3
"""Tests of the benchmark itself, on shrunken inputs.

Run from the repository root:

    python3 perfbench/test_bench.py

The JVM-backed tests build the harness on first use and take a few
minutes together; the compare-tool test is pure Python.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run as bench_run  # noqa: E402


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py {args} failed:\n{p.stdout}\n{p.stderr}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class InputsTest(unittest.TestCase):
    def test_same_seed_same_checksum(self):
        for w in bench_run.WORKLOADS:
            gen = ("--workload", w, "--seconds", "1", "--small", "--gen-only")
            a = bench(*gen, "--seed", "5")
            b = bench(*gen, "--seed", "5")
            c = bench(*gen, "--seed", "6")
            self.assertEqual(a["checksum"], b["checksum"], w)
            self.assertEqual((a["train_rows"], a["test_rows"]),
                             (b["train_rows"], b["test_rows"]), w)
            self.assertNotEqual(a["checksum"], c["checksum"], w)


class FailureTest(unittest.TestCase):
    def test_planted_failure_counts_and_is_left_out(self):
        common = ("--workload", "darima_fleet", "--seed", "5",
                  "--seconds", "1", "--small")
        clean = bench(*common)
        self.assertTrue(clean["correct"])
        self.assertEqual(clean["failed"], 0)
        planted = bench(*common, "--plant-failure", "1")
        self.assertFalse(planted["correct"])
        self.assertEqual(planted["failed"], 1)
        self.assertGreaterEqual(planted["attempted"], 2)
        # the throwing run is not billed as a fast one
        self.assertGreater(planted["metrics"]["pipeline_s"]["value"], 0.5)


class TraceTest(unittest.TestCase):
    def test_traced_run_matches_and_reports_every_layer(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            names = [m["name"] for m in json.load(fh)["per_layer"]]
        r = bench("--workload", "darima_fleet", "--seed", "5",
                  "--seconds", "1", "--small", "--trace", "1")
        self.assertTrue(r["correct"], r)
        self.assertEqual(sorted(r["metrics"]), sorted(names))


class CompareTest(unittest.TestCase):
    def write(self, d, seed, pipeline_s):
        rec = {"workload": "darima_fleet", "seed": seed, "correct": True,
               "metrics": {"pipeline_s": {"value": pipeline_s, "unit": "s"}}}
        with open(os.path.join(d, f"r{seed}.json"), "w") as fh:
            json.dump(rec, fh)

    def verdict(self, base, change):
        work = bench_run.work_dir()
        os.makedirs(work, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=work) as a, \
                tempfile.TemporaryDirectory(dir=work) as b:
            for i, (x, y) in enumerate(zip(base, change)):
                self.write(a, i, x)
                self.write(b, i, y)
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "compare.py"), a, b],
                capture_output=True, text=True, check=True).stdout
        row = [ln for ln in out.splitlines() if " pipeline_s " in ln][0]
        return row.split()[-1]

    def test_verdicts(self):
        base = [20.0 + 0.1 * i for i in range(10)]
        self.assertEqual(self.verdict(base, [v * 0.8 for v in base]),
                         "improved")
        self.assertEqual(self.verdict(base, [v * 1.5 for v in base]),
                         "worse")
        self.assertEqual(self.verdict(base, list(reversed(base))),
                         "unchanged")
        noisy = [10.0, 30.0] * 5
        self.assertEqual(self.verdict(noisy, [v * 1.05 for v in noisy]),
                         "unresolved")


if __name__ == "__main__":
    unittest.main()
