"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py     (from the repo root)

The end-to-end test runs one short small_batches run (about a minute).
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]


def last_json(stdout):
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    return json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None


class BenchmarkTest(unittest.TestCase):
    def test_selftest(self):
        """Loop accounting, the planted-residue model, exact KS."""
        r = subprocess.run(RUN + ["--selftest"], cwd=ROOT, capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertNotIn("FAIL", r.stdout)

    def test_injected_failures_are_counted(self):
        """A throwing op and a wrong output each count as failed, not as a time."""
        r = subprocess.run(RUN + ["--workload", "small_batches", "--seed", "7", "--seconds", "1",
                                  "--inject", "throw@2,wrong@3"],
                           cwd=ROOT, capture_output=True, text=True, timeout=300)
        res = last_json(r.stdout)
        self.assertIsNotNone(res, r.stdout + r.stderr)
        self.assertEqual(res["failed"], 2, r.stdout)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["attempted"], 5)
        self.assertIn("injected failure in op 2", r.stdout)
        self.assertIn("op 3 FAILED", r.stdout)

    def test_fails_without_the_program(self):
        """With only BENCHMARK.json and perfbench/, it exits non-zero, no result."""
        d = os.path.join(ROOT, ".bench_build", "perfbench", "bare-checkout")
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        try:
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "bulk_validate",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertIsNone(last_json(r.stdout))
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
