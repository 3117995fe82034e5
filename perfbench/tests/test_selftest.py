"""Self-test of the benchmark's output checks: a wrong expectation must be
caught, counted in `failed` and turn `correct` false; a directory without
the engine's sources must fail without printing a result.

usage (from the repository root): python3 -m unittest perfbench/tests/test_selftest.py
Takes about two minutes (one build if needed, two short runs).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")


def run(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, RUN, "--seed", "3", "--seconds", "1", "--trace", "0", *args],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p, (json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None)


class SelfTest(unittest.TestCase):
    def assert_caught(self, result):
        self.assertIsNotNone(result)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"] / result["attempted"], 0)

    def test_wrong_generator_expectation_is_caught(self):
        p, result = run("--workload", "etl_daily", "--fault", "expect")
        self.assert_caught(result)
        # every load and every read-back disagrees with the skewed count
        self.assertEqual(result["failed"], result["attempted"], p.stderr[-2000:])

    def test_corrupted_ledger_digest_is_caught(self):
        ledger = os.path.join(BENCH, "ledger", "sf0.001.txt")
        with open(ledger) as fh:
            lines = fh.read().splitlines()
        target = next(i for i, l in enumerate(lines) if l.startswith("q_dedup_exact "))
        q, n, digest = lines[target].split()
        lines[target] = f"{q} {n} {'0' * len(digest)}"
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            bad = os.path.join(d, "ledger.txt")
            with open(bad, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            p, result = run("--workload", "query_mix", "--ledger", bad)
        self.assert_caught(result)
        self.assertEqual(result["failed"], 1, p.stderr[-2000:])
        self.assertIn("q_dedup_exact", p.stderr)

    def test_fails_without_engine_sources(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "etl_daily",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
