#!/usr/bin/env python3
"""Tests of the benchmark itself, at tiny sizes:

    python3 perfbench/test_run.py

* a smoke run of each workload, untraced and traced, must print every
  metric BENCHMARK.json names, with its unit, and pass its checks;
* an injected failure (one empty page) must raise failed and fail the
  run;
* a directory holding only BENCHMARK.json and perfbench/ must make the
  benchmark exit non-zero without printing a result.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = ["--seconds", "1", "--size", "400"]


def bench(*args, cwd=ROOT, script=BENCH / "run.py"):
    p = subprocess.run([sys.executable, str(script), *args], cwd=cwd,
                       capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p


class BenchmarkTest(unittest.TestCase):

    def check_metrics(self, out, declared):
        self.assertEqual(sorted(out), ["attempted", "correct", "failed", "metrics"])
        self.assertEqual(list(out["metrics"]), [m["name"] for m in declared])
        for m in declared:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_smoke_every_metric(self):
        for w in [x["name"] for x in SPEC["workloads"]]:
            for trace in ("0", "1"):
                with self.subTest(workload=w, trace=trace):
                    rc, out, p = bench("--workload", w, "--seed", "3", "--trace", trace, *TINY)
                    self.assertEqual(rc, 0, p.stderr[-2000:])
                    self.assertTrue(out["correct"])
                    self.assertEqual(out["failed"], 0)
                    self.assertGreaterEqual(out["attempted"], 400)
                    self.check_metrics(out, SPEC["per_layer" if trace == "1" else "end_to_end"])
                    for m in SPEC["end_to_end"]:
                        if trace == "0":
                            self.assertGreater(out["metrics"][m["name"]]["value"], 0, m["name"])

    def test_injected_failure_fails_the_gate(self):
        rc, out, p = bench("--workload", "extract", "--seed", "3", "--trace", "0",
                           "--inject-failure", *TINY)
        self.assertNotEqual(rc, 0)
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)
        self.assertIn("ok=false", p.stderr)

    def test_bare_directory_fails_without_result(self):
        bare = BENCH / "work" / "bare-test"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(BENCH, bare / "perfbench",
                        ignore=shutil.ignore_patterns("work", "target", "__pycache__"))
        try:
            rc, out, _ = bench("--workload", "extract", "--seed", "1", "--seconds", "1",
                               "--trace", "0", cwd=bare, script=bare / "perfbench" / "run.py")
            self.assertNotEqual(rc, 0)
            self.assertIsNone(out)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
