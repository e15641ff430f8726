#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at the smallest inputs.

    python3 perfbench/smoke_test.py        # from the repository root

For every workload in BENCHMARK.json it runs ``run.py --smoke`` (sf0.001
tables, medallion batches of a few thousand events) untraced and traced,
and asserts that every end-to-end and per-layer metric prints with its
unit and that every op passes its check. It then plants a wrong expected
result and asserts that the failures are counted, not timed as successes.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
SEED = 9001


def run(workload: str, trace: int, plant: str = "") -> tuple:
    """(exit code, the result line or None, the lines before it)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--smoke"]
    if plant:
        cmd += ["--plant-wrong", plant]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0:
        return p.returncode, None, lines
    return 0, json.loads(lines[-1]), lines[:-1]


class SmokeTest(unittest.TestCase):

    def check_metrics(self, result: dict, wanted: list) -> None:
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_metric_prints_and_every_op_passes(self) -> None:
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                code, res, lines = run(w["name"], 0)
                self.assertEqual(code, 0, lines)
                self.check_metrics(res, BENCH["end_to_end"])
                self.assertTrue(res["correct"], lines)
                self.assertEqual(res["failed"], 0, lines)
                self.assertIn("metric failed_share 0.0000 share", lines)
                for m in BENCH["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])
                code, res, lines = run(w["name"], 1)
                self.assertEqual(code, 0, lines)
                self.check_metrics(res, BENCH["per_layer"])
                self.assertTrue(res["correct"], lines)

    def test_planted_wrong_result_raises_failed_share(self) -> None:
        # one query of 25 fails: the run still reports, as incorrect
        code, res, lines = run("interactive", 0, "q09_funnel")
        self.assertEqual(code, 0, lines)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"] // 25)
        self.assertAlmostEqual(failed_share(lines), res["failed"] / res["attempted"], 4)
        self.assertIn("failed q09_funnel: wrong result: rows", " ".join(lines))
        # every pipeline run fails: no latency exists, so no result line
        code, res, lines = run("medallion", 0, "pipeline")
        self.assertNotEqual(code, 0)
        self.assertIsNone(res)
        self.assertEqual(failed_share(lines), 1.0)


def failed_share(lines: list) -> float:
    [share] = [float(x.split()[2]) for x in lines if x.startswith("metric failed_share ")]
    return share


if __name__ == "__main__":
    unittest.main(verbosity=2)
