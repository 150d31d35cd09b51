#!/usr/bin/env python3
"""The benchmark's own tests (several minutes: each case runs the benchmark).

    python3 perfbench/tests.py          # from the root of a graft checkout

- smoke at sf0.001: every metric BENCHMARK.json declares is printed with its
  unit, for every workload, traced and untraced, and on the query workloads
  the traced run's construct + catalyst + exec add up to the op wall time
  within 5%;
- a planted throwing op and a planted wrong-answer op each lower `ok_frac`
  and make the command exit non-zero;
- in a directory that holds only BENCHMARK.json and perfbench/, the command
  exits non-zero without printing a result.
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
    BENCH = json.load(f)


def run(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args], cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def smoke(workload, trace, *extra):
    return run("--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace),
               "--sf", "sf0.001", *extra)


class Smoke(unittest.TestCase):
    def test_every_metric_of_every_workload(self):
        for w in BENCH["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    code, res = smoke(w["name"], trace)
                    self.assertEqual(code, 0)
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    declared = BENCH["per_layer" if trace else "end_to_end"]
                    self.assertEqual(set(res["metrics"]), {m["name"] for m in declared})
                    for m in declared:
                        got = res["metrics"][m["name"]]
                        self.assertEqual(got["unit"], m["unit"])
                        self.assertIsInstance(got["value"], (int, float))
                    if not trace:
                        self.assertEqual(res["metrics"]["ok_frac"]["value"], 1.0)
                    elif w["name"] != "ingest_stream":
                        # construct + catalyst + exec, each measured on its
                        # own, against the op wall time (see README.md for
                        # what ingest_stream leaves unreported)
                        self.assertLessEqual(abs(res["metrics"]["trace.unattributed_frac"]["value"]), 0.05)


class PlantedFailures(unittest.TestCase):
    def check_planted(self, plant):
        code, res = smoke("tabular", 0, "--plant", plant)
        self.assertNotEqual(code, 0)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertLess(res["metrics"]["ok_frac"]["value"], 1.0)

    def test_throwing_op(self):
        self.check_planted("throw")

    def test_wrong_answer_op(self):
        self.check_planted("wrong")


class StrippedCheckout(unittest.TestCase):
    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            code, res = run("--workload", "tabular", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=d)
            self.assertNotEqual(code, 0)
            self.assertIsNone(res)


if __name__ == "__main__":
    unittest.main(verbosity=2)
