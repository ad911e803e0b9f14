"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests     # from the repository root

They check BENCHMARK.json against the benchmark's contract, and run
perfbench.SelfTest (it builds first) to compare the metrics the runner
prints with the ones BENCHMARK.json lists, to check that every query is
attributed to one module, that the generators are deterministic, and that
their expected-schema records agree with the witness engine.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import build  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class BenchmarkJsonTest(unittest.TestCase):
    def test_keys_and_limits(self):
        b = bench()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertEqual(b["paths"], ["perfbench"])
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        self.assertTrue(1 <= len(b["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(b["per_layer"]) <= 128)
        self.assertLessEqual(len(json.dumps(b)), 64 * 1024)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(0 < len(w["why"]) <= 200 and "\n" not in w["why"])
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})

    def test_names_and_units(self):
        b = bench()
        names = [x["name"] for x in b["workloads"] + b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))

    def test_setup_s_has_the_largest_bound(self):
        e2e = {m["name"]: m for m in bench()["end_to_end"]}
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))

    def test_workloads_match_the_runner(self):
        self.assertEqual(tuple(w["name"] for w in bench()["workloads"]), run.WORKLOADS)

    def test_command_stays_inside_paths(self):
        b = bench()
        self.assertEqual(b["command"][0], "python3")
        for arg in b["command"][1:]:
            self.assertFalse(arg.startswith("/") or ".." in arg.split("/"))
            self.assertTrue(any(arg.startswith(p + "/") for p in b["paths"]))


class SelfTest(unittest.TestCase):
    def test_runner_metrics_attribution_and_generators(self):
        classes = build.build()
        scratch = tempfile.mkdtemp(dir=build.OUT)
        try:
            out = subprocess.run(
                ["java", "-Xmx1g", "-XX:-UsePerfData", "-cp", build.classpath(classes),
                 "perfbench.SelfTest", scratch],
                capture_output=True, text=True)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        emitted = json.loads(out.stdout.splitlines()[-1])
        b = bench()
        for kind in ("end_to_end", "per_layer"):
            self.assertEqual([tuple(x) for x in emitted[kind]],
                             [(m["name"], m["unit"]) for m in b[kind]], kind)


if __name__ == "__main__":
    unittest.main()
