"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests            # fast checks
    PERFBENCH_SLOW=1 python3 -m unittest discover -s perfbench/tests

The slow tests run every workload once, traced and untraced (about eight
minutes on four cores).
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(*args, root=ROOT):
    return subprocess.run([sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
                          cwd=root, capture_output=True, text=True)


class SpecTest(unittest.TestCase):
    def test_names_and_units(self):
        b = spec()
        names = [w["name"] for w in b["workloads"]]
        for group in ("end_to_end", "per_layer"):
            for m in b[group]:
                self.assertRegex(m["name"], NAME)
                self.assertRegex(m["unit"], UNIT)
                self.assertIn(m["better"], ("higher", "lower"))
                names.append(m["name"])
        self.assertEqual(len(names), len(set(names)), "a name is used twice")
        for w in b["workloads"]:
            self.assertRegex(w["name"], NAME)
            self.assertLessEqual(len(w["why"]), 200)

    def test_bounds_and_setup_metric(self):
        b = spec()
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in b["end_to_end"])}])
        self.assertLessEqual(len(b["per_layer"]), 128)


class SelfTest(unittest.TestCase):
    def test_scala_self_test(self):
        r = run("--self-test")
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertIn("checks passed", r.stderr)

    def test_fails_without_the_program(self):
        """In a directory holding only BENCHMARK.json and the benchmark,
        there is nothing to build: the run must fail and print nothing."""
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = run("--workload", "queries_warm", "--seed", "1", "--seconds", "1",
                    "--trace", "0", root=d)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout, "")
        finally:
            shutil.rmtree(d)


@unittest.skipUnless(os.environ.get("PERFBENCH_SLOW"), "set PERFBENCH_SLOW=1 to run workloads")
class OutputTest(unittest.TestCase):
    def check(self, workload, trace, group):
        r = run("--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace))
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        want = {m["name"]: m["unit"] for m in spec()[group]}
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        self.assertEqual(got, want)
        return out

    def test_every_metric_with_its_unit(self):
        for w in spec()["workloads"]:
            e2e = self.check(w["name"], 0, "end_to_end")
            for m in e2e["metrics"].values():
                self.assertGreater(m["value"], 0)
            self.check(w["name"], 1, "per_layer")


if __name__ == "__main__":
    unittest.main()
