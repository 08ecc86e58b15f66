#!/usr/bin/env python3
"""Tests of the benchmark's own code.

    python3 perfbench/test_perfbench.py

- BENCHMARK.json is well formed and names exactly the metrics the code
  registers;
- the Scala self-test (perfbench.SelfTest): the output checks reject a
  single changed label or rank, the generator is deterministic per seed and
  differs across seeds, and the oracle agrees with the engine;
- small runs of every workload print exactly the metric names and units
  BENCHMARK.json lists (end-to-end untraced, per-layer traced);
- a directory holding only BENCHMARK.json and the benchmark fails without
  printing a result.

Builds on first use, like run.py. Takes a few minutes.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((build.ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def metric_units(key):
    return {m["name"]: m["unit"] for m in SPEC[key]}


def result(*args):
    out = subprocess.run([sys.executable, str(build.BENCH / "run.py")] + list(args),
                         capture_output=True, text=True, cwd=build.ROOT)
    if out.returncode != 0:
        raise AssertionError(f"run {args} failed:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


class BenchmarkJson(unittest.TestCase):
    def test_shape(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in SPEC["workloads"]], run.WORKLOADS)
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
                 for m in SPEC[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in SPEC["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
        bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])

    def test_registry_matches(self):
        src = (build.BENCH / "src" / "perfbench" / "Metrics.scala").read_text()
        end = src.index("val perLayer")
        pairs = re.compile(r'"([A-Za-z0-9_.]+)" -> "([^"]+)"')
        self.assertEqual(dict(pairs.findall(src[:end])), metric_units("end_to_end"))
        self.assertEqual(dict(pairs.findall(src[end:])), metric_units("per_layer"))


class SelfTest(unittest.TestCase):
    def test_scala_checks(self):
        out, jars, _ = build.build()
        work = build.build_dir() / "selftest"
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        try:
            res = subprocess.run(build.java_cmd(out, jars, work / "tmp", main="perfbench.SelfTest")
                                 + ["--work", str(work)], capture_output=True, text=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(res.returncode, 0, res.stdout + res.stderr[-3000:])
        self.assertIn("selftest: all checks passed", res.stdout)


class PrintedMetrics(unittest.TestCase):
    def check(self, r, key):
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()}, metric_units(key))
        for v in r["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_end_to_end(self):
        self.check(result("--workload", "dbscan_dist", "--seed", "3", "--seconds", "1",
                          "--trace", "0", "--small"), "end_to_end")

    def test_per_layer(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.check(result("--workload", w, "--seed", "3", "--seconds", "1",
                                  "--trace", "1", "--small"), "per_layer")


class BareDirectory(unittest.TestCase):
    def test_fails_without_result(self):
        bare = build.build_dir() / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        try:
            shutil.copy(build.ROOT / "BENCHMARK.json", bare)
            shutil.copytree(build.BENCH, bare / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            res = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                  "dbscan_dist", "--seed", "1", "--seconds", "1",
                                  "--trace", "0"], cwd=bare, capture_output=True,
                                 text=True, timeout=180,
                                 env={k: v for k, v in os.environ.items()
                                      if k != "CARGO_TARGET_DIR"})
            self.assertNotEqual(res.returncode, 0)
            self.assertNotIn('"metrics"', res.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
