"""Checks of the benchmark's contract that need no Spark run.

    python3 -m unittest perfbench/test_bench.py

The Scala self-tests (statistics, self-time arithmetic, seeded inputs and a
tiny run of every workload) run with `python3 perfbench/run.py --selftest`.
"""
import json
import re
import shutil
import subprocess
import sys
import tempfile
import time
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def main_metric_names():
    """The metric names and units perfbench.Main reports, read from its source."""
    src = (HERE / "src" / "perfbench" / "Main.scala").read_text()
    def block(val):
        body = src[src.index(f"val {val}: Seq[(String, String)] = Seq("):]
        body = body[:body.index(")\n")]
        return re.findall(r'"([^"]+)" -> "([^"]+)"', body)
    return block("endToEnd"), block("perLayer")


class ContractTest(unittest.TestCase):
    def setUp(self):
        self.spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    def test_keys_and_limits(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertLessEqual(len((ROOT / "BENCHMARK.json").read_bytes()), 64 * 1024)
        self.assertTrue(1 <= len(s["paths"]) <= 16)
        self.assertTrue(1 <= s["run_seconds"] <= 60 and isinstance(s["run_seconds"], int))
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertRegex(w["name"], NAME)
            self.assertTrue(len(w["why"]) <= 200 and "\n" not in w["why"])
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]] + [w["name"] for w in s["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))

    def test_metrics_match_the_program(self):
        e2e, layers = main_metric_names()
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["end_to_end"]], e2e)
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]], layers)

    def test_workloads_match_the_runner(self):
        src = (HERE / "run.py").read_text()
        for w in self.spec["workloads"]:
            self.assertIn(f'"{w["name"]}"', src)

    def test_fails_fast_without_the_library(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(HERE, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            t0 = time.time()
            p = subprocess.run(self.spec["command"] + ["--workload", "flagship", "--seed", "1",
                                                      "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
            self.assertLess(time.time() - t0, 180)


if __name__ == "__main__":
    sys.exit(unittest.main())
