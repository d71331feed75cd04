"""Self-test of the benchmark, at tiny input sizes (about 3 minutes):

    python3 perfbench/selftest.py

- the result is the last stdout line and parses from the last 2000
  characters of the output, without any log prefix;
- every workload, untraced and traced, reports exactly the metrics
  BENCHMARK.json declares, with their units, and all its answers right;
- design.json maps every per-layer metric;
- the runner fails, without a result line, in a directory that holds only
  BENCHMARK.json and the benchmark (no engine sources to build).
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)


def result_line(stdout):
    """The result as a reader that keeps only the output's last 2000 chars sees it."""
    return json.loads(stdout[-2000:].strip().splitlines()[-1])


class SelfTest(unittest.TestCase):

    def check_result(self, res, declared):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(list(res["metrics"]), [m["name"] for m in declared])
        for m in declared:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])

    def test_every_workload_reports_every_declared_metric(self):
        for w in SPEC["workloads"]:
            for trace, declared in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                with self.subTest(workload=w["name"], trace=trace):
                    p = run(w["name"], trace)
                    self.assertEqual(p.returncode, 0)
                    res = result_line(p.stdout)
                    self.check_result(res, declared)
                    if trace == 0:
                        for m in declared:
                            self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])
                    else:
                        trace_file = os.path.join(ROOT, ".bench_build", "traces",
                                                  f"{w['name']}-seed3.json")
                        with open(trace_file) as f:
                            self.assertTrue(json.load(f)["spans"])

    def test_design_maps_every_layer_metric(self):
        with open(os.path.join(HERE, "design.json")) as f:
            layers = json.load(f)["layers"]
        self.assertEqual(set(layers), {m["name"] for m in SPEC["per_layer"]})

    def test_fails_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p))
            p = run(SPEC["workloads"][0]["name"], 0, cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
