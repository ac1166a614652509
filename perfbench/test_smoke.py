"""Smoke test of the benchmark.

    python3 perfbench/test_smoke.py

Runs every workload of BENCHMARK.json with the shortest window
(--seconds 1), once untraced and once traced, and checks that --trace 0
prints exactly the end-to-end metrics and --trace 1 exactly the per-layer
ones, each with its unit, and that every run is correct (failed_ratio =
0). Takes about four minutes: each run starts a Spark JVM and runs its
cold pass, warm-up and at least three measured passes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):

    def runs(self, trace, spec):
        """Runs every workload; checks metric names, units and correctness."""
        units = {m["name"]: m["unit"] for m in spec}
        results = []
        for w in SPEC["workloads"]:
            res = run(w["name"], trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            self.assertEqual(got, units, w["name"])
            self.assertTrue(res["correct"], w["name"])
            self.assertEqual(res["failed"], 0, w["name"])
            self.assertGreaterEqual(res["attempted"], 1, w["name"])
            results.append(res)
        return results

    def test_untraced_runs_print_every_end_to_end_metric(self):
        for res in self.runs(0, SPEC["end_to_end"]):
            for v in res["metrics"].values():
                self.assertGreater(v["value"], 0)

    def test_traced_runs_print_every_per_layer_metric(self):
        for res in self.runs(1, SPEC["per_layer"]):
            self.assertEqual(res["metrics"]["failed_ratio"]["value"], 0.0)


if __name__ == "__main__":
    unittest.main()
