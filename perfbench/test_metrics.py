#!/usr/bin/env python3
"""Self-check of the benchmark command, end to end on an sf0.001 fixture:
the last stdout line carries every metric BENCHMARK.json declares, each
with its declared unit, and the run is correct. Also checks that the
declared per-layer list is the one perfbench/layers.py defines.

Run from the repository root:  python3 perfbench/test_metrics.py
(builds the harness on first use; takes a few minutes)
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import layers  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-3000:])
    return json.loads(p.stdout.strip().splitlines()[-1])


class MetricsOutput(unittest.TestCase):
    def check(self, out, declared):
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"])
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(out["failed"], 0)
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        self.assertEqual(got, {m["name"]: m["unit"] for m in declared})
        for k, v in out["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_declared_layers_match_the_harness(self):
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]],
                         [(n, u, layers.better(n)) for n, u, _ in layers.PER_LAYER])

    def test_end_to_end_metrics(self):
        for w in ("catalog_sf01", "corpus_scale", "collection_write"):
            with self.subTest(workload=w):
                self.check(run(w, 0), SPEC["end_to_end"])

    def test_per_layer_metrics(self):
        self.check(run("collection_write", 1), SPEC["per_layer"])


if __name__ == "__main__":
    unittest.main()
