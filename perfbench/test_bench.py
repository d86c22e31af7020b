#!/usr/bin/env python3
"""Tests of the benchmark itself, on tiny inputs.

    python3 perfbench/test_bench.py

- every workload prints every metric of BENCHMARK.json, with its unit, as the
  last stdout line, both untraced and traced, and reports no failure;
- a corrupted chunk and a wrong query result are each counted as failures.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(workload, trace=0, inject="none"):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny",
         "--inject", inject],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"run.py exited {r.returncode}:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def check_metrics(self, res, wanted):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(list(res["metrics"]), [m["name"] for m in wanted])
        for m in wanted:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_metric_printed_with_unit(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                res = bench(w["name"])
                self.check_metrics(res, SPEC["end_to_end"])
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                for m in SPEC["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])

    def test_traced_run_prints_per_layer_metrics(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                res = bench(w["name"], trace=1)
                self.check_metrics(res, SPEC["per_layer"])
                self.assertTrue(res["correct"])


class FaultTest(unittest.TestCase):
    def test_corrupted_chunk_is_a_failure(self):
        res = bench("stack_v2", inject="corrupt-chunk")
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertLess(res["metrics"]["ok_rate"]["value"], 1.0)

    def test_wrong_query_result_is_a_failure(self):
        res = bench("query_mix", inject="wrong-query")
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertLess(res["metrics"]["ok_rate"]["value"], 1.0)


if __name__ == "__main__":
    unittest.main()
