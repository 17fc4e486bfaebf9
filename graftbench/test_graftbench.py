#!/usr/bin/env python3
"""Toy-size runs of every workload, traced and untraced.

Each run must be correct, report exactly the metrics BENCHMARK.json
names with their units, and execute every correctness check.

    python3 -m unittest graftbench/test_graftbench.py    # from the checkout root
"""
import json
import os
import subprocess
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHECKS = {"recall_recomputed", "load_roundtrip", "remote_bit_identical",
          "filtered_predicate", "sq8_answers_k", "batch_rows_qk",
          "deleted_absent", "attrs_fetch_consistent", "lazy_bit_identical",
          "compact_unchanged"}


def toy_run(workload, trace):
    proc = subprocess.run(
        ["python3", "graftbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise AssertionError(f"exit {proc.returncode}: {proc.stderr[-3000:]}")
    record = json.loads(next(l for l in lines if l.startswith("# record "))[9:])
    return json.loads(lines[-1]), record


class ToyRuns(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)

    def check_run(self, workload, trace):
        result, record = toy_run(workload, trace)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], record)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        want = {m["name"]: m["unit"] for m in
                self.spec["per_layer" if trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        self.assertEqual(record["missing"], [])
        expected_checks = CHECKS | ({"pipeline_rows_hash"}
                                    if trace and workload == "churn" else set())
        self.assertEqual(set(record["checks"]), expected_checks)
        if not trace:
            for name, m in result["metrics"].items():
                self.assertGreater(m["value"], 0, name)
        for leg in ("ambient_first_s", "ambient_last_s"):
            self.assertGreater(record[leg], 0)

    def test_workloads(self):
        for w in self.spec["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    self.check_run(w["name"], trace)


if __name__ == "__main__":
    unittest.main()
