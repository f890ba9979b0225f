"""Tests of the benchmark itself, on the tiny corpus (sf0.001).

    python3 -m unittest discover -s perfbench/tests -v     (from the checkout root)

Each workload runs once traced and once untraced (about half a minute a
run, after the first build).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SEED = 990001  # artifacts of test runs must not overwrite those of real runs
# an operation's construct and collect spans (client clock), plus the
# Catalyst phases Spark's tracker recorded, must add up to its wall time
# (client ns clock): the phases must account for the plan span
RECONCILE_TOL = 0.05
RECONCILE_FLOOR_S = 0.004


def bench(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
         "--data", os.path.join(BENCH, "data", "sf0.001"),
         "--pins", os.path.join(BENCH, "pins", "sf0.001.json")],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py failed ({p.returncode}):\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(BENCH, "out", f"{workload}-seed{SEED}-trace{trace}.json")) as f:
        return result, json.load(f)


class TinyRuns(unittest.TestCase):
    runs = {}

    @classmethod
    def run_of(cls, workload, trace):
        if (workload, trace) not in cls.runs:
            cls.runs[(workload, trace)] = bench(workload, trace)
        return cls.runs[(workload, trace)]

    def check_result(self, result, wanted):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_metric_with_its_unit(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                result, doc = self.run_of(w["name"], 0)
                self.check_result(result, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])
                result, _ = self.run_of(w["name"], 1)
                self.check_result(result, SPEC["per_layer"])

    def test_self_times_reconcile_to_wall_time(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                _, doc = self.run_of(w["name"], 1)
                self.assertTrue(doc["traced_ops"])
                for op in doc["traced_ops"]:
                    layers = (op["construct_s"] + op["analysis_s"] + op["optimization_s"] +
                              op["planning_s"] + op["exec_s"])
                    self.assertLessEqual(abs(layers - op["clock_s"]),
                                         max(RECONCILE_FLOOR_S, RECONCILE_TOL * op["clock_s"]),
                                         op["query"])
                    # the listener saw every job of the collect end, inside it
                    self.assertEqual(op["open_jobs"], 0, op["query"])
                    self.assertLessEqual(op["jobs_outside_collect_s"], 0.002, op["query"])
                    self.assertLessEqual(op["exec_job_s"], op["exec_s"] + 0.002, op["query"])

    def test_no_stage_is_skipped(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                _, doc = self.run_of(w["name"], 1)
                for op in doc["traced_ops"]:
                    self.assertEqual(op["stages_skipped"], 0, op["query"])

    def test_spans_nest_and_self_times_are_bounded(self):
        _, doc = self.run_of(SPEC["workloads"][0]["name"], 1)
        spans = {s[0]: s for s in doc["spans"]}
        for sid, parent, name, start, end, self_ms in doc["spans"]:
            self.assertLessEqual(start, end, name)
            self.assertTrue(0 <= self_ms <= end - start, name)
            if parent:
                self.assertIn(parent, spans, name)


if __name__ == "__main__":
    unittest.main()
