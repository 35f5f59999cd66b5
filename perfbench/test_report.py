"""Tests for the metric computation: python3 -m unittest discover -s perfbench"""
import json
import os
import unittest

import report

HERE = os.path.dirname(os.path.abspath(__file__))


def execution(q, p, s, b, e, rows=3, hash_=7, ok=True):
    return {"q": q, "p": p, "g": f"u-{p}-{q}", "s": s, "b": b, "e": e, "ok": ok,
            "rows": rows, "hash": hash_, "codegen_n": 0, "codegen_ns": 0,
            "cached_rdds": 0, "clear_ms": 0.1}


class EndToEndTest(unittest.TestCase):
    def test_passes_latencies_and_heap(self):
        window = {"start": 0.0, "end": 5000.0, "heap_mb": [80.0, 90.0, 85.0], "execs": [
            execution("a", 0, 0, 100, 1000), execution("b", 0, 1000, 1100, 1500),
            execution("b", 1, 2000, 2100, 2600), execution("a", 1, 2600, 2700, 4000)]}
        m, counts = report.end_to_end({"setups_s": [9.0, 1.0, 1.2]}, window)
        self.assertEqual(m["setup_s"], 1.2)
        self.assertAlmostEqual(m["wall_s"], 1.2 + 0.55)
        self.assertAlmostEqual(m["query_p50_s"], 0.8)
        self.assertAlmostEqual(m["throughput_qps"], 2 / 1.75)
        self.assertEqual(m["heap_live_mb"], 85.0)
        self.assertEqual(counts, {"query_p50_s": 4, "wall_s": 2})

    def test_a_result_unlike_the_checked_one_fails(self):
        check = {"a": {"rows": 3, "hash": 7}}
        self.assertIsNone(report.exec_failure(execution("a", 0, 0, 1, 2), check, {}))
        self.assertIsNotNone(report.exec_failure(execution("a", 0, 0, 1, 2, hash_=8), check, {}))
        self.assertIsNotNone(report.exec_failure(execution("a", 0, 0, 1, 2), check, {"a": "bad"}))


class LayerTest(unittest.TestCase):
    def test_self_times_add_up_to_the_latency(self):
        ex = execution("a", 0, 0.0, 40.0, 100.0)
        evs = {"job": [{"id": 1, "s": 10, "e": 30}, {"id": 2, "s": 50, "e": 90}],
               "stage": [{"id": 3, "s": 55, "e": 85, "tasks": 4, "wait_ms": 8, "run_ms": 100,
                          "cpu_ns": 9e7, "gc_ms": 1, "scan_bytes": 10, "shuffle_write": 0,
                          "shuffle_read": 0, "fetch_wait_ms": 0, "spill_bytes": 0,
                          "write_bytes": 0, "write_records": 0}],
               "plan": [{"phase": "planning", "s": 42, "e": 48}], "batch": []}
        m, spans, action_run, action_wall = report.per_execution(ex, evs, 4)
        self.assertAlmostEqual(sum(sp["self"] for sp in spans), 100.0)
        self.assertEqual(m["span.self_residual_s"], 0.0)
        self.assertEqual(m["build.jobs"], 1)
        self.assertAlmostEqual(m["driver.gap_s"], 0.02)
        self.assertAlmostEqual(m["span.stage_self_s"], 0.03)
        self.assertAlmostEqual(m["plan.planning_s"], 0.006)
        self.assertEqual((action_run, action_wall), (0.1, 0.06))


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_names_and_units_match(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, report.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, report.LAYER_UNITS)


if __name__ == "__main__":
    unittest.main()
