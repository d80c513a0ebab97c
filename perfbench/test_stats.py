"""Unit tests for the benchmark's pure functions.

Run from the repository root: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import layers
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(HERE, "..", "BENCHMARK.json")
DESIGN = os.path.join(HERE, "design.json")


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 0.5), 50)
        self.assertEqual(stats.percentile(v, 0.99), 99)
        self.assertEqual(stats.percentile(v, 1.0), 100)
        self.assertEqual(stats.percentile([7], 0.5), 7)
        self.assertRaises(ValueError, stats.percentile, [], 0.5)

    def test_tail_leaves_ten_samples_beyond(self):
        for n in (11, 20, 63, 100, 999, 1000, 1010, 5000, 20000):
            p = stats.tail_percentile(n)
            rank = stats.percentile(list(range(n)), p)  # value == rank - 1
            self.assertGreaterEqual(n - (rank + 1), stats.BEYOND, n)
            self.assertLessEqual(p, 0.99)
        self.assertEqual(stats.tail_percentile(20000), 0.99)
        self.assertEqual(stats.tail_percentile(1000), 0.99)
        self.assertLess(stats.tail_percentile(999), 0.99)
        self.assertIsNone(stats.tail_percentile(10))


class OpenLoopTest(unittest.TestCase):
    def test_latency_from_schedule_to_commit(self):
        # rows 0-1 in block 0 (offset 5), row 2 in block 1 (offset 6)
        sched = [100.0, 110.0, 130.0]
        blocks = [(0, 2), (2, 1)]
        lat, missing = stats.open_loop_latencies(sched, blocks, 5, [(5, 200.0), (6, 300.0)])
        self.assertEqual(lat, [100.0, 90.0, 170.0])
        self.assertEqual(missing, 0)
        # one batch consumed both blocks
        lat, _ = stats.open_loop_latencies(sched, blocks, 5, [(6, 250.0)])
        self.assertEqual(lat, [150.0, 140.0, 120.0])

    def test_unconsumed_rows_are_counted_not_timed(self):
        lat, missing = stats.open_loop_latencies([0.0, 1.0, 2.0], [(0, 1), (1, 2)], 0,
                                                 [(0, 12.0)])
        self.assertEqual(lat, [12.0])
        self.assertEqual(missing, 2)

    def test_commit_times_skip_batches_without_data(self):
        prog = [
            {"sources": [{"startOffset": None, "endOffset": 3}],
             "timestamp": "2026-01-01T00:00:00.000Z", "durationMs": {"triggerExecution": 40}},
            {"sources": [{"startOffset": 3, "endOffset": 3}],
             "timestamp": "2026-01-01T00:00:01.000Z", "durationMs": {"triggerExecution": 5}},
            {"sources": [{"startOffset": 3, "endOffset": 7}],
             "timestamp": "2026-01-01T00:00:02.500Z", "durationMs": {"triggerExecution": 10}}]
        base = stats.epoch_ms("2026-01-01T00:00:00.000Z")
        self.assertEqual([(e, t - base) for e, t in stats.commit_times(prog)],
                         [(3, 40.0), (7, 2510.0)])


class SelfTimeTest(unittest.TestCase):
    def test_children_clipped_and_overlaps_counted_once(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 100.0},
            {"id": 2, "parent": 1, "start": 10.0, "end": 30.0},
            {"id": 3, "parent": 1, "start": 20.0, "end": 40.0},    # overlaps 2
            {"id": 4, "parent": 1, "start": 90.0, "end": 120.0},   # clipped at 100
            {"id": 5, "parent": 2, "start": 12.0, "end": 13.0}]
        s = stats.self_times(spans)
        self.assertAlmostEqual(s[1], 100 - 30 - 10)
        self.assertAlmostEqual(s[2], 19.0)
        self.assertAlmostEqual(s[4], 30.0)
        self.assertAlmostEqual(s[5], 1.0)


class EndToEndTest(unittest.TestCase):
    def test_batch_times_are_per_lap(self):
        ops = [{"name": "q", "total_ms": ms, "error": None} for ms in (900.0, 1100.0)]
        jvm = {"setups": [{"setup_s": s} for s in (9.0, 2.0, 3.0)], "cpu_s": 99.0,
               "heap_live_mb": 80.0,
               "workload_record": {"ops": ops, "laps_s": [10.0, 12.0],
                                   "laps_cpu_s": [30.0, 34.0]}}
        m = layers.end_to_end("batch", jvm)
        self.assertEqual(m["setup_s"], (3.0, "s"))
        self.assertEqual(m["setup_cold_s"], (9.0, "s"))
        self.assertEqual(m["wall_s"], (11.0, "s"))
        self.assertEqual(m["cpu_s"], (32.0, "s"))
        self.assertEqual(m["op_ms_mean"], (1000.0, "ms"))


class SchemaTest(unittest.TestCase):
    def setUp(self):
        with open(SPEC) as f:
            self.spec = json.load(f)

    def result(self, trace):
        ms = self.spec["per_layer" if trace else "end_to_end"]
        return {"correct": True, "attempted": 3, "failed": 0,
                "metrics": {m["name"]: {"value": 1.5, "unit": m["unit"]} for m in ms}}

    def test_valid_results_pass(self):
        self.assertEqual(stats.check_result(self.result(False), self.spec, False), [])
        self.assertEqual(stats.check_result(self.result(True), self.spec, True), [])

    def test_missing_metric_wrong_unit_and_bad_value_fail(self):
        r = self.result(False)
        r["metrics"].pop("wall_s")
        self.assertTrue(stats.check_result(r, self.spec, False))
        r = self.result(False)
        r["metrics"]["setup_s"]["unit"] = "ms"
        self.assertTrue(stats.check_result(r, self.spec, False))
        r = self.result(False)
        r["metrics"]["setup_s"]["value"] = float("nan")
        self.assertTrue(stats.check_result(r, self.spec, False))
        r = self.result(False)
        r["attempted"] = 0
        self.assertTrue(stats.check_result(r, self.spec, False))

    def test_spec_lists_every_layer_metric_once(self):
        names = [m["name"] for m in self.spec["per_layer"]]
        self.assertEqual(names, [n for n, _ in layers.PER_LAYER])
        self.assertEqual(len(names), len(set(names)))
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertRegex(m["name"], stats.NAME)
            self.assertRegex(m["unit"], stats.UNIT)
        self.assertIn({"name": "setup_s", "unit": "s", "better": "lower",
                       "bound": max(m["bound"] for m in self.spec["end_to_end"])},
                      self.spec["end_to_end"])


class DesignTest(unittest.TestCase):
    def test_design_covers_every_workload_and_metric(self):
        with open(SPEC) as f:
            spec = json.load(f)
        with open(DESIGN) as f:
            design = json.load(f)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(design["workloads"]))
        self.assertEqual({m["name"] for m in spec["end_to_end"]}, set(design["end_to_end"]))
        known = set(design["end_to_end"]) | set(design["printed_not_gated"])
        for name, _ in layers.PER_LAYER:
            key = name
            for t in layers.TABLES:
                key = key.replace(f".{t}", ".<table>") if name.startswith("core.tables") else key
            if name.startswith("functions."):
                key = "functions.<kernel>.ns_per_row"
            self.assertIn(key, design["per_layer_moves"], name)
            for metric, workloads in design["per_layer_moves"][key].items():
                self.assertIn(metric, known)
                self.assertTrue(set(workloads) <= set(design["workloads"]))


if __name__ == "__main__":
    unittest.main()
