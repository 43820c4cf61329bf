#!/usr/bin/env python3
"""Self-tests of the benchmark's arithmetic.

Usage (from the root of the repository):  python3 perfbench/test_stats.py
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def beyond(self, n, p):
        return n - math.ceil(p * n / 100)

    def test_at_least_ten_beyond_and_highest(self):
        for n in range(11, 400):
            p = stats.tail_percentile(n)
            self.assertIsNotNone(p)
            self.assertGreaterEqual(self.beyond(n, p), 10, n)
            if p < 99:
                self.assertLess(self.beyond(n, p + 1), 10, n)

    def test_too_few_samples(self):
        for n in range(0, 11):
            self.assertIsNone(stats.tail_percentile(n))

    def test_known_values(self):
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(15), 33)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([5.0], 75), 5.0)
        self.assertEqual(stats.percentile([3, 1, 2], 100), 3)
        # the tail value has exactly `beyond` samples above it
        xs = [float(i) for i in range(15)]
        p = stats.tail_percentile(len(xs))
        v = stats.percentile(xs, p)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(stats.union_length([(5, 4)]), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_idle_is_wall_minus_union_of_stages(self):
        # exec [0, 10]; stages overlap on [2, 5] and [4, 6], one runs past
        # the end: busy = [2, 6] + [8, 10] = 6, idle = 4
        self.assertEqual(stats.idle_time(0, 10, [(2, 5), (4, 6), (8, 12)]), 4)
        self.assertEqual(stats.idle_time(0, 10, []), 10)
        self.assertEqual(stats.idle_time(0, 10, [(0, 10), (3, 4)]), 0)

    def test_self_time(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (2, 4), (9, 11)]), 6)
        self.assertEqual(stats.self_time((0, 10), []), 10)
        self.assertEqual(stats.self_time((0, 10), [(0, 10)]), 0)

    def test_skew_uses_the_longest_stage(self):
        st = [{"start": 0, "end": 5, "task_max_ms": 9, "task_p50_ms": 1},
              {"start": 0, "end": 50, "task_max_ms": 30, "task_p50_ms": 10}]
        self.assertEqual(stats.skew(st), 3.0)
        self.assertIsNone(stats.skew([]))


class SeededOrder(unittest.TestCase):
    QS = [f"q{i}" for i in range(20)]

    def test_deterministic(self):
        self.assertEqual(stats.pass_order(self.QS, 7, 1), stats.pass_order(self.QS, 7, 1))

    def test_permutation(self):
        for seed in range(50):
            for p in range(1, 4):
                self.assertEqual(sorted(stats.pass_order(self.QS, seed, p)),
                                 sorted(self.QS))

    def test_seed_and_pass_change_the_order(self):
        self.assertNotEqual(stats.pass_order(self.QS, 1, 1), stats.pass_order(self.QS, 2, 1))
        self.assertNotEqual(stats.pass_order(self.QS, 1, 1), stats.pass_order(self.QS, 1, 2))

    def test_input_untouched(self):
        qs = list(self.QS)
        stats.pass_order(qs, 3, 1)
        self.assertEqual(qs, self.QS)


class CallSpans(unittest.TestCase):
    CALL = {
        "q": "qx", "role": "first", "pass": 1, "ok": True,
        "t0": 0, "t1": 100, "t3": 1000,
        "phases": {"analysis": [105, 105], "optimization": [105, 120],
                   "planning": [120, 130]},
        "jobs": [
            {"id": 1, "phase": "build", "start": 10, "end": 60, "tables": True, "stages": [1]},
            {"id": 2, "phase": "exec", "start": 200, "end": 500, "tables": False, "stages": [2, 3]},
            {"id": 3, "phase": "", "start": 600, "end": 900, "tables": False, "stages": [4]},
        ],
        "stages": [
            {"id": 1, "start": 10, "end": 60, "tasks": 1, "cpu_ns": 5, "gc_ms": 0,
             "spill_bytes": 0, "shuffle_bytes": 0, "task_max_ms": 1, "task_p50_ms": 1},
            {"id": 2, "start": 200, "end": 400, "tasks": 4, "cpu_ns": 7, "gc_ms": 1,
             "spill_bytes": 0, "shuffle_bytes": 10, "task_max_ms": 8, "task_p50_ms": 2},
            {"id": 3, "start": 350, "end": 500, "tasks": 2, "cpu_ns": 3, "gc_ms": 0,
             "spill_bytes": 0, "shuffle_bytes": 5, "task_max_ms": 3, "task_p50_ms": 3},
            {"id": 4, "start": 600, "end": 900, "tasks": 1, "cpu_ns": 1, "gc_ms": 0,
             "spill_bytes": 2, "shuffle_bytes": 0, "task_max_ms": 1, "task_p50_ms": 1},
        ],
        "ops": {}, "cache": {"hits": 0, "misses": 2, "persist_bytes": 0, "block_loss": 0},
    }

    def test_build_plan_exec_tile_the_call(self):
        spans = {s["name"]: s for s in layers.call_spans(self.CALL)}
        self.assertEqual(spans["build"]["start"], 0)
        self.assertEqual(spans["build"]["end"], spans["plan"]["start"])
        self.assertEqual(spans["plan"]["end"], 130)
        self.assertEqual(spans["plan"]["end"], spans["exec"]["start"])
        self.assertEqual(spans["exec"]["end"], 1000)
        self.assertEqual(spans["call"]["self"], 0)
        # exec [130, 1000] minus jobs [200, 500] and [600, 900]
        self.assertEqual(spans["exec"]["self"], 870 - 600)
        self.assertEqual(spans["job1"]["parent"], "build")
        self.assertEqual(spans["job3"]["parent"], "exec")  # by start time
        self.assertEqual(len({s["call"] for s in spans.values()}), 1)

    def test_layer_record(self):
        r = layers.layer_record(self.CALL)
        self.assertEqual(r["build_jobs"], 1)
        self.assertEqual(r["tables_jobs"], 1)
        self.assertEqual(r["stages"], 3)
        self.assertEqual(r["tasks"], 7)
        self.assertEqual(r["shuffle_rw_bytes"], 15)
        self.assertEqual(r["spill"], 2)
        # exec [130, 1000]: stages busy [200, 500] + [600, 900]
        self.assertAlmostEqual(r["idle_s"], (870 - 600) / 1e9)
        self.assertEqual(r["skew"], 1.0)  # longest stage is stage 4
        m = layers.role_metrics([r])
        self.assertEqual(m["cache.misses"], 2)
        self.assertEqual(m["cache.hit_ratio"], 0.0)

    def test_every_named_metric_is_reported(self):
        calls = [dict(self.CALL), dict(self.CALL, role="repeat")]
        rows = [dict(c, kind="call") for c in calls] + [
            {"kind": "pass", "pass": 2, "t0": 0, "t1": 2000, "peak_storage_bytes": 0}]
        counts = [{"kind": "count", "q": "qx", "ok": True, "t0": 0, "t3": 300}]
        untraced = [{"kind": "pass", "pass": 1, "t0": 0, "t1": 1800, "cpu_ns": 1}]
        out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                               ".bench_build", "perfbench", "selftest")
        got = layers.layer_metrics(rows, counts, untraced, out_dir)
        self.assertEqual(set(got), {n for n, _, _ in layers.metric_specs()})
        self.assertAlmostEqual(got["trace.overhead_s"]["value"], 200 / 1e9)


if __name__ == "__main__":
    unittest.main()
