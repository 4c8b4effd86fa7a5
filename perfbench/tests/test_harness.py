"""Tests of the benchmark's own arithmetic.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import layers  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(run.percentile(xs, 50), 50)
        self.assertEqual(run.percentile(xs, 90), 90)
        self.assertEqual(run.percentile([3.0], 90), 3.0)
        self.assertEqual(run.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_samples_beyond(self):
        self.assertEqual(run.beyond(100, 90), 10)
        self.assertEqual(run.beyond(99, 90), 9)
        self.assertEqual(run.beyond(40, 75), 10)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(run.tail_percentile(19))
        self.assertEqual(run.tail_percentile(20), 50)
        self.assertEqual(run.tail_percentile(39), 50)
        self.assertEqual(run.tail_percentile(40), 75)
        self.assertEqual(run.tail_percentile(99), 75)
        self.assertEqual(run.tail_percentile(100), 90)
        self.assertEqual(run.tail_percentile(200), 95)
        self.assertEqual(run.tail_percentile(1000), 99)
        self.assertEqual(run.tail_percentile(10000), 99.9)

    def test_quartile_spread(self):
        values = [10.0, 11.0, 9.0, 10.5, 10.2, 9.8, 10.1, 9.9, 10.3, 10.0]
        self.assertAlmostEqual(run.spread(values),
                               (statistics.quantiles(values, n=4)[2]
                                - statistics.quantiles(values, n=4)[0])
                               / statistics.median(values))


class EndToEnd(unittest.TestCase):
    def test_latency_is_geometric_mean_of_key_medians(self):
        def sample(key, pas, lat, ok=True):
            return {"key": key, "pass": pas, "traced": False, "ok": ok, "latency_s": lat}
        res = {"setup_s": 20.0, "heap_mb": [70.0, 72.0, 71.0],
               "passes": [{"traced": False, "wall_s": 2.0}, {"traced": False, "wall_s": 2.0}],
               "samples": [sample("a", -1, 9.0),                      # set-up: ignored
                           sample("a", 0, 0.1), sample("a", 1, 0.3), sample("a", 1, 0.2),
                           sample("b", 0, 1.6), sample("b", 1, 9.0, ok=False)]}
        m = run.end_to_end(res)
        self.assertAlmostEqual(m["latency_p50_s"][0], (0.2 * 1.6) ** 0.5)
        self.assertAlmostEqual(m["qps"][0], 4 / 4.0)
        self.assertEqual(m["qps"][2], 5)
        self.assertEqual(m["heap_live_mb"][0], 71.0)


class SelfTime(unittest.TestCase):
    def test_union_clips_and_merges(self):
        self.assertEqual(layers.union_length([], 0, 10), 0)
        self.assertEqual(layers.union_length([(1, 3), (2, 5)], 0, 10), 4)
        self.assertEqual(layers.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(layers.union_length([(1, 2), (4, 6), (5, 7)], 0, 10), 4)
        self.assertEqual(layers.union_length([(3, 3), (6, 4)], 0, 10), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [
            {"id": 1, "parent": 0, "name": "query", "start": 0, "end": 100},
            {"id": 2, "parent": 1, "name": "operators.build", "start": 0, "end": 40},
            {"id": 3, "parent": 1, "name": "exec.action", "start": 40, "end": 95},
            {"id": 4, "parent": 2, "name": "spark.job", "start": 10, "end": 30},
            {"id": 5, "parent": 3, "name": "spark.job", "start": 45, "end": 70},
            {"id": 6, "parent": 3, "name": "spark.job", "start": 60, "end": 90},
            {"id": 7, "parent": 6, "name": "spark.stage", "start": 50, "end": 95},
            {"counter": "exec.planning", "ms": 3},
        ]
        st = layers.self_times(spans)
        self.assertEqual(st[1], 5)     # 100 - (40 + 55)
        self.assertEqual(st[2], 20)    # 40 - 20
        self.assertEqual(st[3], 10)    # 55 - union(45..90)
        self.assertEqual(st[6], 0)     # stage clipped to its job covers it all
        self.assertEqual(st[7], 45)


class PerLayer(unittest.TestCase):
    def stage(self, sid, parent, **kw):
        base = dict(id=sid, parent=parent, name="spark.stage", start=0, end=1,
                    phase="window",
                    attempt=0, tasks=4, task_failures=0, task_ms=100, busy_ms=120,
                    gc_ms=5, queue_ms=8, rows_read=1000, bytes_read=1048576,
                    shuffle_read=0, shuffle_write=0, spill=0, bytes_written=0,
                    paged_scan=False)
        base.update(kw)
        return base

    def test_metrics_per_query(self):
        spans = [
            {"id": 1, "parent": 0, "name": "query", "key": "a", "start": 0,
             "end": 100, "ok": True, "rows_out": 10},
            {"id": 2, "parent": 1, "name": "operators.build", "start": 0, "end": 40},
            {"id": 3, "parent": 1, "name": "exec.action", "start": 40, "end": 100},
            {"id": 4, "parent": 2, "name": "spark.job", "start": 10, "end": 30,
             "module": "functions", "layout_write": False, "ok": True},
            {"id": 5, "parent": 3, "name": "spark.job", "start": 45, "end": 95,
             "module": "exec", "layout_write": False, "ok": True},
            self.stage(6, 4),
            self.stage(7, 5, paged_scan=True, attempt=1),
            {"counter": "exec.planning", "ms": 30, "ok": True},
        ]
        res = {"cores": 4, "pinned_rdds": 1, "pinned_peak_mb": 2.0,
               "window_jvm": {"cpu_s": 1.0, "gc_s": 0.1, "jit_s": 0.4},
               "passes": [{"traced": True, "wall_s": 0.1, "codegen_compiles": 3,
                           "codegen_s": 0.2}],
               "samples": [{"key": "a", "pass": 0, "traced": True, "ok": True,
                            "latency_s": 0.11},
                           {"key": "a", "pass": 1, "traced": False, "ok": True,
                            "latency_s": 0.10}]}
        for s in spans:
            s["phase"] = "window"
        m = {k: v for k, (v, _, _) in layers.per_layer(res, spans).items()}
        self.assertAlmostEqual(m["operators.build_s"], 0.020)
        self.assertEqual(m["operators.eager_jobs"], 1)
        self.assertEqual(m["functions.jobs"], 1)
        self.assertAlmostEqual(m["functions.task_s"], 0.1)
        self.assertEqual(m["tables.rows_read"], 2000)
        self.assertEqual(m["tables.rows_read_per_row_out"], 200)
        self.assertEqual(m["sources.pages_read"], 4)
        self.assertEqual(m["exec.stage_retries"], 1)
        self.assertAlmostEqual(m["exec.planning_s"], 0.03)
        self.assertAlmostEqual(m["exec.slot_busy_ratio"], 240 / (100 * 4))
        self.assertAlmostEqual(m["exec.task_queue_s"], 16 / 8 / 1000)
        self.assertAlmostEqual(m["trace.overhead_ratio"], 0.1)
        self.assertEqual(m["trace.unattributed_s"], 0)
        self.assertEqual(m["layouts.writes"], 0)
        self.assertAlmostEqual(m["exec.jit_s"], 0.2)


if __name__ == "__main__":
    unittest.main()
