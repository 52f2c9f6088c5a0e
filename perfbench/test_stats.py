"""Tests of the benchmark's report arithmetic.

    python3 perfbench/test_stats.py
"""
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402


def span(id, parent, start, end, name="s", layer="x"):
    return {"id": id, "parent": parent, "name": name, "layer": layer,
            "start_ns": start, "end_ns": end, "attrs": {}}


class QuantileTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_matches_statistics_inclusive(self):
        data = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
        q = statistics.quantiles(data, n=4, method="inclusive")
        self.assertAlmostEqual(stats.quantile(data, 0.25), q[0])
        self.assertAlmostEqual(stats.quantile(data, 0.75), q[2])

    def test_extremes_and_p99(self):
        data = list(range(1, 101))
        self.assertEqual(stats.quantile(data, 0.0), 1)
        self.assertEqual(stats.quantile(data, 1.0), 100)
        self.assertAlmostEqual(stats.quantile(data, 0.99), 99.01)

    def test_single_value(self):
        self.assertEqual(stats.quantile([7.5], 0.99), 7.5)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.quantile([], 0.5)


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)]
        st = stats.self_times(spans)
        self.assertEqual(st, {1: 70, 2: 20, 3: 10})

    def test_parallel_children_are_not_counted_twice(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 60), span(3, 1, 40, 80)]
        self.assertEqual(stats.self_times(spans)[1], 30)

    def test_children_are_clipped_to_the_parent(self):
        # Spark stamps stages in whole milliseconds, so a stage can poke
        # out of its job's nanosecond span
        spans = [span(1, 0, 100, 200), span(2, 1, 90, 150), span(3, 1, 180, 260)]
        self.assertEqual(stats.self_times(spans)[1], 30)

    def test_self_plus_cover_adds_up_through_levels(self):
        spans = [span(1, 0, 0, 1000, "job.x"), span(2, 1, 100, 600, "batch"),
                 span(3, 2, 100, 300, "part"), span(4, 2, 300, 550, "part"),
                 span(5, 1, 700, 900, "stage")]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 1000 - 500 - 200)
        self.assertEqual(st[2], 500 - 450)
        self.assertEqual(sum(st.values()), 1000)
        self.assertEqual(stats.job_self_ms(spans), [300 / 1e6])

    def test_by_name_groups_self_times(self):
        spans = [span(1, 0, 0, 10, "a", "core"), span(2, 0, 0, 4, "a", "core")]
        self.assertEqual(stats.self_time_by_name(spans), {("core", "a"): [10, 4]})


class ReduceTest(unittest.TestCase):
    def test_end_to_end_closed_loop(self):
        m = stats.end_to_end({"setup_s": [3.0, 1.0, 2.0], "ops_per_s": 5.0,
                              "job_s": [0.5, 0.25, 1.0], "recall_at_k": [1.0, 0.5]})
        self.assertEqual(m, {"setup_s": 2.0, "ops_per_s": 5.0,
                             "latency_ms_p50": 500.0, "recall_at_k": 0.75})

    def test_end_to_end_prefers_event_latency(self):
        m = stats.end_to_end({"setup_s": [1.0], "ops_per_s": 1.0, "job_s": [9.0],
                              "latency_ms": [10.0, 30.0, 20.0], "recall_at_k": [1.0]})
        self.assertEqual(m["latency_ms_p50"], 20.0)

    def test_per_layer_special_and_missing(self):
        values = {"streaming.batch_ms": [1.0, 5.0, 3.0], "latency_ms": list(range(101)),
                  "core.sketch.count_ns": 42.0, "plans.lookup.task_ms": [2.0, 4.0, 9.0]}
        out = stats.per_layer(["streaming.batch_ms_p50", "streaming.batch_ms_max",
                               "streaming.latency_ms_p99", "core.sketch.count_ns",
                               "plans.lookup.task_ms", "core.sliding.tick_us"], values, [])
        self.assertEqual(out, {"streaming.batch_ms_p50": 3.0, "streaming.batch_ms_max": 5.0,
                               "streaming.latency_ms_p99": 99.0, "core.sketch.count_ns": 42.0,
                               "plans.lookup.task_ms": 4.0, "core.sliding.tick_us": 0.0})


if __name__ == "__main__":
    unittest.main()
