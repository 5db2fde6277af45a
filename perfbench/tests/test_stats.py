import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(100, 0, -1))
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertEqual(stats.percentile(v, 100), 100)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_ten_beyond_rule(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(99, 90), 9)
        self.assertEqual(stats.highest_percentile(99), 50)
        self.assertEqual(stats.highest_percentile(100), 90)
        self.assertEqual(stats.highest_percentile(999), 90)
        self.assertEqual(stats.highest_percentile(1000), 99)
        self.assertEqual(stats.highest_percentile(10000), 99.9)
        # too few samples for anything beyond the median
        self.assertEqual(stats.highest_percentile(12), 50)

    def test_timing_summary(self):
        s = stats.timing_summary([float(i) for i in range(1, 101)])
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["p50"], 50.0)
        self.assertEqual(s["highest"], {"p": 90, "value": 90.0})
        self.assertEqual(stats.timing_summary([]), {"n": 0})


class SpanArithmeticTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(5, 6), (0, 10)]), 10)
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0.0)

    def test_self_time_subtracts_covered_union_of_children(self):
        span = {"start": 0.0, "end": 10.0}
        kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 5.0},
                {"start": 8.0, "end": 12.0}]
        # children cover [1,5] and [8,10] inside the span: 6 of its 10
        self.assertEqual(stats.self_time(span, kids), 4.0)
        self.assertEqual(stats.self_time(span, []), 10.0)

    def test_span_calls_attribute_jobs_to_the_subtree(self):
        raw = {
            "spans": [
                {"id": 0, "parent": -1, "name": "w.pass", "start": 0.0, "end": 100.0},
                {"id": 1, "parent": 0, "name": "ml.fit", "start": 10.0, "end": 50.0},
                {"id": 2, "parent": 0, "name": "ml.transform", "start": 60.0, "end": 90.0}],
            "jobs": [
                {"span": 1, "start": 20, "end": 30, "tasks": 2, "cpu_ns": 1e9,
                 "run_ms": 10, "shuffle_bytes": 1048576, "spill_bytes": 0},
                {"span": 1, "start": 25, "end": 40, "tasks": 1, "cpu_ns": 5e8,
                 "run_ms": 15, "shuffle_bytes": 0, "spill_bytes": 0},
                {"span": 2, "start": 60, "end": 90, "tasks": 4, "cpu_ns": 2e9,
                 "run_ms": 30, "shuffle_bytes": 0, "spill_bytes": 2097152}]}
        calls = stats.span_calls(raw)
        fit = calls["ml.fit"][0]
        self.assertEqual(fit["self_ms"], 40.0)
        self.assertEqual(fit["driver_ms"], 40.0 - 20.0)  # jobs cover [20,40]
        self.assertEqual((fit["jobs"], fit["tasks"]), (2, 3))
        self.assertEqual(fit["task_cpu_s"], 1.5)
        self.assertEqual(fit["shuffle_mb"], 1.0)
        tr = calls["ml.transform"][0]
        self.assertEqual((tr["driver_ms"], tr["spill_mb"]), (0.0, 2.0))
        root = calls["w.pass"][0]
        self.assertEqual(root["self_ms"], 100.0 - 40.0 - 30.0)
        self.assertEqual(root["jobs"], 3)
        self.assertEqual(root["driver_ms"], 100.0 - 20.0 - 30.0)


if __name__ == "__main__":
    unittest.main()
