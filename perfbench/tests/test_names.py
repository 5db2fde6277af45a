import json
import os
import sys
import unittest

HERE = os.path.dirname(__file__)
sys.path.insert(0, os.path.join(HERE, ".."))

import stats  # noqa: E402

with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def raw_run(workload):
    """A raw measurement as Main prints it, with one traced call of
    every span and every gauge set."""
    spans = [{"id": 0, "parent": -1, "name": workload + ".pass", "start": 0.0, "end": 1e3}]
    jobs = []
    for i, name in enumerate(stats.SPANS, start=1):
        spans.append({"id": i, "parent": 0, "name": name, "start": i * 10.0, "end": i * 10.0 + 5})
        jobs.append({"span": i, "start": i * 10 + 1, "end": i * 10 + 2, "tasks": 1,
                     "cpu_ns": 1e6, "run_ms": 1, "shuffle_bytes": 1, "spill_bytes": 0})
    return {"session_ready_ms": 5e3, "setup_s": [1.0, 0.5, 0.6],
            "passes": [{"s": 3.0, "traced": False}, {"s": 2.0, "traced": False},
                       {"s": 2.3, "traced": True}, {"s": 2.2, "traced": False}],
            "ops": [{"kind": "read", "ms": 5.0 + i, "traced": False} for i in range(20)],
            "ops_window_s": 1.0, "attempted": 23, "failed": 0,
            "gauges": {g: 1.0 for g in stats.GAUGES}, "spans": spans, "jobs": jobs,
            "jvm": {"gc_s": 0.1, "heap_peak_mb": 100.0, "version": "x", "max_heap_mb": 1.0},
            "spark": "x", "cores": 4}


class NamesTest(unittest.TestCase):
    def test_declared_names_follow_the_rule(self):
        for key in ("workloads", "end_to_end", "per_layer"):
            names = [m["name"] for m in BENCH[key]]
            self.assertEqual(len(names), len(set(names)), key)
            for n in names:
                self.assertRegex(n, stats.NAME)
                self.assertLessEqual(len(n), 64)

    def test_emitted_metrics_are_exactly_the_declared_ones(self):
        end = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        for w in BENCH["workloads"]:
            raw = raw_run(w["name"])
            got = stats.end_to_end(raw, 0.0, [0.2, 0.3, 0.4])
            self.assertEqual(stats.check_names(got, end), [])
            self.assertEqual({k: u for k, (_, u) in got.items()}, end)
            got = stats.layer_metrics(raw)
            self.assertEqual(stats.check_names(got, layer), [])
            self.assertEqual({k: u for k, (_, u) in got.items()}, layer)

    def test_end_to_end_values(self):
        raw = raw_run("x")
        got = stats.end_to_end(raw, 0.0, [0.2, 0.3, 0.4])
        self.assertAlmostEqual(got["setup_s"][0], 5.0 + 0.3 + 0.6)
        self.assertEqual(got["run_s"][0], 3.0)  # the first, cold pass
        self.assertEqual(got["op_p50_ms"][0], 14.0)
        self.assertEqual(got["ops_per_s"][0], 20.0)
        raw["ops"] = []
        got = stats.end_to_end(raw, 0.0, [0.2])
        self.assertEqual((got["op_p50_ms"][0], got["ops_per_s"][0]), (3000.0, 1 / 3.0))

    def test_trace_overhead_compares_warm_passes(self):
        got = stats.layer_metrics(raw_run("x"))
        # the cold first pass is left out; the untraced ones bracket it
        self.assertAlmostEqual(got["trace.overhead_frac"][0], 2.3 / 2.1 - 1)


if __name__ == "__main__":
    unittest.main()
