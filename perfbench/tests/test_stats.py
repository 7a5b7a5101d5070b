"""Tests of the benchmark's own statistics (no JVM).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402


class SelfTime(unittest.TestCase):
    def test_span_minus_covered_child_time(self):
        # parent covers 0..100; a child covers 10..30 and 20..50 (overlapping)
        own = stats.self_times([(0, 100)], {"child": [(10, 30), (20, 50)], "parent": [(0, 100)]},
                               ["child", "parent"])
        self.assertEqual(own["child"], 40)
        self.assertEqual(own["parent"], 60)
        self.assertEqual(own[None], 0)

    def test_partition_of_the_window(self):
        spans = {"a": [(5, 15), (40, 60)], "b": [(0, 50)], "c": [(45, 90)]}
        own = stats.self_times([(0, 80), (100, 120)], spans, ["a", "b", "c"])
        self.assertEqual(own["a"], 10 + 20)
        self.assertEqual(own["b"], 50 - 10 - 10)
        self.assertEqual(own["c"], 80 - 60)
        self.assertEqual(own[None], 20)  # the second window holds no span
        self.assertEqual(sum(own.values()), 100)

    def test_spans_clipped_to_windows(self):
        own = stats.self_times([(10, 20)], {"a": [(0, 15)]}, ["a"])
        self.assertEqual(own["a"], 5)
        self.assertEqual(own[None], 5)


class Tail(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, n = stats.tail(list(range(1, 101)))
        self.assertEqual((value, n), (90, 100))
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)

    def test_highest_percentile_moves_with_n(self):
        value, pct, n = stats.tail(list(range(1, 201)))
        self.assertEqual(value, 190)
        self.assertEqual(pct, 95.0)

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 3))


class DriverGap(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # jobs 10..40 and 30..60 overlap: their union is 50 of the 100
        self.assertEqual(stats.driver_gap((0, 100), [(10, 40), (30, 60)]), 50)

    def test_nested_and_clipped_jobs(self):
        self.assertEqual(stats.driver_gap((0, 100), [(10, 90), (20, 30), (95, 200)]), 100 - 80 - 5)

    def test_no_jobs(self):
        self.assertEqual(stats.driver_gap((5, 25), []), 20)


class Intervals(unittest.TestCase):
    def test_subtract(self):
        self.assertEqual(stats.subtract([(0, 10), (20, 30)], [(5, 22), (25, 26)]),
                         [(0, 5), (22, 25), (26, 30)])

    def test_critical_path(self):
        deps = {"a": [], "b": ["a"], "c": ["a"], "d": ["b", "c"]}
        self.assertEqual(stats.critical_path(deps, {"a": 1, "b": 5, "c": 2, "d": 1}), 7)


class EndToEnd(unittest.TestCase):
    @staticmethod
    def unit(start, end, clean):
        return {"start": start, "end": end, "cpu_ns": 2 * (end - start), "clean": clean}

    def test_stolen_units_left_out_of_the_medians(self):
        ns = int(stats.NS)
        raw = {"units": [self.unit(0, 1 * ns, True), self.unit(1 * ns, 9 * ns, False),
                         self.unit(9 * ns, 12 * ns, True)],
               "first_unit_epoch_ms": 1000500, "launched_epoch_s": 990.25}
        e = stats.end_to_end(raw)
        self.assertEqual(e["wall_s"], 2.0)
        self.assertEqual(e["cpu_s"], 4.0)
        self.assertAlmostEqual(e["setup_s"], 10.25)

    def test_every_unit_counts_when_none_is_clean(self):
        units = [self.unit(0, 4, False), self.unit(4, 6, False)]
        self.assertEqual(stats.clean_units(units), units)


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]], stats.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]], stats.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
