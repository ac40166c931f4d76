"""Tests for the benchmark's arithmetic: python3 -m unittest perfbench/test_stats.py"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import stats  # noqa: E402


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "op": 0, "name": name,
            "start_ns": start, "end_ns": end}


class MedianPercentile(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_median_of_nothing_raises(self):
        with self.assertRaises(ValueError):
            stats.median([])

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.percentile(range(99), 90))
        self.assertEqual(stats.percentile(range(1, 101), 90), 90)

    def test_p50_needs_only_ten_beyond(self):
        self.assertIsNone(stats.percentile(range(19), 50))
        self.assertEqual(stats.percentile(range(1, 21), 50), 10)


class RunFigures(unittest.TestCase):
    def op(self, name, rnd, ms):
        return {"name": name, "round": rnd, "dur_ms": ms}

    def test_round_rate_uses_the_median_round(self):
        ops = [self.op("a", r, ms) for r, ms in ((0, 500), (1, 500), (2, 5000))]
        ops += [self.op("b", r, 500) for r in range(3)]
        # rounds take 1.0, 1.0 and 5.5 s of operation time, 2 ops each
        self.assertAlmostEqual(stats.round_rate(ops), 2.0)

    def test_gmean_of_medians(self):
        ops = [self.op("a", 0, 10), self.op("a", 1, 10), self.op("a", 2, 99),
               self.op("b", 0, 1000), self.op("b", 1, 1000)]
        self.assertAlmostEqual(stats.gmean_of_medians(ops), 100.0)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_times([span(0, -1, 0, 10)]), {0: 10})

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 0, 30, 70)]
        self.assertEqual(stats.self_times(spans)[0], 40)

    def test_children_clipped_to_parent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 150)]
        self.assertEqual(stats.self_times(spans)[0], 90)
        self.assertEqual(stats.self_times(spans)[1], 60)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span(0, -1, 0, 100, "op"), span(1, 0, 0, 60, "execute"),
                 span(2, 1, 10, 30, "job"), span(3, 1, 20, 50, "job")]
        by_name = stats.self_time_by_name(spans)
        self.assertEqual(by_name, {"op": 40, "execute": 20, "job": 50})


class Accounting(unittest.TestCase):
    def test_raised_and_check_failures_both_count(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True, "check_ok": False},
               {"ok": True, "check_ok": True}]
        self.assertEqual(stats.accounting(ops), (4, 2))

    def test_failed_share_is_exact_over_whole_rounds(self):
        one_round = [{"ok": True}] * 9 + [{"ok": False}]
        for rounds in (1, 3, 7):
            attempted, failed = stats.accounting(one_round * rounds)
            self.assertEqual(failed * 10, attempted)


class MetricLists(unittest.TestCase):
    def test_benchmark_json_names_what_run_py_prints(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]),
                         sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
