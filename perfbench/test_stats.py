#!/usr/bin/env python3
"""Tests of the benchmark's own statistics and result summary.

    python3 perfbench/test_stats.py
"""
import math
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402
import stats  # noqa: E402


def ops(values, kind="prepare", failed=()):
    return [{"kind": kind, "s": v, "cpu_s": v, "ok": i not in failed}
            for i, v in enumerate(values)]


class TailTest(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        xs = [float(i) for i in range(1, 101)]
        pct, value, n = stats.tail(xs)
        self.assertEqual((pct, value, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_highest_such_percentile_for_other_sizes(self):
        for n in (11, 20, 37, 250):
            xs = list(range(n))
            pct, value, count = stats.tail(xs)
            self.assertEqual(count, n)
            self.assertEqual(sum(1 for x in xs if x > value), 10)
            # one step higher would leave fewer than ten beyond it
            self.assertEqual(sum(1 for x in xs if x > value + 1), 9)
            self.assertEqual(pct, math.floor(100 * (n - 10) / n))

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail([1.0] * 10))
        self.assertIsNotNone(stats.tail([1.0] * 11))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class FailureTest(unittest.TestCase):
    def test_failed_ops_count_against_attempted(self):
        self.assertEqual(stats.fail_ratio(ops([1.0] * 8, failed={2, 5})), 0.25)
        self.assertEqual(stats.fail_ratio(ops([1.0] * 4)), 0.0)

    def test_failed_op_misses_every_latency_limit(self):
        lat = stats.latencies(ops([1.0] * 20, failed={0}))
        self.assertEqual(max(lat), math.inf)
        # the failed op sits beyond the tail percentile, whatever it took
        pct, value, n = stats.tail(lat)
        self.assertEqual((value, n), (1.0, 20))
        self.assertEqual(stats.median(stats.latencies(ops([1.0, 2.0, 3.0], failed={0, 1}))),
                         math.inf)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.fail_ratio([])


class MedianTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)


class SummaryTest(unittest.TestCase):
    def raw(self, workload, op_list, checks=()):
        return {"workload": workload, "session_s": 4.0, "warmup_s": 2.0,
                "fixture_s": [9.0, 1.0, 2.0], "peak_rss_mb": 1500.0,
                "ops": op_list, "checks": list(checks), "layers": {},
                "sizes": {"docs": 100}}

    def test_end_to_end_metrics_and_counts(self):
        s = run.summarize(self.raw("corpus_prepare", ops([3.0, 1.0, 2.0])), 0)
        self.assertTrue(s["correct"])
        self.assertEqual((s["attempted"], s["failed"]), (3, 0))
        m = s["metrics"]
        self.assertEqual(set(m), {x["name"] for x in run.spec()["end_to_end"]})
        self.assertEqual(m["setup_s"]["value"], 4.0 + 2.0 + 2.0)  # median fixture
        self.assertEqual(m["op_p50_s"], {"value": 2.0, "unit": "s"})

    def test_failed_op_or_check_makes_the_run_incorrect(self):
        s = run.summarize(self.raw("corpus_prepare", ops([1.0, 1.0, 1.0], failed={1})), 0)
        self.assertFalse(s["correct"])
        self.assertEqual((s["attempted"], s["failed"]), (3, 1))
        bad = self.raw("corpus_prepare", ops([1.0]),
                       checks=[{"name": "x", "ok": False, "detail": "d"}])
        self.assertFalse(run.summarize(bad, 0)["correct"])

    def test_every_value_is_a_finite_number(self):
        s = run.summarize(self.raw("corpus_prepare", ops([1.0, 1.0], failed={0, 1})), 0)
        for v in s["metrics"].values():
            self.assertTrue(math.isfinite(v["value"]))

    def test_reads_are_grouped_into_rounds_of_four(self):
        reads = [dict(o, kind=k) for o, k in zip(
            ops([1.0] * 10), ["read.a", "read.b", "read.c", "read.d"] * 3)]
        rounds = run.main_ops(self.raw("warehouse_reads", reads))
        self.assertEqual([r["s"] for r in rounds], [4.0, 4.0])


if __name__ == "__main__":
    unittest.main()
