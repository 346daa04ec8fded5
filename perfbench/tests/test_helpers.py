"""Tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import datagen  # noqa: E402
import run      # noqa: E402
import stats    # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # 100 samples: p90 leaves exactly 10 above it, p95 only 5
        pct, value, n = stats.tail_percentile(range(1, 101))
        self.assertEqual((pct, value, n), (90.0, 90, 100))

    def test_thousand_samples_reach_p99(self):
        pct, value, _ = stats.tail_percentile(range(1, 1001))
        self.assertEqual((pct, value), (99.0, 990))

    def test_few_samples_fall_back_to_the_median(self):
        pct, value, n = stats.tail_percentile([5.0, 1.0, 3.0])
        self.assertEqual((pct, value, n), (50.0, 3.0, 3))

    def test_nineteen_samples_cannot_support_p50(self):
        # p50 of 19 is rank 10, leaving 9 beyond: below the rule, still
        # reported as the median because nothing higher qualifies
        pct, value, _ = stats.tail_percentile(range(1, 20))
        self.assertEqual((pct, value), (50.0, 10))

    def test_order_of_input_does_not_matter(self):
        xs = list(range(200))
        self.assertEqual(stats.tail_percentile(xs), stats.tail_percentile(xs[::-1]))


class BacklogGrowth(unittest.TestCase):
    def test_flat_backlog_does_not_grow(self):
        t = np.arange(10.0)
        self.assertFalse(stats.backlog_grows(t, [100, 120, 90, 110, 100, 95, 105, 100, 98, 102],
                                             rate=5000))

    def test_backlog_rising_with_input_grows(self):
        t = np.arange(10.0)
        self.assertTrue(stats.backlog_grows(t, 3000 * t, rate=5000))

    def test_slow_drift_below_tolerance_does_not_grow(self):
        t = np.arange(10.0)
        self.assertFalse(stats.backlog_grows(t, 400 * t, rate=5000))

    def test_two_points_cannot_show_growth(self):
        self.assertFalse(stats.backlog_grows([0.0, 1.0], [0, 10 ** 6], rate=10))


class OracleDiff(unittest.TestCase):
    def test_equal_frames_in_any_column_order(self):
        a = pd.DataFrame({"b": [1.5, 2.5], "a": ["x", "y"]})
        b = pd.DataFrame({"a": ["x", "y"], "b": [1.5, 2.5]})
        self.assertIsNone(stats.oracle_diff(a, b))

    def test_floats_must_be_bit_exact(self):
        a = pd.DataFrame({"v": [0.1 + 0.2]})
        b = pd.DataFrame({"v": [0.3]})
        self.assertIn("v: 1 rows differ", stats.oracle_diff(a, b))

    def test_int_against_float_is_a_type_mismatch(self):
        a = pd.DataFrame({"n": np.array([1, 2], dtype=np.int64)})
        b = pd.DataFrame({"n": [1.0, 2.0]})
        self.assertIn("dtype", stats.oracle_diff(a, b))

    def test_row_order_counts(self):
        a = pd.DataFrame({"k": ["a", "b"]})
        self.assertIsNotNone(stats.oracle_diff(a, a.iloc[::-1]))

    def test_row_and_column_counts(self):
        a = pd.DataFrame({"k": [1, 2]})
        self.assertIn("rows", stats.oracle_diff(a, a.head(1)))
        self.assertIn("columns", stats.oracle_diff(a, a.assign(j=1)))

    def test_nulls_match_nulls(self):
        a = pd.DataFrame({"v": [None, 1.0]})
        self.assertIsNone(stats.oracle_diff(a, a.copy()))


class QueryOrder(unittest.TestCase):
    Q = ["a", "b", "c", "d", "e", "f"]

    def test_same_seed_same_orders(self):
        self.assertEqual(stats.query_orders(self.Q, 7, 5), stats.query_orders(self.Q, 7, 5))

    def test_each_pass_is_a_permutation(self):
        for order in stats.query_orders(self.Q, 3, 8):
            self.assertEqual(sorted(order), self.Q)

    def test_seed_changes_the_orders(self):
        self.assertNotEqual(stats.query_orders(self.Q, 1, 8), stats.query_orders(self.Q, 2, 8))

    def test_more_passes_keep_earlier_ones(self):
        self.assertEqual(stats.query_orders(self.Q, 4, 3), stats.query_orders(self.Q, 4, 9)[:3])


class StreamEvents(unittest.TestCase):
    SPAN_S = 30 * 86400

    def events(self, n=500):
        ts = np.sort(np.random.default_rng(0).integers(0, self.SPAN_S * 1_000_000, n))
        return {"event_id": np.arange(n), "ts_us": ts,
                "user_id": np.arange(n) % 7, "event_type": np.array(["click"] * n),
                "value": np.ones(n), "props": np.array(['{"k": 1}'] * n)}

    def test_same_seed_same_events(self):
        a = datagen.stream_events(self.events(), 5, 1200)
        b = datagen.stream_events(self.events(), 5, 1200)
        for k in a:
            np.testing.assert_array_equal(a[k], b[k])

    def test_seed_changes_the_disorder(self):
        a = datagen.stream_events(self.events(), 5, 1200)
        b = datagen.stream_events(self.events(), 6, 1200)
        self.assertFalse(np.array_equal(a["event_id"], b["event_id"]))

    def test_loops_shift_ids_and_time(self):
        ev = self.events()
        out = datagen.stream_events(ev, 1, 1200)
        ids = np.sort(out["event_id"])
        np.testing.assert_array_equal(ids, np.arange(1200))   # unique, loop-shifted
        self.assertGreater(out["ts_us"].max(), 2 * ev["ts_us"][-1])

    def test_disorder_stays_inside_the_watermark(self):
        out = datagen.stream_events(self.events(5000), 9, 20000)
        ts = out["ts_us"]
        lateness = np.maximum.accumulate(ts) - ts
        self.assertGreater((lateness > 0).mean(), 0.01)     # some events are late
        self.assertLess(lateness.max(), datagen.LATE_MAX_S * 1_000_000)
        self.assertLess(datagen.LATE_MAX_S, datagen.WATERMARK_S)


class Schedule(unittest.TestCase):
    def test_due_times_follow_the_rates(self):
        segs = [(10.0, 2.0), (100.0, 1.0)]
        due = stats.scheduled_s(np.arange(120), segs)
        self.assertAlmostEqual(due[0], 0.1)
        self.assertAlmostEqual(due[19], 2.0)
        self.assertAlmostEqual(due[20], 2.01)
        self.assertAlmostEqual(due[119], 3.0)


class StreamView(unittest.TestCase):
    @staticmethod
    def stream(batch_end_offsets):
        # two chunks of 10 events at offsets 0 and 1, sent 0.1 s apart
        return {"segments": [{"rate": 100.0, "seconds": 0.2}], "gen_start_ns": 0,
                "chunks": [[0, 0, 10, 100_000_000], [1, 10, 20, 200_000_000]],
                "batches": [{"end_offset": o, "end_ns": (k + 1) * 500_000_000}
                            for k, o in enumerate(batch_end_offsets)]}

    def test_each_chunk_is_done_by_the_batch_that_consumed_it(self):
        v = run.stream_view(self.stream([0, 1]))
        np.testing.assert_allclose(v["done"], [0.5] * 10 + [1.0] * 10)

    def test_unrecorded_batches_fail_the_run(self):
        with self.assertRaises(run.BenchError):
            run.stream_view(self.stream([0]))


if __name__ == "__main__":
    unittest.main()
