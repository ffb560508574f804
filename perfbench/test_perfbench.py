"""Tests of the benchmark's own logic. Only DigestTest needs the compiled
harness (`python3 perfbench/build.py`); it is skipped without it.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import random
import statistics
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import catalog  # noqa: E402
import datagen  # noqa: E402
import expect  # noqa: E402
import lake  # noqa: E402
from common import median, percentile  # noqa: E402


def row(dep, arr, dwell, dist=1.0, version=0):
    return ("T 1", "ICE", "X", "2024-03-01 00:00:00", dep, arr, dwell, dist, version)


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(percentile([4, 1, 3, 2], 50), 2.5)
        self.assertAlmostEqual(percentile(list(range(1, 101)), 95), 95.05)
        self.assertEqual(percentile([7], 95), 7)
        self.assertEqual(percentile([1, 2, 3], 0), 1)
        self.assertEqual(percentile([1, 2, 3], 100), 3)

    def test_median_agrees_with_statistics(self):
        rng = random.Random(3)
        for n in (1, 2, 5, 10, 11):
            xs = [rng.random() for _ in range(n)]
            self.assertAlmostEqual(median(xs), statistics.median(xs))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            percentile([], 50)


class OlsTest(unittest.TestCase):
    def test_exact_line(self):
        rows = [row(None, 2 * x + 1, None, dist=float(x)) for x in range(10)]
        slope, intercept, r2 = expect.ols_expected(rows, "distance_km", "arrival_delay")
        self.assertAlmostEqual(slope, 2.0)
        self.assertAlmostEqual(intercept, 1.0)
        self.assertAlmostEqual(r2, 1.0)

    def test_nulls_count_as_zero(self):
        # x null -> 0.0 and y null -> 0.0, n counts every row.
        with_nulls = [row(None, 3, None, dist=1.0), row(None, None, None, dist=2.0),
                      row(None, 5, None, dist=4.0)]
        zeros = [row(None, 3, None, dist=1.0), row(None, 0, None, dist=2.0),
                 row(None, 5, None, dist=4.0)]
        self.assertEqual(expect.ols_expected(with_nulls, "distance_km", "arrival_delay"),
                         expect.ols_expected(zeros, "distance_km", "arrival_delay"))
        self.assertEqual(expect.ols_expected([row(None, 1, None), row(2, 3, None)],
                                             "departure_delay", "arrival_delay")[0], 1.0)

    def test_degenerate_inputs(self):
        with self.assertRaises(ValueError):
            expect.ols_expected([], "distance_km", "arrival_delay")
        with self.assertRaises(ValueError):
            expect.ols_expected([row(1, 1, 1, dist=5.0), row(1, 2, 1, dist=5.0)],
                                "distance_km", "arrival_delay")
        self.assertIsNone(expect.ols_expected([row(1, 4, 1, dist=1.0), row(1, 4, 1, dist=2.0)],
                                              "distance_km", "arrival_delay")[2])

    def test_matches_least_squares_on_generated_rows(self):
        import numpy as np
        rows = datagen.train_rows(random.Random(5), 500, 0)
        slope, intercept, r2 = expect.ols_expected(rows, "distance_km", "arrival_delay")
        x = np.array([r[7] for r in rows])
        y = np.array([0.0 if r[5] is None else r[5] for r in rows])
        s, i = np.polyfit(x, y, 1)
        self.assertTrue(expect.rel_close(slope, s, 1e-6))
        self.assertTrue(expect.rel_close(intercept, i, 1e-6))
        self.assertTrue(expect.rel_close(r2, np.corrcoef(x, y)[0, 1] ** 2, 1e-6))

    def test_tolerance_is_relative_1e9(self):
        want = (2.0, -3.0, 0.5)
        self.assertTrue(expect.regression_matches(
            {"slope": 2.0 * (1 + 5e-10), "intercept": -3.0, "r2": 0.5}, want))
        self.assertFalse(expect.regression_matches(
            {"slope": 2.0 * (1 + 5e-9), "intercept": -3.0, "r2": 0.5}, want))
        self.assertFalse(expect.regression_matches({"slope": 2.0, "intercept": -3.0, "r2": None}, want))
        self.assertTrue(expect.regression_matches(
            {"slope": 2.0, "intercept": -3.0, "r2": None}, (2.0, -3.0, None)))


class NullsFirstOrderTest(unittest.TestCase):
    ROWS = [row(3, 1, 0), row(None, 5, 0), row(3, None, 0), row(1, 2, 0), row(3, 1, None)]

    def test_ascending(self):
        self.assertEqual(expect.expected_delays(self.ROWS, desc=False),
                         [(None, 5, 0), (1, 2, 0), (3, None, 0), (3, 1, None), (3, 1, 0)])

    def test_descending_keeps_nulls_first(self):
        self.assertEqual(expect.expected_delays(self.ROWS, desc=True),
                         [(None, 5, 0), (3, None, 0), (3, 1, None), (3, 1, 0), (1, 2, 0)])

    def test_limit(self):
        self.assertEqual(expect.expected_delays(self.ROWS, desc=True, limit=2),
                         [(None, 5, 0), (3, None, 0)])

    def test_order_check(self):
        self.assertTrue(expect.is_sorted_nulls_first([(None,), (None,), (1,), (2,)], desc=False))
        self.assertTrue(expect.is_sorted_nulls_first([(None,), (2,), (1,)], desc=True))
        self.assertFalse(expect.is_sorted_nulls_first([(1,), (None,)], desc=False))
        self.assertFalse(expect.is_sorted_nulls_first([(1,), (None,)], desc=True))
        self.assertFalse(expect.is_sorted_nulls_first([(1,), (2,)], desc=True))

    def test_response_columns(self):
        objs = [{"departure_delay": 1, "arrival_delay": None, "dwell_delay": 4, "x": 0}]
        self.assertEqual(expect.response_delays(objs), [(1, None, 4)])


class StaleReadTest(unittest.TestCase):
    def setUp(self):
        self.log = expect.VersionLog()
        self.log.publish("a", 0, 0.0)
        self.log.publish("a", 1, 5.0)
        self.log.publish("a", 2, 9.0)

    def test_current_version(self):
        self.assertEqual(self.log.current("a", 4.9), 0)
        self.assertEqual(self.log.current("a", 5.0), 1)
        self.assertEqual(self.log.current("a", 100), 2)
        self.assertIsNone(self.log.current("b", 1.0))

    def test_fresh_and_newer_pass(self):
        self.assertIsNone(self.log.check("a", 6.0, {1}))
        self.assertIsNone(self.log.check("a", 6.0, {2}))
        self.assertIsNone(self.log.check("a", 1.0, {0}))

    def test_stale_mixed_and_unknown_fail(self):
        self.assertIn("stale", self.log.check("a", 6.0, {0}))
        self.assertIn("mixed", self.log.check("a", 6.0, {1, 2}))
        self.assertIn("unknown", self.log.check("a", 6.0, {7}))

    def test_out_of_order_publish_rejected(self):
        with self.assertRaises(ValueError):
            self.log.publish("a", 3, 1.0)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_rows(self):
        self.assertEqual(datagen.churn_version(3, 1, 2), datagen.churn_version(3, 1, 2))
        self.assertNotEqual(datagen.churn_version(3, 1, 2), datagen.churn_version(4, 1, 2))

    def test_version_column_and_nulls(self):
        rows = datagen.churn_version(1, 0, 7)
        self.assertTrue(all(r[-1] == 7 for r in rows))
        for c in datagen.DELAY_COLUMNS:
            self.assertTrue(any(r[expect.COL[c]] is None for r in rows), c)


class RequestStreamTest(unittest.TestCase):
    IDS = ["a", "b", "c", "d"]

    def take(self, seed, n):
        stream = lake.request_stream(random.Random(seed), None, self.IDS)
        return [next(stream) for _ in range(n)]

    def test_every_deck_pairs_each_kind_with_each_dataset(self):
        n = len(lake.KINDS) * len(self.IDS)
        reqs = self.take(5, 3 * n)
        for i in range(0, len(reqs), n):
            pairs = sorted((r["kind"], r["ds"]) for r in reqs[i:i + n])
            self.assertEqual(pairs, sorted((k, d) for k in lake.KINDS for d in self.IDS))

    def test_same_seed_same_sequence(self):
        self.assertEqual(self.take(5, 40), self.take(5, 40))
        self.assertNotEqual(self.take(5, 40), self.take(6, 40))


class OracleCompareTest(unittest.TestCase):
    def frames(self):
        import pandas as pd
        a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", None, "z"]})
        return a, a.iloc[[1, 0, 2]].reset_index(drop=True)

    def test_unordered_ignores_row_order(self):
        a, swapped = self.frames()
        self.assertIsNone(catalog.oracle_mismatch(a, swapped))

    def test_ordered_catches_swapped_rows(self):
        a, swapped = self.frames()
        self.assertIsNone(catalog.oracle_mismatch(a, a.copy(), ordered=True))
        self.assertIn("row 0", catalog.oracle_mismatch(a, swapped, ordered=True))

    def test_value_difference(self):
        a, _ = self.frames()
        b = a.copy()
        b.loc[2, "v"] = "y"
        self.assertIn("row 2 col v", catalog.oracle_mismatch(a, b))


@unittest.skipUnless(os.path.exists(os.path.join(build.build_dir(), "harness")),
                     "harness not built")
class DigestTest(unittest.TestCase):
    def digest(self, rows, ordered):
        r = subprocess.run(["java", "-cp", build.classpath(), "perfbench.Harness", "digest",
                            "1" if ordered else "0"], input="\n".join(rows) + "\n",
                           capture_output=True, text=True, timeout=120)
        self.assertEqual(r.returncode, 0, r.stderr)
        return r.stdout.strip()

    def test_swapped_rows(self):
        rows = ["1\ta", "2\tb", "3\tc"]
        swapped = [rows[1], rows[0], rows[2]]
        self.assertNotEqual(self.digest(rows, True), self.digest(swapped, True))
        self.assertEqual(self.digest(rows, False), self.digest(swapped, False))
        self.assertTrue(self.digest(rows, True).startswith("3:"))


class SpecTest(unittest.TestCase):
    """BENCHMARK.json names the same workloads and metrics run.py prints."""

    def test_spec_matches_runner(self):
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to the benchmark")
        import run
        spec = json.load(open(path))
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        self.assertEqual([m["name"] for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([m["name"] for m in spec["per_layer"]], run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
