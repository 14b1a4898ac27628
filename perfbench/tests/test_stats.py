import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lib import metrics, stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_p90_when_ten_samples_lie_beyond_it(self):
        xs = list(range(1, 101))  # 100 samples: p90 has 10 above it
        self.assertEqual(stats.tail(xs), (90, 0.9, 100))

    def test_falls_back_to_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 41))  # p90 would leave 4 above; rank 30 leaves 10
        v, pct, n = stats.tail(xs)
        self.assertEqual((v, n), (30, 40))
        self.assertAlmostEqual(pct, 0.75)
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_too_few_samples_use_the_median(self):
        self.assertEqual(stats.tail([3, 1, 2]), (2, 0.5, 3))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class PassAggregation(unittest.TestCase):
    def test_cold_is_first_warm_is_median_of_the_rest(self):
        p = stats.passes([9.0, 3.0, 1.0, 2.0])
        self.assertEqual((p["cold"], p["warm"], p["warm_n"]), (9.0, 2.0, 3))

    def test_single_pass(self):
        self.assertEqual(stats.passes([4.0])["warm"], 4.0)

    def test_end_to_end_skips_first_warm_pass_and_traced_passes(self):
        def op(w):
            return {"name": "q", "wall_s": w}
        res = {"setup_s": 5.0, "passes": [
            {"idx": 0, "traced": False, "ops_s": 8.0, "ops": [op(8.0)]},
            {"idx": 1, "traced": False, "ops_s": 2.0, "ops": [op(2.0)]},
            {"idx": 2, "traced": True, "ops_s": 9.0, "ops": [op(9.0)]},
            {"idx": 3, "traced": False, "ops_s": 4.0, "ops": [op(4.0)]},
            {"idx": 4, "traced": False, "ops_s": 6.0, "ops": [op(6.0)]}]}
        m, t = metrics.end_to_end(res)
        self.assertEqual(m["setup_s"]["value"], 5.0)
        self.assertEqual(m["cold_pass_s"]["value"], 8.0)
        self.assertEqual(m["warm_pass_s"]["value"], 5.0)
        self.assertEqual(m["query_p50_s"]["value"], 5.0)
        self.assertEqual(t["samples"], 2)

    def test_warm_pass_count_follows_seconds_not_the_clock(self):
        self.assertEqual(stats.warm_passes(15, 3.5, False), 4)
        self.assertEqual(stats.warm_passes(15, 6.5, False), 3)  # floor
        self.assertEqual(stats.warm_passes(60, 6.0, False), 10)
        self.assertEqual(stats.warm_passes(15, 3.5, True), 5)
        self.assertEqual(stats.warm_passes(60, 6.0, True), 10)

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([10.0] * 10), 0.0)
        self.assertGreater(stats.spread([1.0, 2.0, 3.0, 4.0]), 0.5)


if __name__ == "__main__":
    unittest.main()
