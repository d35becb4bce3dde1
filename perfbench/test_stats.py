"""Self-tests of the benchmark's metric arithmetic: python3 perfbench/test_stats.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_at_least_ten_samples_beyond(self):
        for n in range(11, 500):
            p = stats.tail_percentile(n)
            beyond = n - (p * n + 99) // 100  # n - ceil(p*n/100)
            self.assertGreaterEqual(beyond, 10, n)
            if p < 99:
                # the next whole percentile would leave fewer than ten beyond
                nxt = n - ((p + 1) * n + 99) // 100
                self.assertLess(nxt, 10, n)

    def test_known_values(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 41))
        self.assertEqual(stats.percentile(xs, 75), 30)
        self.assertEqual(stats.percentile(list(reversed(xs)), 50), 20)


class Geomean(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1e5, 1e3]), 1e4)
        self.assertEqual(stats.geomean([1e5, 0.0]), 0.0)


class SelfTime(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_part(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 40), (90, 120)]), 60)
        self.assertEqual(stats.self_time((0, 100), []), 100)
        self.assertEqual(stats.self_time((0, 100), [(-5, 200)]), 0)

    def test_layer_totals_split_driver_and_cluster(self):
        ops = [{"pass": 0, "name": "q", "start_ms": 0.0, "end_ms": 1000.0, "build_ms": 400.0}]
        job = {"group": "op:0:q", "start_ms": 500, "end_ms": 900, "stages": 2, "tasks": 8,
               "task_ms": 600, "cpu_ns": 10**9, "gc_ms": 10, "shuffle_write_bytes": 5,
               "shuffle_read_bytes": 5, "input_bytes": 7, "output_bytes": 0}
        stray = dict(job, group=None, start_ms=950, end_ms=990)
        check = dict(job, group="check:0:q", start_ms=1100, end_ms=1200)
        plans = [{"start_ms": 100, "plan_ms": 30}, {"start_ms": 1100, "plan_ms": 99}]
        t = stats.layer_totals(ops, [job, stray, check], plans, cores=4)
        self.assertEqual(t["jobs"], 2)  # the check's job is not the op's
        self.assertAlmostEqual(t["driver_s"], (1000 - 400 - 40) / 1000)
        self.assertAlmostEqual(t["slot_idle_s"], 0.44 * 4 - 1.2)
        self.assertAlmostEqual(t["plan_s"], 0.03)
        self.assertAlmostEqual(t["build_s"], 0.4)


class Spread(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([10.0] * 10), 0.0)
        vals = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        self.assertAlmostEqual(stats.spread(vals), (8.25 - 2.75) / 5.5)


if __name__ == "__main__":
    unittest.main()
