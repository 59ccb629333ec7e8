"""Unit tests of the benchmark's arithmetic.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import check
import stats


class OrderStatistics(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        values = [10, 1, 7, 3, 9, 4, 8, 2, 6, 5]
        self.assertEqual(stats.quartiles(values), tuple(statistics.quantiles(values, n=4)))
        q1, q2, q3 = stats.quartiles(values)
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))

    def test_iqr_share(self):
        self.assertAlmostEqual(stats.iqr_share([10, 1, 7, 3, 9, 4, 8, 2, 6, 5]), 5.5 / 5.5)
        self.assertEqual(stats.iqr_share([2.0] * 10), 0.0)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(5, 6), (0, 10)]), 10)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(2, 2), (3, 1)]), 0)

    def test_self_time_subtracts_union_of_children(self):
        # children overlap each other: counted once
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 6)]), 5)
        # a child running past the parent is clipped to the parent
        self.assertEqual(stats.self_time((0, 10), [(8, 15)]), 8)
        self.assertEqual(stats.self_time((0, 10), [(-5, -1)]), 10)
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_driver_gap(self):
        # two stages in parallel, one later; gaps 0-1, 4-6 and 8-10
        stages = [(1, 3), (2, 4), (6, 8)]
        self.assertEqual(stats.driver_gap((0, 10), stages), 1 + 2 + 2)
        self.assertEqual(stats.driver_gap((0, 10), [(0, 10)]), 0)


class HostSampler(unittest.TestCase):
    STAT = ("cpu  100 20 30 400 50 6 7 8 90 10\n"
            "cpu0 50 10 15 200 25 3 3 4 45 5\n"
            "intr 1 2 3\n")

    def test_guest_fields_are_not_counted(self):
        busy, total = stats.parse_proc_stat(self.STAT)
        # user+nice+system+irq+softirq+steal; guest (90), guest_nice (10) excluded
        self.assertEqual(busy, 100 + 20 + 30 + 6 + 7 + 8)
        self.assertEqual(total, 100 + 20 + 30 + 400 + 50 + 6 + 7 + 8)

    def test_short_line_from_old_kernels(self):
        self.assertEqual(stats.parse_proc_stat("cpu 1 2 3 4\n"), (6, 10))

    def test_ext_frac_subtracts_own_use(self):
        self.assertAlmostEqual(stats.ext_cpu_frac((100, 1000), (600, 2000), 400), 0.1)
        self.assertEqual(stats.ext_cpu_frac((100, 1000), (600, 2000), 900), 0.0)
        self.assertEqual(stats.ext_cpu_frac((100, 1000), (100, 1000), 0), 0.0)

    def test_missing_aggregate_line(self):
        with self.assertRaises(ValueError):
            stats.parse_proc_stat("cpu0 1 2 3 4\n")


class GraphCheck(unittest.TestCase):
    def test_triangle_with_tail_and_separate_pair(self):
        # component {1,2,3,4}: triangle 1-2-3 plus tail 3-4; component {7,9}
        rows = check.graph_triangles([(1, 2), (2, 3), (1, 3), (3, 4), (9, 7)])
        # degrees 2,2,3,1 -> wedges 1+1+3+0 = 5; 3000 * 1 div 5 = 600
        self.assertEqual(rows, [(1, 4, 4, 1, 5, 600), (7, 2, 1, 0, 0, None)])

    def test_clique_has_full_transitivity(self):
        k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        self.assertEqual(check.graph_triangles(k4), [(0, 4, 6, 4, 12, 1000)])


if __name__ == "__main__":
    unittest.main()
