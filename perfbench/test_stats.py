"""Specs for stats.py. Run: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import unittest

import stats


class MedianSpec(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailSpec(unittest.TestCase):
    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))

    def test_eleven_samples_keep_ten_beyond(self):
        p, v, n = stats.tail(list(range(1, 12)))
        self.assertEqual((p, v, n), (9, 1, 11))
        self.assertEqual(sum(x > v for x in range(1, 12)), 10)

    def test_hundred_samples_give_p90(self):
        p, v, n = stats.tail(list(range(1, 101)))
        self.assertEqual((p, v, n), (90, 90, 100))

    def test_ten_beyond_always_holds(self):
        for n in range(11, 400):
            xs = list(range(n))
            p, v, _ = stats.tail(xs)
            self.assertGreaterEqual(sum(x > v for x in xs), 10, n)
            # one percentile higher would leave fewer than ten beyond
            self.assertLess(n - (p + 1) * n / 100, 10, n)


class QuietestSpec(unittest.TestCase):
    def test_keeps_the_smallest_in_original_order(self):
        self.assertEqual(stats.quietest([0.05, 0.0, 0.03, 0.01, 0.2], 3), [1, 2, 3])

    def test_ties_keep_the_earlier(self):
        self.assertEqual(stats.quietest([0.0, 0.0, 0.0], 2), [0, 1])

    def test_keep_all(self):
        self.assertEqual(stats.quietest([0.3, 0.1], 5), [0, 1])


class GeomeanSpec(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 4]), 2.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)

    def test_rejects_zero(self):
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])


class UnionSpec(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipping(self):
        self.assertEqual(stats.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(stats.union_length([(11, 12)], 0, 10), 0)

    def test_driver_gap_is_wall_minus_union(self):
        query = (0.0, 10.0)
        jobs = [(1.0, 4.0), (3.0, 5.0), (7.0, 8.0)]
        self.assertEqual(stats.self_time(query, jobs), 10.0 - 5.0)


class SelfTimeSpec(unittest.TestCase):
    def test_children_cover_the_span(self):
        self.assertEqual(stats.self_time((0, 6), [(0, 2), (2, 5), (5, 6)]), 0)

    def test_children_outside_the_span_do_not_count(self):
        self.assertEqual(stats.self_time((0, 6), [(-3, 1), (5, 9)]), 4)

    def test_no_children(self):
        self.assertEqual(stats.self_time((2, 7), []), 5)


if __name__ == "__main__":
    unittest.main()
