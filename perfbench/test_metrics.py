"""Self-tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class TailRule(unittest.TestCase):

    def test_ten_samples_stay_beyond_the_tail(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, beyond = metrics.tail(xs)
        self.assertEqual((value, pct, beyond), (90, 90.0, 10))

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5  # 25 samples
        value, pct, beyond = metrics.tail(xs)
        self.assertEqual(beyond, 10)
        self.assertEqual(pct, 60.0)
        self.assertEqual(value, 3.0)  # 15th smallest

    def test_eleven_samples_give_the_smallest(self):
        self.assertEqual(metrics.tail(list(range(11))), (0, 100.0 / 11, 10))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 100.0, 0))


class SelfTime(unittest.TestCase):

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 4), (3, 6)]), 5)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((0, 10), [(-5, 2), (9, 20)]), 7)

    def test_children_outside_the_span_are_ignored(self):
        self.assertEqual(metrics.self_time((0, 10), [(11, 12), (-3, -1)]), 10)

    def test_no_children(self):
        self.assertEqual(metrics.self_time((2, 5), []), 3)

    def test_union_of_disjoint_and_nested_intervals(self):
        self.assertEqual(metrics.union_length([(0, 2), (5, 6), (0.5, 1), (1.5, 3)]), 4)


class Ratios(unittest.TestCase):

    def test_write_amp(self):
        # ten truncate-loads that each rewrite a file growing by 100 bytes
        written = sum(100 * i for i in range(1, 11))
        self.assertEqual(metrics.write_amp(written, 1000), 5.5)
        self.assertEqual(metrics.write_amp(0, 0), 0.0)

    def test_core_occupancy(self):
        self.assertEqual(metrics.core_occupancy(8.0, 4.0, 4), 0.5)
        self.assertEqual(metrics.core_occupancy(1.0, 0.0, 4), 0.0)


if __name__ == "__main__":
    unittest.main()
