import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(19)))[0], None)     # p50 leaves 9.5 beyond
        self.assertEqual(stats.tail(list(range(20)))[0], 50.0)
        self.assertEqual(stats.tail(list(range(99)))[0], 50.0)     # p90 leaves 9.9 beyond
        self.assertEqual(stats.tail(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail(list(range(999)))[0], 90.0)
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail(list(range(10000)))[0], 99.9)

    def test_reports_the_sample_count(self):
        p, v, n = stats.tail([float(x) for x in range(1, 101)])
        self.assertEqual((p, n), (90.0, 100))
        self.assertAlmostEqual(v, 90.1)

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (None, 3.0, 3))

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1.0, 2.0, 3.0, 4.0], 50.0), 2.5)
        self.assertEqual(stats.percentile([7.0], 90.0), 7.0)


if __name__ == "__main__":
    unittest.main()
