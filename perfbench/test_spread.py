"""Tests for the quartile helper: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import unittest

from spread import seeds, spread


class SpreadTest(unittest.TestCase):
    def test_quartiles_follow_statistics_quantiles(self):
        # quantiles(1..10, n=4) = [2.75, 5.5, 8.25]; (8.25 - 2.75) / 5.5 = 1
        self.assertAlmostEqual(spread(list(range(1, 11))), 1.0)

    def test_order_does_not_matter(self):
        self.assertAlmostEqual(spread([3.0, 1.0, 2.0, 5.0, 4.0]), spread([1.0, 2.0, 3.0, 4.0, 5.0]))

    def test_constant_values_have_no_spread(self):
        self.assertEqual(spread([2.0] * 10), 0.0)

    def test_seed_ranges(self):
        self.assertEqual(seeds("3-5"), [3, 4, 5])
        self.assertEqual(seeds("7"), [7])


if __name__ == "__main__":
    unittest.main()
