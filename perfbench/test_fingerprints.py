#!/usr/bin/env python3
"""Tests of the DuckDB-side fingerprint. Run: python3 perfbench/test_fingerprints.py"""
import datetime
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import fingerprints as f  # noqa: E402

ROWS = [(-0.0, "x"), (float("nan"), None), (1.5, "y\nz")]


class FingerprintTest(unittest.TestCase):
    def test_golden_value_shared_with_scala(self):
        self.assertEqual(f.fingerprint(["b", "a"], ROWS), (
            3, "84d53e54c3c986c5b21329fce6e864624e4ca62fe0e26ec386fe0ed2f68c5fe4"))

    def test_signed_zero_nan_and_order(self):
        swapped = [("y\nz", 1.5), (None, float("-nan")), ("x", 0.0)]
        self.assertEqual(f.fingerprint(["a", "b"], swapped), f.fingerprint(["b", "a"], ROWS))

    def test_typed_values(self):
        self.assertEqual(f.value(datetime.date(2022, 12, 25)), "2022-12-25")
        self.assertEqual(f.value(datetime.datetime(1970, 1, 1, 0, 0, 1, 2)), "1000002")
        self.assertEqual(f.value(decimal.Decimal("1.500")), "1.5")
        self.assertEqual(f.value([1, None]), "[1,\\N]")
        self.assertEqual(f.value(True), "true")


if __name__ == "__main__":
    unittest.main()
