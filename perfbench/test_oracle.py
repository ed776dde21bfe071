"""Checks that oracle.py encodes values as Checksum.scala does.

    python3 -m unittest perfbench/test_oracle.py

The literals mirror the Scala expectations in BenchSpec.
"""
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import oracle  # noqa: E402


class CanonTest(unittest.TestCase):
    def test_floats_match_the_scala_encoding(self):
        self.assertEqual(oracle.canon_float(0.1), "1e-1")
        self.assertEqual(oracle.canon_float(-7.25), "-725e-2")
        self.assertEqual(oracle.canon_float(-0.0), "0e0")
        self.assertEqual(oracle.canon_float(1.0 / 3), "3333333333e-10")
        self.assertEqual(oracle.canon_float(float("nan")), "nan")
        self.assertEqual(oracle.canon_float(float("-inf")), "-inf")
        self.assertEqual(oracle.canon_decimal(decimal.Decimal("12.3400")), "1234e-2")

    def test_checksum_is_order_independent_and_catches_a_changed_row(self):
        names = ["id", "s"]
        rows = [(1, "a"), (2, "b"), (3, "ü")]
        a = oracle.checksum(names, rows)
        self.assertEqual(oracle.checksum(names, rows[::-1]), a)
        self.assertEqual(oracle.checksum(["s", "id"], [(s, i) for i, s in rows]), a)
        self.assertNotEqual(oracle.checksum(names, [(1, "a"), (2, "c"), (3, "ü")]), a)


if __name__ == "__main__":
    unittest.main()
