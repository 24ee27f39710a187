"""Tests of the benchmark's own Python logic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402
import run  # noqa: E402


class VerdictTest(unittest.TestCase):
    def test_errors_and_oracle_mismatches_count_as_failed(self):
        r = {"ops": [
            {"lane": "a", "error": None},
            {"lane": "a", "error": "threw"},
            {"lane": "b", "error": None},
            {"lane": "b", "error": None},
            {"lane": "c", "error": None}]}
        self.assertEqual(run.verdict(r, {}), (5, 1))
        # Every operation of a lane the oracle rejects is failed.
        self.assertEqual(run.verdict(r, {"b": "oracle mismatch"}), (5, 3))


class CompareTest(unittest.TestCase):
    def test_column_order_row_order_and_numeric_types_do_not_matter(self):
        got = (["b", "a"], [[2.0, "x"], [1.0, "y"]])
        want = (["a", "b"], [("y", 1), ("x", 2)])
        self.assertIsNone(oracle.compare(*got, *want))

    def test_value_and_shape_differences_are_reported(self):
        self.assertIn("row 0", oracle.compare(["a"], [[1.0]], ["a"], [(1.5,)]))
        self.assertIn("rows", oracle.compare(["a"], [[1.0]], ["a"], []))
        self.assertIn("columns", oracle.compare(["a"], [[1.0]], ["b"], [(1.0,)]))

    def test_timestamps_match_the_engine_form(self):
        import datetime
        ts = datetime.datetime(2024, 1, 1, 0, 0, 7, 179575)
        self.assertEqual(oracle.canon(ts), "2024-01-01 00:00:07.179575")
        self.assertEqual(oracle.canon(datetime.datetime(1995, 1, 2)), "1995-01-02 00:00:00")


class DatagenTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        import tempfile
        import datagen
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            datagen.generate(a, 3, 0.001)
            datagen.generate(b, 3, 0.001)
            for t in oracle.TABLES:
                self.assertTrue(pq.read_table(f"{a}/{t}.parquet").equals(pq.read_table(f"{b}/{t}.parquet")), t)


if __name__ == "__main__":
    unittest.main()
