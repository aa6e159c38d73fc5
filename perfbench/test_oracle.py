"""Tests of run.py's elq_queries oracle check.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import pandas as pd

import run


def write(df, d):
    os.makedirs(d)
    df.to_parquet(os.path.join(d, "part-0.parquet"))


class OracleCheck(unittest.TestCase):
    def test_accepts_the_oracle_answer_and_rejects_a_wrong_one(self):
        with tempfile.TemporaryDirectory() as d:
            write(pd.DataFrame({"x": [1, 2, 3], "y": [0.5, 0.25, 0.125]}), f"{d}/t")
            # row and column order do not matter; a value does
            write(pd.DataFrame({"y": [0.125, 0.5, 0.25], "x": [3, 1, 2]}), f"{d}/good/q")
            write(pd.DataFrame({"x": [1, 2, 3], "y": [0.5, 0.25, 0.126]}), f"{d}/value/q")
            write(pd.DataFrame({"x": [1, 2]}), f"{d}/columns/q")
            write(pd.DataFrame({"x": [1, 2], "y": [0.5, 0.25]}), f"{d}/rows/q")
            manifest = {"tables": {"t": f"{d}/t"}, "sql": {"q": "SELECT x, y FROM t"},
                        "outputs": {k: f"{d}/{k}" for k in ("good", "value", "columns", "rows")}}
            with open(f"{d}/oracle.json", "w") as f:
                json.dump(manifest, f)
            out = run.oracle_check(f"{d}/oracle.json")
        self.assertEqual(out["good/q"], "ok (3 rows)")
        self.assertEqual(out["value/q"], "values differ")
        self.assertTrue(out["columns/q"].startswith("columns"))
        self.assertEqual(out["rows/q"], "rows 2 != 3")

    def test_a_failing_oracle_query_is_a_failure(self):
        with tempfile.TemporaryDirectory() as d:
            write(pd.DataFrame({"x": [1]}), f"{d}/t")
            write(pd.DataFrame({"x": [1]}), f"{d}/out/q")
            with open(f"{d}/oracle.json", "w") as f:
                json.dump({"tables": {"t": f"{d}/t"}, "sql": {"q": "SELECT nope FROM t"},
                           "outputs": {"out": f"{d}/out"}}, f)
            out = run.oracle_check(f"{d}/oracle.json")
        self.assertTrue(out["q"].startswith("oracle SQL failed"))


if __name__ == "__main__":
    unittest.main()
