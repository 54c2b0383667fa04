"""The analytic_batch correctness check must catch a wrong result.

    python3 -m pytest perfbench/tests

Builds a one-table fixture and a one-query dump in a temporary
directory, then runs run.py's oracle check (tools/verify_local.py
unchanged) on a correct and on a corrupted result.
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

QUERY = "q_names"
ORACLE = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
REGION = pa.table({"r_regionkey": pa.array([0, 1, 2], pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA"]})


def dump(work, table):
    data = os.path.join(work, "data_r2")
    out = os.path.join(work, "verify", QUERY)
    os.makedirs(data)
    os.makedirs(out)
    pq.write_table(REGION, os.path.join(data, "region.parquet"))
    pq.write_table(table, os.path.join(out, "part-0.parquet"))
    with open(os.path.join(work, "verify", "oracle_sql.json"), "w") as f:
        json.dump({QUERY: ORACLE}, f)


class OracleCheckTest(unittest.TestCase):
    def test_matching_result_passes(self):
        with tempfile.TemporaryDirectory() as work:
            dump(work, REGION)
            self.assertEqual(run.oracle_check(work), [])

    def test_wrong_value_fails(self):
        with tempfile.TemporaryDirectory() as work:
            dump(work, REGION.set_column(1, "r_name", pa.array(["AFRICA", "AMERICA", "ASIAX"])))
            bad = run.oracle_check(work)
            self.assertEqual(len(bad), 1)
            self.assertIn("values differ", bad[0])

    def test_missing_row_fails(self):
        with tempfile.TemporaryDirectory() as work:
            dump(work, REGION.slice(0, 2))
            bad = run.oracle_check(work)
            self.assertEqual(len(bad), 1)
            self.assertIn("row count", bad[0])


if __name__ == "__main__":
    unittest.main()
