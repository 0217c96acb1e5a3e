"""Tests of the benchmark's checker: it must reject a result with one
changed cell, one dropped row or one drifted type, and accept an exact
copy.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402

ORACLE = {"nation_by_region":
          "SELECT n_regionkey, count(*) AS n, sum(n_nationkey) AS s "
          "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"}


def nation():
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def spark_like_result():
    """What a correct engine writes for ORACLE (DuckDB's own types)."""
    return pa.table({"n_regionkey": pa.array(range(5), pa.int32()),
                     "n": pa.array([5] * 5, pa.int64()),
                     "s": pa.array([sum(range(r, 25, 5)) for r in range(5)],
                                   pa.decimal128(38, 0))})


class CheckerTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(os.path.dirname(HERE), ".bench_build"), exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=os.path.join(os.path.dirname(HERE), ".bench_build"))
        self.data = os.path.join(self.dir, "data")
        os.makedirs(self.data)
        for t in check.TABLES:
            pq.write_table(nation() if t == "nation" else pa.table({"x": [1]}),
                           f"{self.data}/{t}.parquet")
        self.results = os.path.join(self.dir, "results")

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write(self, table):
        d = os.path.join(self.results, "nation_by_region")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        # two files, as a multi-task write leaves them
        pq.write_table(table.slice(0, 2), f"{d}/part-0.parquet")
        pq.write_table(table.slice(2), f"{d}/part-1.parquet")

    def failures(self):
        return check.check_keys(self.data, self.results, ORACLE)

    def test_exact_result_passes(self):
        self.write(spark_like_result())
        self.assertEqual(self.failures(), [])

    def test_row_order_does_not_matter(self):
        t = spark_like_result()
        self.write(t.take([4, 3, 2, 1, 0]))
        self.assertEqual(self.failures(), [])

    def test_one_changed_cell_fails(self):
        t = spark_like_result()
        n = t.column("n").to_pylist()
        n[3] += 1
        self.write(t.set_column(1, "n", pa.array(n, pa.int64())))
        f = self.failures()
        self.assertEqual(len(f), 1)
        self.assertTrue(f[0].startswith("nation_by_region: row"), f)

    def test_one_dropped_row_fails(self):
        self.write(spark_like_result().slice(0, 4))
        self.assertEqual(self.failures(), ["nation_by_region: 4 rows, expected 5"])

    def test_type_drift_fails(self):
        t = spark_like_result()
        self.write(t.set_column(1, "n", pa.array([5] * 5, pa.int32())))
        self.assertIn("types differ", self.failures()[0])



def orders():
    return pa.table({"o_orderkey": pa.array(range(6), pa.int64()),
                     "o_orderstatus": ["F", "O", "P", "F", "O", "P"],
                     "o_totalprice": [1001.91, 2.5, 3.25, 4.0, 5.75, 6.5],
                     "o_orderdate": pa.array([d * 86_400_000_000 for d in range(6)],
                                             pa.timestamp("us"))})


class EtlCopyTest(unittest.TestCase):
    """Format conversion, compression and compaction outputs are compared
    cell for cell with their input."""

    def setUp(self):
        os.makedirs(os.path.join(os.path.dirname(HERE), ".bench_build"), exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=os.path.join(os.path.dirname(HERE), ".bench_build"))
        self.src = os.path.join(self.dir, "orders.parquet")
        pq.write_table(orders(), self.src)
        self.con = duckdb.connect()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def failures(self, table):
        out = os.path.join(self.dir, "out.parquet")
        pq.write_table(table, out)
        f = []
        check._multiset(self.con, "zstd", f"SELECT * FROM read_parquet('{out}')",
                        f"SELECT * FROM read_parquet('{self.src}')", f)
        return f

    def test_exact_copy_in_any_order_passes(self):
        self.assertEqual(self.failures(orders().take([5, 0, 3, 1, 4, 2])), [])

    def test_one_changed_status_fails(self):
        t = orders()
        status = t.column("o_orderstatus").to_pylist()
        status[2] = "O"
        f = self.failures(t.set_column(1, "o_orderstatus", pa.array(status)))
        self.assertEqual(len(f), 1)
        self.assertIn("1 rows not in the expected result", f[0])

    def test_values_moved_between_rows_fail(self):
        t = orders()
        dates = t.column("o_orderdate").to_pylist()
        dates[0], dates[1] = dates[1], dates[0]
        f = self.failures(t.set_column(3, "o_orderdate", pa.array(dates, pa.timestamp("us"))))
        self.assertEqual(len(f), 1)

    def test_one_dropped_row_fails(self):
        f = self.failures(orders().slice(1))
        self.assertEqual(len(f), 1)
        self.assertIn("1 expected rows missing", f[0])

    def test_csv_is_read_back_with_the_input_types(self):
        csv = os.path.join(self.dir, "csv")
        os.makedirs(csv)
        lines = ["o_orderkey,o_orderstatus,o_totalprice,o_orderdate"]
        lines += [f"{k},{s},{p},1970-01-0{k + 1}T00:00:00.000" for k, s, p in
                  zip(range(6), "FOPFOP", [1001.91, 2.5, 3.25, 4.0, 5.75, 6.5])]
        with open(f"{csv}/part-0.csv", "w") as fh:
            fh.write("\n".join(lines) + "\n")
        src = f"read_parquet('{self.src}')"
        got = f"SELECT * FROM {check._csv_as(self.con, src, f'{csv}/*.csv')}"
        f = []
        check._multiset(self.con, "to_csv", got, f"SELECT * FROM {src}", f)
        self.assertEqual(f, [])
        with open(f"{csv}/part-0.csv", "w") as fh:
            fh.write("\n".join(lines).replace("1970-01-04", "1970-01-05") + "\n")
        check._multiset(self.con, "to_csv", got, f"SELECT * FROM {src}", f)
        self.assertEqual(len(f), 1)

if __name__ == "__main__":
    unittest.main()
