"""Correctness checks for the benchmark's outputs, run in DuckDB.

Query workloads: each key's full result (the parquet its warm-up pass
wrote) must equal DuckDB running the key's `SparkEntry.oracleSql` on the
same input files -- same column names, exactly the same Arrow types, and
the same multiset of rows.

ETL workload: DuckDB reads every job output and checks it against the
job's input (the same rows, oracle answers and the properties each job
documents).

Every check returns a list of failure strings, empty when all is well.
"""
import math
import os
import re
import time

import duckdb

from datagen import TABLES

_NESTED = re.compile(r"^(list|large_list|fixed_size_list|map|struct)\b")


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ", ".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(f"{k}: {canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def fetch(rel):
    """-> (sorted column names, {column: arrow type}, sorted canonical rows)."""
    tbl = rel.arrow()
    cols = sorted(tbl.column_names)
    types = {c: str(tbl.schema.field(c).type) for c in cols}
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = sorted(tuple(canon(v) for v in r) for r in zip(*data)) if cols else []
    return cols, types, rows


def compare(got, want):
    """None when the two fetched results are equal, else the first reason."""
    (gc, gt, gr), (wc, wt, wr) = got, want
    if gc != wc:
        return f"columns {gc} != expected {wc}"
    nested = [c for c in gc if _NESTED.match(gt[c]) or _NESTED.match(wt[c])]
    if nested:
        return f"nested columns {nested}"
    bad = [(c, gt[c], wt[c]) for c in gc if gt[c] != wt[c]]
    if bad:
        return f"types differ (column, got, expected): {bad}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows, expected {len(wr)}"
    for g, w in zip(gr, wr):
        if g != w:
            return f"row {g} differs from expected {w} (columns {gc})"
    return None


def check_keys(data_dir, result_dir, oracle, seconds=None):
    """Compare each key's result directory with its oracle SQL; with a
    `seconds` dict, record there how long each key's check took."""
    con = connect(data_dir)
    failures = []
    for key, sql in sorted(oracle.items()):
        t0 = time.time()
        if sql is None:
            failures.append(f"{key}: no oracle SQL")
            continue
        try:
            want = fetch(con.sql(sql))
            got = fetch(con.sql(f"SELECT * FROM read_parquet('{result_dir}/{key}/*.parquet')"))
        except Exception as e:  # noqa: BLE001 -- any read error is a failure
            failures.append(f"{key}: {str(e).splitlines()[0]}")
            continue
        why = compare(got, want)
        if why:
            failures.append(f"{key}: {why}")
        if seconds is not None:
            seconds[key] = time.time() - t0
    return failures


# --- ETL job outputs ---------------------------------------------------

def _csv_as(con, input_sql, csv_glob):
    """The CSV files read back with the input's column names and types."""
    cols = con.sql(f"DESCRIBE SELECT * FROM {input_sql}").fetchall()
    spec = ", ".join(f"'{c}': '{t}'" for c, t, *_ in cols)
    return f"read_csv('{csv_glob}', header=true, columns={{{spec}}})"


def _multiset(con, name, got_sql, want_sql, failures):
    """The two queries give the same column names with the same Arrow
    types, and the same multiset of rows.  The rows are compared inside
    DuckDB (EXCEPT ALL both ways), so whole 150k-row tables stay cheap."""
    g, w = (sorted((f.name, str(f.type)) for f in
                   con.sql(f"SELECT * FROM ({q}) LIMIT 0").arrow().schema)
            for q in (got_sql, want_sql))
    if g != w:
        failures.append(f"{name}: columns and types {g} != expected {w}")
        return
    cols = ", ".join(f'"{c}"' for c, _ in w)
    diff = lambda a, b: f"SELECT {cols} FROM ({a}) EXCEPT ALL SELECT {cols} FROM ({b})"
    extra, missing = (con.sql(f"SELECT count(*) FROM ({diff(a, b)})").fetchone()[0]
                      for a, b in ((got_sql, want_sql), (want_sql, got_sql)))
    if extra or missing:
        row = con.sql(diff(got_sql, want_sql) + " LIMIT 1").fetchone()
        failures.append(f"{name}: {extra} rows not in the expected result, {missing} "
                        f"expected rows missing (columns {[c for c, _ in w]}"
                        + (f", e.g. {row})" if row else ")"))


def check_etl(data_dir, out_dir, sample_warmup, oracle):
    """Check every ETL job output under `out_dir` against its input."""
    con = connect(data_dir)
    f = []
    orders = f"read_parquet('{data_dir}/orders.parquet')"
    try:
        # format conversion, compression, compaction: every row of the
        # input, cell for cell, with its type (CSV read back as the input's)
        _multiset(con, "to_csv",
                  f"SELECT * FROM {_csv_as(con, orders, f'{out_dir}/to_csv/*.csv')}",
                  f"SELECT * FROM {orders}", f)
        _multiset(con, "zstd", f"SELECT * FROM read_parquet('{out_dir}/zstd/*.parquet')",
                  f"SELECT * FROM {orders}", f)
        _multiset(con, "compaction",
                  f"SELECT * FROM read_parquet('{out_dir}/compaction/*.parquet')",
                  f"SELECT * FROM read_parquet('{data_dir}/orders_small_files/*.parquet')", f)
        _multiset(con, "dedup", f"SELECT * FROM read_parquet('{out_dir}/dedup/*.parquet')",
                  oracle["dedup_exact"], f)
        _multiset(con, "quality", f"SELECT * FROM read_parquet('{out_dir}/quality/*.parquet')",
                  oracle["pipeline_quality_filter"], f)
        # profile: n_rows / ndv / min / max per column, as DuckDB sees them
        cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
        want_sql = " UNION ALL ".join(
            f"SELECT '{c}' AS col_name, count(*) AS n_rows, "
            f"count(DISTINCT \"{c}\") AS ndv, "
            f"CAST(min(\"{c}\") AS VARCHAR) AS min_v, "
            f"CAST(max(\"{c}\") AS VARCHAR) AS max_v FROM {orders}" for c in cols)
        _multiset(con, "profile",
                  f"SELECT col_name, n_rows, ndv, min_v, max_v FROM "
                  f"read_parquet('{out_dir}/profile/*.parquet')", want_sql, f)
        # cdc: live rows = last writer wins over base (seq -1) + changelog
        _multiset(con, "cdc", f"SELECT * FROM read_parquet('{out_dir}/cdc/*.parquet')", f"""
            SELECT o_orderkey, arg_max(o_custkey, seq) AS o_custkey,
                   arg_max(o_orderstatus, seq) AS o_orderstatus,
                   arg_max(o_totalprice, seq) AS o_totalprice
            FROM (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                         -1::BIGINT AS seq, 'I' AS op FROM {orders}
                  UNION ALL
                  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, seq, op
                  FROM read_parquet('{data_dir}/orders_changelog.parquet'))
            GROUP BY o_orderkey HAVING arg_max(op, seq) <> 'D'""", f)
        # sample: exactly k rows, ids from the input, the oracle's draw, and
        # the same draw on every pass (the job documents rerun stability)
        ids = lambda d: sorted(r[0] for r in con.sql(
            f"SELECT doc_id FROM read_parquet('{d}/*.parquet')").fetchall())
        got = ids(f"{out_dir}/sample")
        want = sorted(r[0] for r in con.sql(
            f"SELECT doc_id FROM ({oracle['sample_priority']})").fetchall())
        if len(got) != 100:
            f.append(f"sample: {len(got)} rows, expected 100")
        if got != want:
            f.append("sample: ids differ from the sample_priority oracle")
        if got != ids(sample_warmup):
            f.append("sample: ids differ between the warm-up pass and the last pass")
        stray = con.sql(f"""SELECT count(*) FROM read_parquet('{out_dir}/sample/*.parquet')
            WHERE doc_id NOT IN (SELECT doc_id FROM documents)""").fetchone()[0]
        if stray:
            f.append(f"sample: {stray} ids not in the input")
    except Exception as e:  # noqa: BLE001 -- unreadable output is a failure
        f.append(f"etl outputs unreadable: {str(e).splitlines()[0]}")
    return f


def data_files(path):
    """(count, bytes) of the data files under `path`: no checksums, no
    markers, nothing hidden."""
    n = size = 0
    for root, _, files in os.walk(path):
        for name in files:
            if name.startswith((".", "_")) or name.endswith(".crc"):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, name))
    return n, size
