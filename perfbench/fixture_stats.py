#!/usr/bin/env python3
"""Compares the benchmark's generated inputs with the engine's fixtures.

    python3 perfbench/fixture_stats.py <fixture_dir> <seed> [<seed> ...]

Generates the inputs of each seed (in a temporary directory under
.bench_build/) and prints, for every statistic, the fixture's value, the
generated values and the largest relative difference.  Statistics: row
counts; per column the distinct count, min, max, mean and standard
deviation (numbers), length (strings); the documents' vocabulary, hapax
count, words per document, exact and near duplicates; the gaps between
event timestamps; the customer order-count spread.
"""
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402


def stats(d):
    con = duckdb.connect()
    out = {}
    for t in datagen.TABLES:
        rel = f"'{d}/{t}.parquet'"
        out[f"{t}.rows"] = con.sql(f"SELECT count(*) FROM {rel}").fetchone()[0]
        for col, typ, *_ in con.sql(f"DESCRIBE SELECT * FROM {rel}").fetchall():
            c, k = f'"{col}"', f"{t}.{col}"
            if typ.endswith("[]"):
                out[f"{k}.len"] = con.sql(f"SELECT avg(len({c})) FROM {rel}").fetchone()[0]
                continue
            ndv, lo, hi = con.sql(f"SELECT count(DISTINCT {c}), min({c}), max({c}) "
                                  f"FROM {rel}").fetchone()
            out[f"{k}.ndv"] = ndv
            if typ == "VARCHAR":
                out[f"{k}.len_mean"] = con.sql(
                    f"SELECT avg(length({c})) FROM {rel}").fetchone()[0]
                continue
            if typ.startswith("TIMESTAMP"):
                c = f"epoch({c})"
            lo, hi, mean, sd = con.sql(f"SELECT min({c}), max({c}), avg({c}), "
                                       f"stddev({c}) FROM {rel}").fetchone()
            out.update({f"{k}.min": lo, f"{k}.max": hi, f"{k}.mean": mean, f"{k}.sd": sd})
    docs = f"'{d}/documents.parquet'"
    vocab, hapax = con.sql(f"""
        WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM {docs}),
             c AS (SELECT w, count(*) AS n FROM w GROUP BY w)
        SELECT count(*), count(*) FILTER (WHERE n = 1) FROM c""").fetchone()
    out["documents.vocabulary"], out["documents.hapax_words"] = vocab, hapax
    p10, p50, p90 = con.sql(f"""SELECT quantile_cont(len(string_split(text, ' ')),
        [0.1, 0.5, 0.9]) FROM {docs}""").fetchone()[0]
    out.update({"documents.words_p10": p10, "documents.words_p50": p50,
                "documents.words_p90": p90})
    out["documents.exact_dups"] = con.sql(
        f"SELECT count(*) - count(DISTINCT text) FROM {docs}").fetchone()[0]
    out["documents.near_dups"] = con.sql(
        f"SELECT count(*) FROM {docs} WHERE text LIKE '% dup'").fetchone()[0]
    gap_mean, gap_sd = con.sql(f"""SELECT avg(g), stddev(g) FROM (SELECT epoch(ts)
        - lag(epoch(ts)) OVER (ORDER BY ts) AS g FROM '{d}/events.parquet')""").fetchone()
    out["events.ts_gap_mean_s"], out["events.ts_gap_sd_s"] = gap_mean, gap_sd
    out["orders.per_customer_sd"] = con.sql(f"""SELECT stddev(n) FROM (SELECT count(*)
        AS n FROM '{d}/orders.parquet' GROUP BY o_custkey)""").fetchone()[0]
    return out


def main(fixtures, seeds):
    want = stats(fixtures)
    got = []
    for seed in seeds:
        d = os.path.join(os.path.dirname(HERE), ".bench_build", f"fixture_stats_{seed}")
        shutil.rmtree(d, ignore_errors=True)
        datagen.main(d, seed)
        got.append(stats(d))
        shutil.rmtree(d, ignore_errors=True)
    print(f"| statistic | fixture | seeds {', '.join(map(str, seeds))} | max rel. diff |")
    print("|---|---|---|---|")
    for k, w in want.items():
        vals = [g.get(k) for g in got]
        rel = max((abs(v - w) / max(abs(w), 1e-12) for v in vals), default=0.0)
        fmt = lambda x: f"{x:.6g}" if isinstance(x, float) else str(x)
        print(f"| {k} | {fmt(w)} | {' / '.join(map(fmt, vals))} | {rel:.3f} |")


if __name__ == "__main__":
    main(sys.argv[1], [int(s) for s in sys.argv[2:]])
