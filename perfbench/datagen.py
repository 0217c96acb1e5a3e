"""Seeded sf0.1 input tables for the benchmark.

Writes the ten fixture tables the engine reads (TPC-H-ish star schema,
`events`, `documents`, `embeddings`; one parquet file each) plus the two
inputs only the ETL jobs read: a CDC changelog over `orders` and a
small-file copy of `orders` for compaction.  The same seed always gives
byte-identical tables.  Row counts, key cardinalities, value ranges and
distributions, the documents' vocabulary, lengths and duplicate rates
follow the engine's sf0.1 fixtures; `fixture_stats.py` measures both side
by side (see the README).

With `--fixtures <dir>`, the ten tables are copied from an existing
fixture directory instead, and only the changelog and the small-file copy
are generated (from that `orders`).

Usage: python3 perfbench/datagen.py <out_dir> <seed> [--fixtures <dir>]
"""
import argparse
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = np.array(["en", "es", "de", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
PART_COLORS = ["blue", "old", "red", "large", "hot", "cold", "small", "new"]
PART_NOUNS = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring",
              "gear"]
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

I32, I64, F64, STR = pa.int32(), pa.int64(), pa.float64(), pa.string()
TS = pa.timestamp("us")
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def money(rng, lo_cents, hi_cents, n):
    """Exact two-decimal doubles, as the fixtures' money columns hold."""
    return rng.integers(lo_cents, hi_cents + 1, n) / 100.0


def days(rng, lo, hi, n):
    """Midnight timestamps drawn from [1995-01-01 + lo, + hi] days."""
    return EPOCH_1995 + rng.integers(lo, hi + 1, n) * DAY_US


def table(cols):
    return pa.table({name: pa.array(v, type=t) for name, (v, t) in cols.items()})


def fixed_tables(seed):
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li = int(1_500_000 * SF), int(6_000_000 * SF)
    out = {}
    out["region"] = table({"r_regionkey": (range(5), I32), "r_name": (REGIONS, STR)})
    out["nation"] = table({
        "n_nationkey": (range(25), I32),
        "n_name": ([f"NATION_{i}" for i in range(25)], STR),
        "n_regionkey": ([i % 5 for i in range(25)], I32)})
    out["customer"] = table({
        "c_custkey": (np.arange(n_cust), I64),
        "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], STR),
        "c_nationkey": (rng.integers(0, 25, n_cust), I32),
        "c_acctbal": (money(rng, -99_999, 999_999, n_cust), F64),
        "c_mktsegment": (SEGMENTS[rng.integers(0, 5, n_cust)], STR)})
    out["supplier"] = table({
        "s_suppkey": (np.arange(n_supp), I64),
        "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], STR),
        "s_nationkey": (rng.integers(0, 25, n_supp), I32),
        "s_acctbal": (money(rng, -99_999, 999_999, n_supp), F64)})
    pk = np.arange(n_part)
    out["part"] = table({
        "p_partkey": (pk, I64),
        "p_name": ([f"{PART_COLORS[a]} {PART_NOUNS[b]}" for a, b in
                    zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], STR),
        "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], STR),
        "p_type": (PART_TYPES[rng.integers(0, 6, n_part)], STR),
        "p_size": (rng.integers(1, 51, n_part), I32),
        "p_retailprice": ((9000 + pk % 1000) / 10.0, F64)})
    out["orders"] = table({
        "o_orderkey": (np.arange(n_ord), I64),
        "o_custkey": (rng.integers(0, n_cust, n_ord), I64),
        "o_orderstatus": (np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], STR),
        "o_totalprice": (money(rng, 100_000, 50_000_000, n_ord), F64),
        "o_orderdate": (days(rng, 0, 2403, n_ord), TS),
        "o_orderpriority": (PRIORITIES[rng.integers(0, 5, n_ord)], STR)})
    out["lineitem"] = table({
        "l_orderkey": (rng.integers(0, n_ord, n_li), I64),
        "l_partkey": (rng.integers(0, n_part, n_li), I64),
        "l_suppkey": (rng.integers(0, n_supp, n_li), I64),
        "l_linenumber": (rng.integers(1, 8, n_li), I32),
        "l_quantity": (rng.integers(1, 51, n_li).astype(np.float64), F64),
        "l_extendedprice": (money(rng, 90_000, 10_500_000, n_li), F64),
        "l_discount": (np.round(rng.uniform(0.0, 0.10, n_li), 2), F64),
        "l_tax": (np.round(rng.uniform(0.0, 0.08, n_li), 2), F64),
        "l_returnflag": (np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], STR),
        "l_linestatus": (np.array(["F", "O"])[rng.integers(0, 2, n_li)], STR),
        "l_shipdate": (days(rng, 1, 2499, n_li), TS)})
    n_ev = int(1_000_000 * SF)
    out["events"] = table({
        "event_id": (np.arange(n_ev), I64),
        # sorted uniform instants over 30 days: exponential-like gaps
        "ts": (np.datetime64("2024-01-01", "us").astype(np.int64)
               + np.sort(rng.integers(0, 30 * DAY_US, n_ev)), TS),
        "user_id": (rng.integers(0, int(15_000 * SF), n_ev), I64),
        "event_type": (EVENT_TYPES[rng.integers(0, 5, n_ev)], STR),
        "value": (np.round(rng.exponential(50.0, n_ev), 2), F64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], STR)})
    out["documents"] = documents(rng, int(50_000 * SF))
    n_emb = int(20_000 * SF)
    v = rng.normal(0.0, 0.12, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = table({
        "vec_id": (np.arange(n_emb), I64),
        "embedding": (list(v), pa.list_(pa.float32())),
        "label": (rng.integers(0, 10, n_emb), I32)})
    return out


def documents(rng, n):
    """Word-salad corpus with the fixtures' duplicate structure: 5% of the
    docs are a random original plus a trailing ' dup' (near-duplicates),
    drawn with replacement, so a few are verbatim copies of each other
    (exact duplicates); the rows are then shuffled."""
    n_near = n // 20
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k))
             for k in rng.integers(10, 100, n - n_near)]
    texts += [texts[i] + " dup" for i in rng.integers(0, n - n_near, n_near)]
    texts = [texts[i] for i in rng.permutation(n)]
    return table({
        "doc_id": (np.arange(n), I64),
        "text": (texts, STR),
        "lang": (rng.choice(LANGS, n, p=LANG_P), STR),
        "source": ([f"src{s}" for s in rng.integers(0, 20, n)], STR),
        "n_chars": ([len(t) for t in texts], I64)})


def changelog(orders, seed):
    """Ordered CDC log over `orders`: updates (new status and price),
    deletes, and inserts of fresh keys, several ops per key so that the
    last-writer-wins merge has something to decide.  Columns: the four
    orders columns the merge keeps + `seq` (int64, unique, increasing) +
    `op` in {I, U, D}."""
    rng = np.random.Generator(np.random.PCG64(seed + 1))
    n_ord = orders.num_rows
    n = n_ord // 5
    key = np.concatenate([rng.integers(0, n_ord, n - n // 10),
                          n_ord + rng.integers(0, n // 20, n // 10)])
    rng.shuffle(key)
    op = np.where(key >= n_ord, "I",
                  np.where(rng.random(n) < 0.2, "D", "U"))
    return table({
        "o_orderkey": (key, I64),
        "o_custkey": (rng.integers(0, int(150_000 * SF), n), I64),
        "o_orderstatus": (np.array(["F", "O", "P"])[rng.integers(0, 3, n)], STR),
        "o_totalprice": (money(rng, 100_000, 50_000_000, n), F64),
        "seq": (np.arange(1, n + 1), I64),
        "op": (op, STR)})


def main(out_dir, seed, fixtures=None):
    os.makedirs(out_dir, exist_ok=True)
    if fixtures:
        for name in TABLES:
            shutil.copyfile(f"{fixtures}/{name}.parquet", f"{out_dir}/{name}.parquet")
        tables = {"orders": pq.read_table(f"{out_dir}/orders.parquet")}
    else:
        tables = fixed_tables(seed)
        for name, t in tables.items():
            pq.write_table(t, f"{out_dir}/{name}.parquet")
    pq.write_table(changelog(tables["orders"], seed),
                   f"{out_dir}/orders_changelog.parquet")
    # compaction input: orders as 32 small files
    small = f"{out_dir}/orders_small_files"
    os.makedirs(small, exist_ok=True)
    t = tables["orders"]
    step = -(-t.num_rows // 32)
    for i in range(32):
        pq.write_table(t.slice(i * step, step), f"{small}/part-{i:05d}.parquet")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("seed", type=int)
    ap.add_argument("--fixtures")
    a = ap.parse_args()
    main(a.out_dir, a.seed, a.fixtures)
