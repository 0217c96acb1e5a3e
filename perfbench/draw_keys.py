#!/usr/bin/env python3
"""Draws the key lists of the query_mix and pipeline_kernels workloads.

    python3 perfbench/draw_keys.py probe <seed> [<seed> ...]
    python3 perfbench/draw_keys.py draw

`probe` runs every candidate registry key through the harness (one
warm-up pass that writes its result, one timed pass) on the seeded inputs
of each seed given, checks each result against DuckDB, and records the
timed latency and the verdict per key and seed in key_probe.json.

`draw` turns key_probe.json into keys.json: query_mix takes QUERY_N keys
that were sub-second and correct on every probed seed, drawn with
DRAW_SEED round-robin over the registry modules (so every module with an
eligible key is represented); pipeline_kernels is the fixed list below.

Candidates exclude keys that write files of their own (Tables.scratch,
the zone-map / manifest / bucketed-table warm-ups): those paths are fixed
by the program, not by the benchmark, so a run could not keep its writes
inside its own directory.
"""
import json
import os
import random
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402

DRAW_SEED = 20260501
QUERY_N = 16
QUERY_MAX_MS = 450.0      # warm latency at local[4], every probe seed
CHECK_MAX_S = 0.5         # DuckDB time to check the key, every probe seed
# the probe's candidates: keys the repository's bench budgets (local[32],
# bench_budgets.json) put under this many seconds
BUDGET_MAX_S = 0.45
# one whole memo family (word_counts: agg_countmin builds the shared word
# counts, the other five reuse them within a pass) plus the k-center
# sampler, an executor-heavy iterative kernel
PIPELINE_KEYS = ["agg_countmin", "text_hapax_stats", "text_template_mining",
                 "text_doc_perplexity", "text_perplexity_buckets",
                 "corpus_quality_tradeoff", "sample_kcenter"]
WRITERS = re.compile(r"\bscratch\(|ensureZoned|ensureManifested|ensureBucketed")


def writer_keys():
    """Registry keys whose body writes files (see the module docstring)."""
    out = set()
    ops = os.path.join(run.ROOT, "src", "main", "scala", "graft", "ops")
    for name in os.listdir(ops):
        current = None
        with open(os.path.join(ops, name)) as fh:
            for line in fh:
                m = re.match(r'\s*"([a-z0-9_]+)" -> ', line)
                if m:
                    current = m.group(1)
                if current and WRITERS.search(line) and "def " not in line:
                    out.add(current)
    return out


def registry(classpath):
    work = os.path.join(run.BUILD, "work", "draw")
    os.makedirs(work, exist_ok=True)
    run.run_jvm(classpath, ["list"], work, 300)
    with open(f"{work}/jvm.out") as fh:
        return json.loads(fh.read().strip().splitlines()[-1])


def probe(seeds):
    classpath, _ = run.build()
    keys = registry(classpath)
    skip = writer_keys()
    with open(os.path.join(run.ROOT, "bench_budgets.json")) as fh:
        budgets = json.load(fh)["budgets_sec"]
    cand = [k["key"] for k in keys if k["oracle"] and k["key"] not in skip
            and budgets.get(k["key"], BUDGET_MAX_S) < BUDGET_MAX_S]
    out = {"modules": {k["key"]: k["module"] for k in keys},
           "writers": sorted(skip), "seeds": seeds, "keys": {}}
    for seed in seeds:
        work = os.path.join(run.BUILD, "work", f"probe-{seed}")
        data = f"{work}/data"
        datagen.main(data, seed)
        run.run_jvm(classpath, ["query_mix", data, work, "0", "0", "4"] + cand,
                    work, 3600)
        with open(f"{work}/result.json") as fh:
            res = json.load(fh)
        failed = {x["op"]: x["error"] for x in res["failures"]}
        bad, secs = {}, {}
        for line in check.check_keys(data, f"{work}/results", res["oracle"], secs):
            bad[line.split(":", 1)[0]] = line
        for o in res["ops"]:
            if o["pass"] == 1:
                r = out["keys"].setdefault(o["name"], {"ms": {}, "check_s": {}, "error": {}})
                r["ms"][str(seed)] = o["build_ms"] + o["action_ms"]
        for k in cand:
            r = out["keys"].setdefault(k, {"ms": {}, "check_s": {}, "error": {}})
            r["check_s"][str(seed)] = secs.get(k)
            if k in failed or k in bad:
                r["error"][str(seed)] = failed.get(k) or bad[k]
    with open(os.path.join(HERE, "key_probe.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)


def draw():
    with open(os.path.join(HERE, "key_probe.json")) as fh:
        p = json.load(fh)
    n_seeds = len(p["seeds"])
    eligible = sorted(
        k for k, r in p["keys"].items()
        if not r["error"] and len(r["ms"]) == n_seeds and k not in PIPELINE_KEYS
        and max(r["ms"].values()) < QUERY_MAX_MS
        and max(r["check_s"].values()) < CHECK_MAX_S)
    rng = random.Random(DRAW_SEED)
    by_module = {}
    for k in eligible:
        by_module.setdefault(p["modules"][k], []).append(k)
    for ks in by_module.values():
        rng.shuffle(ks)
    picked = []
    while len(picked) < QUERY_N and any(by_module.values()):
        for m in sorted(by_module):
            if by_module[m] and len(picked) < QUERY_N:
                picked.append(by_module[m].pop())
    lists = {
        "draw_seed": DRAW_SEED,
        "probe_seeds": p["seeds"],
        "query_mix": {"keys": sorted(picked),
                      "rule": f"{QUERY_N} keys, correct on every probe seed, "
                              f"under {QUERY_MAX_MS:.0f} ms warm at local[4] and "
                              f"under {CHECK_MAX_S} s to check, drawn "
                              f"round-robin over modules"},
        "pipeline_kernels": {"keys": PIPELINE_KEYS,
                             "rule": "fixed: the word_counts memo family, members "
                                     "in order, then sample_kcenter"},
        "left_out": {k: r["error"] for k, r in sorted(p["keys"].items()) if r["error"]},
    }
    with open(os.path.join(HERE, "keys.json"), "w") as fh:
        json.dump(lists, fh, indent=1)


if __name__ == "__main__":
    if sys.argv[1:2] == ["probe"]:
        probe([int(s) for s in sys.argv[2:]])
    elif sys.argv[1:2] == ["draw"]:
        draw()
    else:
        sys.exit(__doc__)
