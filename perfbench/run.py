#!/usr/bin/env python3
"""Benchmark runner: one run of one workload.

    python3 perfbench/run.py --workload <etl_jobs|query_mix|pipeline_kernels>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds the program and the harness with
sbt (offline) when their sources changed, makes the seeded sf0.1 inputs,
runs one JVM (warm-up pass, then timed passes for --seconds), checks every
output in DuckDB and prints one JSON object as the last line of stdout.
Exits non-zero, with the failing workload, operation, layer and exception
as the last lines printed, when anything fails.  See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170          # the whole run, build excluded
CHECK_RESERVE_S = 35      # kept back for the checks after the JVM ends
WORKLOADS = ("etl_jobs", "query_mix", "pipeline_kernels")
MODULES = ["Scans", "Relational", "Joins", "Aggregates", "Windows", "SortSet",
           "ScalarFns", "SqlOps", "Analytics", "StreamTwin", "Dedup",
           "Similarity", "TextOps", "Multimodal", "Lakehouse", "TrainPrep",
           "Graph"]
JOBS = ["FormatConversionJob", "CompressionJob", "DedupJob", "QualityFilterJob",
        "SampleJob", "CompactionJob", "ProfileJob", "CdcApplyJob"]
# oracle answers the ETL checks reuse (the jobs share these kernels)
ETL_ORACLE_KEYS = ["dedup_exact", "pipeline_quality_filter", "sample_priority"]
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")


class RunFailed(Exception):
    """A failure the run reports as its last lines, then exits 1."""


def proc_start_time():
    """Wall-clock time this process started (from /proc), else now."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


T_START = proc_start_time()


def source_stamp():
    """Hash of every file the build reads: the program and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns (classpath, s)."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    try:
        with open(stamp_file) as fh:
            cached = json.load(fh)
        if cached["stamp"] == stamp:
            return cached["classpath"], 0.0
    except (OSError, ValueError, KeyError):
        pass
    t0 = time.time()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait_or_kill(p, 850)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cp:
        tail = "\n".join(lines[-15:])
        raise RunFailed(f"layer build: sbt exited {rc}\n{tail}")
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, fh)
    return cp[-1], time.time() - t0


def wait_or_kill(p, timeout):
    """Wait for `p`; on timeout (or any exit from here) kill its whole
    process group and wait until it is gone.  Returns the exit code."""
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            for sig, grace in ((signal.SIGTERM, 5), (signal.SIGKILL, 30)):
                try:
                    os.killpg(p.pid, sig)
                except ProcessLookupError:
                    break
                try:
                    p.wait(timeout=grace)
                    break
                except subprocess.TimeoutExpired:
                    continue


def heap_gb():
    """A quarter of MemTotal, 2..6 GiB: the machine's memory is shared."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return max(2, min(6, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def run_jvm(classpath, args, work, timeout, jit=()):
    cmd = (["java", f"-Xmx{heap_gb()}g", "-XX:+UseParallelGC", *jit,
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for m in JDK17_OPENS for a in ("--add-opens", f"java.base/{m}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.out", "w") as out, open(f"{work}/jvm.err", "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=err,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait_or_kill(p, timeout)
    if rc != 0:
        with open(f"{work}/jvm.err") as fh:
            err = [l for l in fh.read().splitlines()
                   if "[perfbench]" in l or "Exception" in l or "Error" in l]
        why = "timed out" if rc is None else f"exited {rc}"
        raise RunFailed(f"layer jvm: {why}\n" + "\n".join(err[-12:]))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(res, timed, ops, out_dir):
    """The per-layer table: medians over timed passes, maxima for peaks."""
    m = {"Sessions.start_ms": res["sessions_start_ms"]}
    ledger_keys = [k for k in timed[0] if "." in k]
    for k in ledger_keys:
        vals = [p[k] for p in timed]
        m[k] = max(vals) if k.endswith("_peak") else median(vals)
    per_pass = lambda f: [sum(f(o) for o in ops if o["pass"] == p["pass"]) for p in timed]
    for job in JOBS:
        m[f"harness.{job}.ms"] = median(per_pass(
            lambda o: o["action_ms"] if o["layer"] == job else 0))
    n_files, n_bytes = (check.data_files(out_dir) if os.path.isdir(out_dir) else (0, 0))
    m["harness.output_files"], m["harness.output_bytes"] = n_files, n_bytes
    for mod in MODULES:
        for part in ("build", "action"):
            m[f"ops.{mod}.{part}_ms"] = median(per_pass(
                lambda o: o[f"{part}_ms"] if o["layer"] == mod else 0))
    return m


def trace_checks(res, timed, ops, work, data_dir):
    """Totals the ledger reached, against the same totals by other paths."""
    f = []
    cores = res["cores"]
    for p in timed:
        tol = p["scheduler.tasks"]  # executorRunTime is whole milliseconds
        if not p["executor.cpu_ms"] <= p["executor.run_ms"] + tol:
            f.append(f"pass {p['pass']}: executor.cpu_ms {p['executor.cpu_ms']} > "
                     f"executor.run_ms {p['executor.run_ms']}")
        if not p["executor.run_ms"] <= cores * p["wall_ms"]:
            f.append(f"pass {p['pass']}: executor.run_ms {p['executor.run_ms']} > "
                     f"{cores} x wall {p['wall_ms']}")
    if res["workload"] == "etl_jobs":
        last = timed[-1]["pass"]
        for o in ops:
            # cdc rewrites its state table in place: its writes outnumber
            # what is left on disk by design
            if o["pass"] != last or o["name"] == "cdc":
                continue
            _, on_disk = check.data_files(f"{work}/out/{o['name']}")
            if o["executor.output_bytes"] != on_disk:
                f.append(f"{o['name']}: executor.output_bytes "
                         f"{o['executor.output_bytes']} != {on_disk} bytes on disk")
    con = check.connect(data_dir)
    rows = con.sql("SELECT count(*) FROM lineitem").fetchone()[0]
    if res["probe"]["executor.input_rows"] != rows:
        f.append(f"lineitem scan: executor.input_rows "
                 f"{res['probe']['executor.input_rows']} != DuckDB count {rows}")
    return f


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixtures", help="copy the ten tables from this fixture "
                    "directory instead of generating them (by-hand comparisons)")
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise RunFailed(f"layer build: the program is missing ({need} not found "
                            f"under {ROOT})")
    classpath, build_s = build()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data_dir = f"{work}/data"
    datagen.main(data_dir, a.seed, a.fixtures)

    with open(os.path.join(HERE, "keys.json")) as fh:
        key_lists = json.load(fh)
    keys = key_lists[a.workload]["keys"] if a.workload != "etl_jobs" else ETL_ORACLE_KEYS
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    budget = DEADLINE_S - (time.time() - T_START - build_s) - CHECK_RESERVE_S
    # The JIT keeps speeding the JVM up for several passes. The query
    # workloads run many short plans: with default thresholds their passes
    # went 8.5, 7.8, 6.7, 6.3 s, and with thresholds scaled down 10x they
    # settle within the warm-up (6.9, 6.7, 6.9, 6.3 s). etl_jobs settles
    # sooner with the defaults (7.9, 7.1, 6.5, 6.2 s) than scaled (8.6,
    # 7.5, 6.3 s), and takes a second warm-up pass in Main.
    jit = [] if a.workload == "etl_jobs" else ["-XX:CompileThresholdScaling=0.1"]
    run_jvm(classpath, [a.workload, data_dir, work, str(a.seconds), str(a.trace),
                        str(cores)] + keys, work, budget, jit)
    with open(f"{work}/result.json") as fh:
        res = json.load(fh)
    if res["failures"]:
        raise RunFailed("\n".join(
            f"layer {x['layer']} ({x['phase']}): op {x['op']} failed: {x['error']}"
            for x in res["failures"]))

    # --- correctness, outside the timed window ---------------------------
    if a.workload == "etl_jobs":
        bad = check.check_etl(data_dir, f"{work}/out", f"{work}/sample_warmup",
                              res["oracle"])
    else:
        bad = check.check_keys(data_dir, f"{work}/results", res["oracle"])

    timed = [p for p in res["passes"] if p["pass"] >= res["warmup_passes"]]
    ops = [o for o in res["ops"] if o["pass"] >= res["warmup_passes"]]
    lat = [o["build_ms"] + o["action_ms"] for o in ops]
    if a.trace:
        metrics = layer_metrics(res, timed, ops, f"{work}/out")
        bad += trace_checks(res, timed, ops, work, data_dir)
        with open(f"{work}/trace.json", "w") as fh:
            json.dump({"layers": metrics, "spans": res["spans"]}, fh)
        units = {k: layer_unit(k) for k in metrics}
    else:
        # CPU of the JVM's Java threads, not wall time: on a shared host,
        # wall time moves with the neighbours' load (see the README).
        # cpu_s is one pass: each operation's median over the timed passes
        metrics = {
            "setup_s": res["first_timed_ms"] / 1000.0 - T_START - build_s,
            "cpu_s": sum(median([o["cpu_ms"] for o in ops if o["name"] == n])
                         for n in dict.fromkeys(o["name"] for o in ops)) / 1000.0,
            "op_cpu_p50_ms": median([o["cpu_ms"] for o in ops]),
        }
        units = {"setup_s": "s", "cpu_s": "s", "op_cpu_p50_ms": "ms"}
    print(f"[{a.workload}] wall_s {median([p['wall_ms'] for p in timed]) / 1000.0:.3f} "
          f"op_p50_ms {median(lat):.1f} over {len(timed)} timed passes, "
          f"{len(ops)} operations; CPU s per pass "
          f"{[round(p['app_cpu_ms'] / 1000.0, 3) for p in res['passes']]}", file=sys.stderr)
    for line in bad:
        print(f"CHECK FAILED [{a.workload}] {line}", file=sys.stderr)
        print(f"CHECK FAILED [{a.workload}] {line}")
    attempted = len(res["ops"])
    # each failure line starts with the operation (or pass) it names
    failed = len({line.split(":", 1)[0] for line in bad})
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))
    return 0 if not bad else 1


def layer_unit(name):
    """Unit of a per-layer metric, read off the end of its name."""
    for suffix, unit in (("ms", "ms"), ("_mb", "MB"), ("_mb_peak", "MB"),
                         ("_bytes", "bytes"), ("_rows", "rows")):
        if name.endswith(suffix):
            return unit
    return "count"


sys.path.insert(0, HERE)
import check  # noqa: E402
import datagen  # noqa: E402

if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except RunFailed as e:
        args = " ".join(sys.argv[1:])
        for line in str(e).splitlines():
            print(f"RUN FAILED [{args}] {line}", file=sys.stderr)
        print(f"RUN FAILED [{args}] {str(e).splitlines()[0]}")
        sys.exit(1)
