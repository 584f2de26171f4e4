#!/usr/bin/env python3
"""graft end-to-end benchmark: one workload, one run.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

A run:
  1. builds the engine and the harness from source with sbt (skipped when
     the sources hash to the last build's stamp);
  2. generates the workload's input tables once per checkout and checks
     them against `manifest.json` (row counts and content checksums);
  3. starts a fresh JVM on the harness (`harness/`), which builds a
     session, runs a first pass writing each result as parquet, then
     steady passes to the noop sink for `--seconds` seconds. Query order is
     drawn from `--seed`;
  4. checks the first-pass outputs with the repository's unchanged
     `tools/oracle_check.py` against the workload's slice of
     `SparkEntry.oracleSql`;
  5. prints a detail line with every metric, the oracle verdict and the
     host record, then, as the last line, the result object:
     {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
     metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Everything it writes goes under `.perfbench/` at the repository root.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
HEAP = "3g"            # JVM heap, fixed; recorded in every result
SETUP_SAMPLES = 3      # JVMs whose set-up time is measured per untraced run
WARMUP_PASSES = 1      # steady passes whose samples the metrics skip
MIN_PASSES = 2         # measured steady passes per run, at least
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g")
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


T0 = time.time()


def log(msg):
    print(f"[perfbench +{time.time() - T0:.1f}s] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def _source_files():
    """Every file the sbt build reads: sources and build definitions of the
    engine and of the harness, not sbt's own output directories."""
    files = [os.path.join(ROOT, "build.sbt")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
              os.path.join(HERE, "harness")):
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"
                       and not (x == "project" and os.path.basename(d) == "project")]
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(files)


def build():
    """Compile engine + harness; return the runtime classpath."""
    for p in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
              "tools/oracle_check.py"):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"{p} not found: run from a checkout of the repository")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("sbt build failed")
    cp = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")][-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built engine + harness in {time.time() - t0:.1f} s")
    return cp


TMP = os.path.join(WORK, "tmp")  # java.io.tmpdir and spark.local.dir of every JVM


def java_cmd(cp, main, args):
    os.makedirs(TMP, exist_ok=True)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens,
             f"-Djava.io.tmpdir={TMP}", f"-Dspark.local.dir={TMP}",
             f"-Dspark.sql.warehouse.dir={os.path.join(TMP, 'warehouse')}",
             "-cp", cp, main] + args)


def run_java(cmd, what, timeout=170):
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    p = subprocess.run(cmd, cwd=ROOT, env=dict(os.environ, SPARK_LOCAL_DIRS=TMP),
                       stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=timeout)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        fail(f"{what} exited with {p.returncode}")


# ---------------------------------------------------------------- inputs

def table_digest(path):
    """(rows, checksum) of one parquet table, independent of row order."""
    import duckdb
    con = duckdb.connect()
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()]
    rows, h = con.execute(
        f"SELECT count(*), sum(hash({', '.join(cols)}) % 1000000007) FROM '{path}'"
    ).fetchone()
    return int(rows), int(h or 0)


def check_manifest(name, data_dir):
    with open(os.path.join(HERE, "manifest.json")) as fh:
        want = json.load(fh)[name]
    got = {t: list(table_digest(os.path.join(data_dir, f"{t}.parquet")))
           for t in want}
    bad = [t for t in want if got[t] != want[t]]
    if bad:
        fail(f"input '{name}' does not match manifest.json for {bad}: "
             f"got {[got[t] for t in bad]}, want {[want[t] for t in bad]}. "
             f"Delete {data_dir} to regenerate it, or update the manifest "
             "deliberately if the generator changed.", code=3)


def make_inputs():
    """Generate (once per checkout) and verify the workloads' dataset."""
    import gen_tables
    dataset = f"sf{W.SF}"
    data_dir = os.path.join(WORK, "data", dataset)
    ready = os.path.join(data_dir, "READY")
    if not os.path.exists(ready):
        t0 = time.time()
        shutil.rmtree(data_dir, ignore_errors=True)
        gen_tables.write(data_dir, W.SF, W.DATA_SEED)
        with open(ready, "w") as fh:
            fh.write(f"{time.time() - t0:.3f}\n")
        log(f"generated input '{dataset}' in {time.time() - t0:.1f} s")
    check_manifest(dataset, data_dir)
    return data_dir


def input_generation_s(data_dir):
    """Seconds the dataset took to generate (reported apart from setup_s)."""
    try:
        with open(os.path.join(data_dir, "READY")) as fh:
            return float(fh.read())
    except (OSError, ValueError):
        return None


# ---------------------------------------------------------------- oracle

def oracle_check(data_dir, out_dir, queries):
    """Run tools/oracle_check.py; return {query: verdict} for every query.

    A query whose output is missing, mismatches the oracle, is a rows-only
    query with zero rows, or that the checker never reached (it crashed)
    gets a verdict other than PASS / ROWS-ONLY."""
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
         data_dir, out_dir], cwd=ROOT, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=170)
    verdict = {q: "NOT-CHECKED" for q in queries}
    for q in queries:
        if not os.path.isdir(os.path.join(out_dir, q)):
            verdict[q] = "NO-OUTPUT"
    for line in p.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[1] in verdict:
            verdict[parts[1]] = parts[0]
    if p.returncode not in (0, 1):
        log(f"oracle_check.py exited with {p.returncode}: {p.stderr.strip()[-300:]}")
    return verdict


ORACLE_OK = ("PASS", "ROWS-ONLY")


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """(value, percentile): the highest percentile with at least ten samples
    above it; the maximum when there are fewer than eleven samples."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], round(100.0 * (n - 10) / n, 2)


def geomean(xs):
    import math
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else float("nan")


def by_query(samples, value):
    """{query: [value(sample), ...]} over the samples that did not throw."""
    out = {}
    for r in samples:
        if r["ok"]:
            out.setdefault(r["query"], []).append(value(r))
    return out


def pass_sum(samples, value):
    """A steady pass's total of `value`, as the sum over queries of each
    query's median; robust to the last pass being cut short."""
    return sum(median(v) for v in by_query(samples, value).values())


def measured(res):
    return [r for r in res["steady"] if not r["warmup"]]


def end_to_end(res, setups):
    """The gated end-to-end metrics; then the reported-only ones (median
    query, and the tail with its percentile and sample count)."""
    steady = measured(res)
    walls = [r["wall_s"] for r in steady if r["ok"]]
    per_query = [median(v) for v in by_query(steady, lambda r: r["wall_s"]).values()]
    return {
        "setup_s": (median(setups), "s"),
        "first_pass_s": (sum(r["wall_s"] for r in res["first_pass"] if r["ok"]), "s"),
        "pass_s": (sum(per_query), "s"),
        "query_geomean_s": (geomean(per_query), "s"),
        "cpu_s": (pass_sum(steady, lambda r: r["cpu_s"]), "CPU-s"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
    }, median(per_query), (*tail(walls), len(walls))


# Per-layer counters: (metric, layer bucket(s), counter key, unit).
COUNTERS = [
    ("build.jobs", ("build",), "jobs", "count"),
    ("build.tasks", ("build",), "tasks", "count"),
    ("build.cpu_s", ("build",), "cpu_s", "CPU-s"),
    ("plan.analysis_s", ("execute",), "plan_analysis_s", "s"),
    ("plan.optimization_s", ("execute",), "plan_optimization_s", "s"),
    ("plan.planning_s", ("execute",), "plan_planning_s", "s"),
    ("plan.nodes", ("execute",), "plan_nodes", "count"),
    ("execute.jobs", ("execute",), "jobs", "count"),
    ("execute.stages", ("execute",), "stages", "count"),
    ("execute.stages_skipped", ("execute",), "stages_skipped", "count"),
    ("execute.tasks", ("execute",), "tasks", "count"),
    ("execute.tasks_failed", ("execute",), "tasks_failed", "count"),
    ("execute.cpu_s", ("execute",), "cpu_s", "CPU-s"),
    ("execute.gc_s", ("execute",), "gc_s", "s"),
    ("execute.sched_wait_s", ("execute",), "sched_wait_s", "s"),
    ("execute.input_mb", ("execute",), "input_mb", "MB"),
    ("execute.shuffle_write_mb", ("execute",), "shuffle_write_mb", "MB"),
    ("execute.shuffle_read_mb", ("execute",), "shuffle_read_mb", "MB"),
    ("execute.spill_mb", ("execute",), "spill_mb", "MB"),
    ("streaming.batches", ("build", "execute"), "streaming_batches", "count"),
    ("streaming.trigger_s", ("build", "execute"), "streaming_trigger_s", "s"),
    ("streaming.commit_s", ("build", "execute"), "streaming_commit_s", "s"),
    ("write.mb", ("build", "execute"), "write_mb", "MB"),
    ("write.records", ("build", "execute"), "write_records", "count"),
]
PEAKS = [
    ("execute.peak_mem_mb", "peak_mem_mb", "MB"),
    ("streaming.state_rows_peak", "streaming_state_rows_peak", "count"),
    ("streaming.state_mb_peak", "streaming_state_mb_peak", "MB"),
]


def counter(r, buckets, key):
    return sum(r[b].get(key, 0.0) for b in buckets)


def per_layer(res, cores_n):
    """Steady-pass totals per layer (each query's median, summed), the
    first pass's codegen and write volume, the tables probe, the session
    build and the host record."""
    steady = measured(res)
    ok = [r for r in steady if r["ok"]]
    first = [r for r in res["first_pass"] if r["ok"]]
    wall = pass_sum(steady, lambda r: r["wall_s"])
    build_s = pass_sum(steady, lambda r: r["build_s"])
    exec_s = pass_sum(steady, lambda r: r["execute_s"])
    run_s = pass_sum(steady, lambda r: r["execute"].get("run_s", 0.0))
    out = {
        "session.start_s": (res["session_start_s"], "s"),
        "tables.read_s": (median([t["read_s"] for t in res["tables_probe"]]), "s"),
        "tables.read_jobs": (median([t["jobs"] for t in res["tables_probe"]]), "count"),
        "build.s": (build_s, "s"),
        "build.share": (build_s / wall if wall else 0.0, "ratio"),
        "execute.s": (exec_s, "s"),
        "execute.core_busy": (run_s / (exec_s * cores_n) if exec_s else 0.0, "ratio"),
    }
    for name, buckets, key, unit in COUNTERS:
        out[name] = (pass_sum(steady, lambda r: counter(r, buckets, key)), unit)
    for name, key, unit in PEAKS:
        out[name] = (max([counter(r, ("build", "execute"), key) for r in ok], default=0.0), unit)
    out.update({
        "codegen.compiles": (sum(r["codegen_compiles"] for r in first), "count"),
        "codegen.compile_s": (sum(r["codegen_compile_s"] or 0.0 for r in first), "s"),
        "codegen.steady_compiles": (pass_sum(steady, lambda r: r["codegen_compiles"]), "count"),
        "codegen.steady_compile_s": (pass_sum(steady, lambda r: r["codegen_compile_s"] or 0.0), "s"),
        "write.first_pass_mb": (sum(counter(r, ("build", "execute"), "write_mb") for r in first), "MB"),
        "host.canary_s": (median(res["canary_s"]), "s"),
        "host.loadavg": (res["host"]["loadavg_start"], "load"),
    })
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="use this input directory instead of the "
                    "workload's generated dataset (self-test only)")
    ap.add_argument("--queries", help="comma-separated subset (self-test only)")
    ap.add_argument("--corrupt", action="store_true",
                    help="alter one first-pass output before the oracle check "
                    "(self-test of the checker)")
    a = ap.parse_args()

    queries = a.queries.split(",") if a.queries else W.WORKLOADS[a.workload]
    cp = build()
    data_dir = a.data or make_inputs()
    subset = "-subset" if a.data or a.queries else ""
    run_dir = os.path.join(WORK, "runs", f"{a.workload}{subset}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    result_file = os.path.join(run_dir, "harness.json")

    n = cores()
    harness_args = ["--cores", str(n), "--workload", a.workload,
                    "--queries", ",".join(queries), "--data", data_dir,
                    "--out", out_dir, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--warmup-passes", str(WARMUP_PASSES),
                    "--min-passes", str(MIN_PASSES),
                    "--trace", str(a.trace),
                    "--result", result_file]
    shutil.rmtree(TMP, ignore_errors=True)
    log("harness start")
    run_java(java_cmd(cp, "perfbench.Harness", harness_args), "harness")
    log("harness done")
    with open(result_file) as fh:
        res = json.load(fh)
    setups = [res["setup_s"]]
    if not a.trace:
        for i in range(SETUP_SAMPLES - 1):
            f = os.path.join(run_dir, f"setup{i}.json")
            run_java(java_cmd(cp, "perfbench.Harness",
                              ["--cores", str(n), "--setup-only", "1", "--result", f]),
                     "setup probe", timeout=120)
            with open(f) as fh:
                setups.append(json.load(fh)["setup_s"])

    shutil.rmtree(TMP, ignore_errors=True)
    log("setup probes done")
    if a.corrupt:
        corrupt_one(out_dir, queries)
    verdict = oracle_check(data_dir, out_dir, queries)
    shutil.rmtree(out_dir, ignore_errors=True)
    log("oracle done")

    runs = res["first_pass"] + res["steady"]
    threw = sum(1 for r in runs if not r["ok"])
    bad_outputs = [q for q, v in verdict.items()
                   if v not in ORACLE_OK and v != "NO-OUTPUT"]
    attempted = len(runs)
    failed = threw + len(bad_outputs)

    e2e, p50, (tail_s, tail_pct, samples) = end_to_end(res, setups)
    e2e_all = dict(e2e, query_p50_s=(p50, "s"), query_tail_s=(tail_s, "s"),
                   failed_ratio=(failed / attempted, "ratio"))
    metrics = e2e if not a.trace else per_layer(res, n)
    detail = {
        "perfbench": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "cores": n, "heap": HEAP,
        "host": res["host"], "canary_s": res["canary_s"],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e_all.items()},
        "query_tail_percentile": tail_pct, "steady_samples": samples,
        "passes": max((r["pass"] for r in res["steady"]), default=0),
        "setup_samples_s": setups,
        "input_generation_s": input_generation_s(data_dir),
        "query_order": [f'{r["pass"]}:{r["query"]}' for r in runs],
        "oracle": verdict, "failures": res["failures"],
    }
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(dict(detail, harness=res), fh)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def corrupt_one(out_dir, queries):
    """Change one value of the first non-empty output, keeping its schema."""
    import glob
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    for q in queries:
        for f in sorted(glob.glob(os.path.join(out_dir, q, "*.parquet"))):
            tab = pq.read_table(f)
            if tab.num_rows == 0:
                continue
            i = next((j for j, c in enumerate(tab.columns)
                      if c.type in ("int64", "int32", "double")), None)
            if i is None:
                continue
            col = tab.column(i)
            bumped = pc.add(col, pc.cast(1, col.type))
            pq.write_table(tab.set_column(i, tab.field(i), bumped), f)
            log(f"corrupted {q}/{os.path.basename(f)} column {tab.field(i).name}")
            return q
    fail("no output could be corrupted")


if __name__ == "__main__":
    main()
