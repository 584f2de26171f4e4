#!/usr/bin/env python3
"""Self-test of the benchmark on a tiny input (sf 0.001).

Usage (from the repository root): python3 perfbench/selftest.py

  1. One query of every workload runs end to end, untraced and traced, and
     its output passes the oracle check.
  2. Every metric named in BENCHMARK.json appears in the matching result
     with the unit BENCHMARK.json gives it.
  3. A run whose first-pass output is deliberately altered before the
     oracle check reports it: `correct` false, `failed` 1, and a
     `failed_ratio` above 0. This tests the checker itself.

Exits 0 when all hold, 1 otherwise.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen_tables  # noqa: E402
import workloads  # noqa: E402

DATA = os.path.join(ROOT, ".perfbench", "data", "selftest-sf0.001")


def run(workload, query, trace, corrupt=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--data", DATA, "--queries", query] + (["--corrupt"] if corrupt else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run.py failed for {workload}/{query}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if not os.path.exists(os.path.join(DATA, "lineitem.parquet")):
        gen_tables.write(DATA, 0.001, 42)
    problems = []

    def check_metrics(what, got, declared):
        for m in declared:
            v = got.get(m["name"])
            if v is None:
                problems.append(f"{what}: metric {m['name']} missing")
            elif v["unit"] != m["unit"]:
                problems.append(f"{what}: {m['name']} unit {v['unit']} != {m['unit']}")

    for w in bench["workloads"]:
        query = workloads.WORKLOADS[w["name"]][0]
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            detail, result = run(w["name"], query, trace)
            what = f"{w['name']}/{query}/trace{trace}"
            if not result["correct"] or result["failed"]:
                problems.append(f"{what}: failed {result['failed']}, oracle {detail['oracle']}")
            check_metrics(what, result["metrics"], declared)
            print(f"ok {what}: oracle {detail['oracle'][query]}", flush=True)

    w = bench["workloads"][0]["name"]
    query = workloads.WORKLOADS[w][0]
    detail, result = run(w, query, 0, corrupt=True)
    ratio = detail["end_to_end"]["failed_ratio"]["value"]
    if result["correct"] or result["failed"] != 1 or not ratio > 0:
        problems.append(f"corrupted output not counted: failed {result['failed']}, "
                        f"failed_ratio {ratio}, oracle {detail['oracle']}")
    else:
        print(f"ok corrupted {w}/{query}: oracle {detail['oracle'][query]}, "
              f"failed_ratio {ratio:.3f}")

    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
