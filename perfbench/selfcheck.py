"""Smoke self-check of the benchmark: every workload end to end at tiny
sizes, with tracing off and on, through the same command line the full
benchmark uses. Each run must finish, print its result as the last stdout
line with the expected metric names, and pass its oracle checks; a traced
run's per-stage Spark metrics must add up to the executors' totals. Last, a
copy of the benchmark without the engine package must fail fast without a
result.

    python3 perfbench/selfcheck.py [--workload NAME ...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.run import END_TO_END, WORKLOADS  # noqa: E402

SMOKE_SECONDS = {"bulk_replay": 2, "tail_fanout2": 4}


def run_one(workload: str, trace: int) -> tuple[bool, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(SMOKE_SECONDS[workload]),
           "--trace", str(trace), "--smoke"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        return False, f"exit {proc.returncode}: {proc.stderr[-800:]}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    want = set(PER_LAYER if trace else END_TO_END)
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(result)}")
    if set(result["metrics"]) != want:
        problems.append(f"metrics differ: {sorted(set(result['metrics']) ^ want)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"correct={result['correct']} failed={result['failed']}")
    if trace:
        # the traced run's stage metrics add up to the executors' totals
        record = os.path.join(ROOT, ".perfbench_out",
                              f"{workload}-seed7-trace1.json")
        with open(record) as f:
            checks = {c["name"]: c["ok"] for c in json.load(f)["checks"]}
        if not checks.get("stage metrics reconcile with executor totals"):
            problems.append("stage metrics do not reconcile")
    return not problems, f"{wall:.0f}s " + "; ".join(problems)


def run_without_engine() -> tuple[bool, str]:
    """The benchmark alone (no tiflow_spark next to it) must fail fast."""
    bare = os.path.join(ROOT, ".perfbench_work", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "bulk_replay",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
            env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    printed = any(line.startswith("{\"correct\"")
                  for line in proc.stdout.splitlines())
    return proc.returncode != 0 and not printed, f"exit {proc.returncode}"


def benchmark_json_matches() -> tuple[bool, str]:
    """BENCHMARK.json lists exactly the metrics and workloads run.py has."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    problems = []
    e2e = {m["name"]: m["unit"] for m in doc["end_to_end"]}
    if e2e != END_TO_END:
        problems.append("end_to_end differs from run.END_TO_END")
    if {m["name"]: m["unit"] for m in doc["per_layer"]} != PER_LAYER:
        problems.append("per_layer differs from layers.PER_LAYER")
    unknown = {w["name"] for w in doc["workloads"]} - set(WORKLOADS)
    if unknown:
        problems.append(f"unknown workloads {sorted(unknown)}")
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    if bounds.get("setup_s") != max(bounds.values()):
        problems.append("setup_s must carry the largest bound")
    return not problems, "; ".join(problems)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    args = ap.parse_args()
    ok, detail = benchmark_json_matches()
    failures = not ok
    print(f"{'ok ' if ok else 'FAIL'} BENCHMARK.json matches run.py {detail}")
    for workload in args.workload or WORKLOADS:
        for trace in (0, 1):
            ok, detail = run_one(workload, trace)
            failures += not ok
            print(f"{'ok ' if ok else 'FAIL'} {workload} trace={trace} {detail}")
    ok, detail = run_without_engine()
    failures += not ok
    print(f"{'ok ' if ok else 'FAIL'} without the engine package: {detail}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
