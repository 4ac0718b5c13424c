"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Checks that BENCHMARK.json is the document spec.py defines, that every
workload at the tiny size exits 0 with a correct result whose last
line carries exactly the end-to-end metrics (untraced) or the per-layer
metrics (traced) with their units, and that the benchmark exits
non-zero, printing no result, in a directory that holds only
BENCHMARK.json and perfbench/.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import spec  # noqa: E402


def check_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        have = json.load(f)
    want = spec.benchmark_json()
    if have != want:
        raise SystemExit("BENCHMARK.json differs from spec.benchmark_json(); "
                         "regenerate it with: python3 perfbench/spec.py")


def check_run(workload: str, trace: int) -> None:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"], cwd=ROOT, capture_output=True, text=True,
        timeout=180)
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} exited {p.returncode}:\n"
                         f"{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    want = (dict(spec.per_layer()) if trace else
            {n: u for n, u, _, _ in spec.END_TO_END})
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"top-level keys {sorted(res)}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        problems.append(f"correct={res['correct']} failed={res['failed']} "
                        f"attempted={res['attempted']}")
    got = {n: m["unit"] for n, m in res["metrics"].items()}
    if got != want:
        problems.append(f"metric names/units differ: extra "
                        f"{sorted(set(got) - set(want))}, missing "
                        f"{sorted(set(want) - set(got))}, unit mismatch "
                        f"{[n for n in got if n in want and got[n] != want[n]]}")
    for n, m in res["metrics"].items():
        if not isinstance(m["value"], (int, float)) or not math.isfinite(
                m["value"]):
            problems.append(f"{n} = {m['value']!r}")
        elif not trace and m["value"] <= 0:
            problems.append(f"end-to-end {n} = {m['value']} is not positive")
    if problems:
        raise SystemExit(f"{workload} trace={trace}: " + "; ".join(problems))
    print(f"ok  {workload} trace={trace}: {len(got)} metrics")


def check_bare_dir() -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "ingest",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        raise SystemExit(f"bare directory: exit {p.returncode}, stdout "
                         f"{p.stdout[-500:]!r}")
    print(f"ok  bare directory: exit {p.returncode}, no result")


def main() -> int:
    check_benchmark_json()
    check_bare_dir()
    for w, _ in spec.WORKLOADS + spec.EXTRA_WORKLOADS:
        for trace in (0, 1):
            check_run(w, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
