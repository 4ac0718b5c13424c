"""Regenerate the per-layer table in one command.

    python3 perfbench/table.py [--seed N] [--seconds S] [--size full|tiny]

Runs every workload twice through run.py, untraced and traced, each in
a fresh process, then prints markdown: the end-to-end metrics per
workload, the tracing overhead (traced minus untraced), and every
per-layer metric per workload with its layer and the end-to-end metric
it should move. A per-layer 0 means the workload does not exercise
that layer.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import spec  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: int,
        size: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace), "--size", size],
        cwd=ROOT, capture_output=True, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    a = ap.parse_args()
    names = [w for w, _ in spec.WORKLOADS + spec.EXTRA_WORKLOADS]
    plain = {w: run(w, a.seed, a.seconds, 0, a.size) for w in names}
    traced = {w: run(w, a.seed, a.seconds, 1, a.size) for w in names}

    def v(res, w, m):
        return res[w]["metrics"][m]["value"]

    print(f"## End to end (seed {a.seed}, {a.seconds:g} s per run)\n")
    print("| metric | unit | " + " | ".join(names) + " |")
    print("|---|---|" + "---|" * len(names))
    for m, u, _, _ in spec.END_TO_END:
        print(f"| {m} | {u} | "
              + " | ".join(f"{v(plain, w, m):.4g}" for w in names) + " |")
    print("| correct (untraced, traced) | | " + " | ".join(
        f"{plain[w]['correct']}, {traced[w]['correct']}" for w in names) + " |")
    print("\n## Tracing overhead (traced minus untraced)\n")
    print("| metric | " + " | ".join(names) + " |")
    print("|---|" + "---|" * len(names))
    for m in ("ops_per_s", "op_p50_ms"):
        print(f"| {m} | " + " | ".join(
            f"{v(traced, w, 'traced.' + m) - v(plain, w, m):+.4g} "
            f"({(v(traced, w, 'traced.' + m) / v(plain, w, m) - 1) * 100:+.1f}%)"
            for w in names) + " |")
    print("\n## Per layer (0: layer not exercised by the workload)\n")
    print("| layer | metric | unit | " + " | ".join(names)
          + " | should move |")
    print("|---|---|---|" + "---|" * len(names) + "---|")
    for m, u in spec.per_layer():
        layer, moves = spec.layer_of(m)
        print(f"| {layer} | {m} | {u} | "
              + " | ".join(f"{v(traced, w, m):.4g}" for w in names)
              + f" | {moves} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
