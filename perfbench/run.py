"""tokencodec benchmark: one workload, one run.

    python3 perfbench/run.py --workload {ingest,scan,churn} --seed N \
        --seconds S --trace {0,1} [--size {full,tiny}]

Run from the repository root. The workload runs in a fresh child
process (perfbench/child.py) on local[<usable cores>]; this parent
samples the PSS of the child's whole process tree from /proc, stops
every process the child started, and prints a report followed by one
JSON line: correct, attempted, failed and metrics. With --trace 0 the
metrics are the end-to-end metrics, with --trace 1 the per-layer ones.

All files go under the repository root: scratch tables, corpora and
the Spark local dir in .perfbench_work/ (removed after the run), spans
and the event log of traced runs in .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import spec  # noqa: E402
from perfbench.tracing import spark_submit_args  # noqa: E402

CHILD_TIMEOUT_S = 170
SAMPLE_EVERY_S = 0.2


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, process group) of every live (not zombie) process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (FileNotFoundError, ProcessLookupError):
                continue
            if fields[0] != "Z":
                out[int(d)] = (int(fields[1]), int(fields[2]))
    return out


def descendants(root_pid: int, procs: dict) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among its sharers, so a forked child is not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def stop_groups(pgids: set[int]) -> None:
    """SIGTERM, then SIGKILL, every process of these groups; wait until
    none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for g in pgids:
            try:
                os.killpg(g, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 10.0
        while time.monotonic() < end:
            if not any(g in pgids for _, g in _procs().values()):
                return
            time.sleep(0.1)


def run_child(cmd: list[str], cwd: str, env: dict,
              log: str) -> tuple[int, int]:
    """Run the workload process; return its exit code and the peak PSS
    of its process tree. Every process it started is stopped."""
    peak = 0
    with open(log, "w") as lf:
        child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=lf,
                                 stderr=subprocess.STDOUT,
                                 start_new_session=True)
        # the child's own group, plus any group a descendant opens (the
        # PySpark worker daemon starts one for its workers)
        groups = {child.pid}
        try:
            end = time.monotonic() + CHILD_TIMEOUT_S
            while child.poll() is None and time.monotonic() < end:
                procs = _procs()
                tree = descendants(child.pid, procs)
                groups |= {procs[p][1] for p in tree if p in procs}
                peak = max(peak, sum(pss_bytes(p) for p in tree))
                time.sleep(SAMPLE_EVERY_S)
        finally:
            stop_groups(groups)
            child.wait()
    return child.returncode, peak


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w for w, _ in spec.WORKLOADS + spec.EXTRA_WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    a = ap.parse_args()
    # a terminated run still stops the processes it started (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "tokencodec", "__init__.py")):
        print(f"perfbench: no tokencodec package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", tag)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    events = os.path.join(out_dir, f"events-{tag}") if a.trace else ""
    for d in (tmp, local, out_dir) + ((events,) if events else ()):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        # Python workers import tokencodec and perfbench from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "TOKENCODEC_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "TOKENCODEC_DRIVER_MEM": "2g",
        "PYSPARK_SUBMIT_ARGS": spark_submit_args(events or None, tmp),
    })
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "child.log")
    cmd = [sys.executable, "-m", "perfbench.child",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--size", a.size, "--work", work,
           "--result", result, "--event-dir", events,
           "--spans", os.path.join(out_dir, f"spans-{tag}.json")]
    try:
        rc, peak = run_child(cmd, work, env, log)
        if rc != 0 or not os.path.isfile(result):
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
            print(f"perfbench: workload {a.workload} failed (exit {rc})",
                  file=sys.stderr)
            return 1
        with open(result) as f:
            res = json.load(f)
        if a.trace:
            shutil.copy(log, os.path.join(out_dir, f"log-{tag}.txt"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    peak_mb = peak / 2 ** 20
    units = dict(spec.per_layer()) if a.trace else {
        n: u for n, u, _, _ in spec.END_TO_END}
    metrics = dict(res["metrics"])
    if not a.trace:
        metrics["peak_pss_mb"] = peak_mb

    print(f"# tokencodec benchmark: workload={a.workload} seed={a.seed} "
          f"seconds={a.seconds} trace={a.trace}")
    for k, v in res["host"].items():
        print(f"# host.{k} = {v}")
    print(f"# {a.workload}: per-operation metrics")
    for name, value, unit, note in res["report"]:
        print(f"  {name:<28} {value:>16.4f} {unit:<6} {note}")
    print(f"  {'peak_pss_mb':<28} {peak_mb:>16.4f} MB")
    for msg in res["failures"]:
        print(f"# FAILED {msg.splitlines()[0]}")
    print(f"# {'per-layer' if a.trace else 'end-to-end'} metrics")
    for name in units:
        print(f"  {name:<44} {metrics[name]:>16.4f} {units[name]}")
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": metrics[n], "unit": u}
                    for n, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
