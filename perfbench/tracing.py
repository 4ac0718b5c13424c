"""Tracing for the benchmark's traced run, kept outside the engine.

- ``Spans``: in-memory spans (name, start, end, parent) recorded around
  each call the benchmark makes into a layer, written out at the end.
- ``FsCounter``: wraps the public methods of ``fsio.LocalFS`` to count
  metadata operations and their time.
- ``EventLog``: reads Spark's uncompressed event log and joins jobs to
  the job description set around each call, and SQL metrics to the plan
  node that produced them.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Spans:
    def __init__(self):
        self.t0 = time.perf_counter()
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.records), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None, **attrs}
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f)


class NullSpans:
    """Spans with tracing off: records nothing."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield {}


class FsCounter:
    """Counts calls to, and time inside, the public ``LocalFS`` methods.

    ``install`` patches the class for the life of the process; it is
    called once by the traced run's child process."""

    def __init__(self):
        self.ops: Counter = Counter()
        self.seconds = 0.0

    def install(self, methods: list[str]) -> None:
        from tokencodec.spark import fsio

        for name in methods:
            orig = getattr(fsio.LocalFS, name)

            def wrapped(*a, _orig=orig, _name=name, **kw):
                t0 = time.perf_counter()
                try:
                    return _orig(*a, **kw)
                finally:
                    self.ops[_name] += 1
                    self.seconds += time.perf_counter() - t0

            setattr(fsio.LocalFS, name, wrapped)

    def mark(self) -> tuple[Counter, float]:
        return Counter(self.ops), self.seconds

    def since(self, mark: tuple[Counter, float]) -> tuple[Counter, float]:
        ops0, s0 = mark
        return self.ops - ops0, self.seconds - s0


def spark_submit_args(event_dir: str | None, tmp_dir: str) -> str:
    """PYSPARK_SUBMIT_ARGS for the child: no console progress bar, JVM
    temp files inside the work dir, and the event log when tracing."""
    conf = ["--conf spark.ui.showConsoleProgress=false",
            f"--driver-java-options '-Djava.io.tmpdir={tmp_dir} "
            "-XX:-UsePerfData'"]
    if event_dir:
        conf += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{event_dir}",
                 "--conf spark.eventLog.compress=false"]
    return " ".join(conf + ["pyspark-shell"])


def _walk(node):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


class EventLog:
    """Stage, task and SQL-metric facts of one application's event log."""

    def __init__(self, event_dir: str):
        files = sorted(glob.glob(os.path.join(event_dir, "eventlog_v2_*",
                                              "events_*")))
        files += sorted(p for p in glob.glob(os.path.join(event_dir, "*"))
                        if os.path.isfile(p))
        self.job_desc: dict[int, str] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.accum: Counter = Counter()
        self.plans: dict[int, list[dict]] = defaultdict(list)
        self.exec_desc: dict[int, str] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.job_desc[e["Job ID"]] = props.get("spark.job.description") or ""
            self.job_stages[e["Job ID"]] = e["Stage IDs"]
        elif kind == "SparkListenerTaskEnd":
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            self.tasks[e["Stage ID"]].append({
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "dur_ms": info["Finish Time"] - info["Launch Time"],
                "failed": bool(info.get("Failed")),
                "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
            })
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    self.accum[a["ID"]] += int(a["Update"])
        elif kind.endswith("SQLExecutionStart"):
            self.exec_desc[e["executionId"]] = e.get("description") or ""
            self.plans[e["executionId"]].append(e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self.plans[e["executionId"]].append(e["sparkPlanInfo"])
        elif kind.endswith("DriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.accum[acc_id] += int(value)

    def stages_of(self, desc_prefix: str) -> list[int]:
        return sorted({s for j, d in self.job_desc.items()
                       if d.startswith(desc_prefix)
                       for s in self.job_stages[j]})

    def task_totals(self, desc_prefix: str) -> dict:
        tasks = [t for s in self.stages_of(desc_prefix) for t in self.tasks[s]]
        return {"executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
                "jvm_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
                "tasks": len(tasks),
                "failed_tasks": sum(t["failed"] for t in tasks),
                "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks)}

    def task_skew(self, desc_prefix: str) -> float:
        """max / median task duration of the busiest stage."""
        stages = [self.tasks[s] for s in self.stages_of(desc_prefix)
                  if self.tasks[s]]
        if not stages:
            return 0.0
        busiest = max(stages, key=lambda ts: sum(t["run_ms"] for t in ts))
        durs = sorted(max(t["dur_ms"], 1) for t in busiest)
        return durs[-1] / durs[len(durs) // 2]

    def sql_metric(self, desc_prefix: str, node_text: str, metric: str,
                   below: bool = False) -> float:
        """Sum of one SQL metric over the executions whose description
        starts with ``desc_prefix``. The metric is read from the plan
        node whose text contains ``node_text`` or, with ``below``, from
        the first node under it that carries the metric. Timing metrics
        come back in seconds."""
        total = 0.0
        for ex, desc in self.exec_desc.items():
            if not desc.startswith(desc_prefix):
                continue
            ids: dict[int, str] = {}
            for plan in self.plans[ex]:
                for node in _walk(plan):
                    if node_text not in node.get("simpleString", "") + \
                            node.get("nodeName", ""):
                        continue
                    cands = ([n for c in node.get("children", [])
                              for n in _walk(c)] if below else [node])
                    for n in cands:
                        hit = [m for m in n.get("metrics", [])
                               if m["name"] == metric]
                        if hit:
                            ids.update((m["accumulatorId"], m["metricType"])
                                       for m in hit)
                            break
            for acc_id, kind in ids.items():
                v = self.accum.get(acc_id, 0)
                total += (v / 1e9 if kind == "nsTiming"
                          else v / 1e3 if kind == "timing" else v)
        return total
