"""Metric catalogue of the tokencodec benchmark.

The single source of the names, units and directions that
``BENCHMARK.json`` lists; ``selftest.py`` checks the two agree and that
every run prints exactly these names with these units.

Every workload prints every end-to-end metric (and, traced, every
per-layer metric), so an end-to-end metric names a role each workload
fills (README.md has the table). A per-layer metric whose layer a
workload does not exercise reads 0 on that workload.
"""

from __future__ import annotations

# the workloads BENCHMARK.json lists, with why each exists
WORKLOADS = [
    ("ingest", "encode_from_parquet of a synthetic corpus into a fresh "
               "table, one commit: source read, shuffle, codec kernel and "
               "page write; no decode and no metadata growth"),
    ("churn", "2 iterations of append 100 docs, delete 2 and look up 3 "
              "ways, then compact: metadata IO, pruning and commits dominate"),
]
# runnable by hand (run.py --workload scan, table.py) but not listed in
# BENCHMARK.json: the run budget of the listed workloads leaves no room
# for a third; the traced ingest run measures the same read-side layers
EXTRA_WORKLOADS = [
    ("scan", "packed decode, audit and pack_sequences(2048) of a table "
             "encoded in set-up: the training-feed read side, no encode"),
]

# (name, unit, better, bound): bound is the share of the parent's median
# by which the metric may worsen before a change counts as a regression.
# Timings and memory get 0.25, the largest allowed: on a shared 4-core
# VM whole runs shift with the host; ten runs spread 0.04-0.18
# (IQR/median) on a quiet host and up to 0.35 (setup_s) on a busy one.
# bytes_per_tok is exact per seed; its spread is the corpus's, ~0.03-0.06.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("bytes_per_tok", "B/tok", "lower", 0.15),
    ("peak_pss_mb", "MB", "lower", 0.25),
]

# ingest (and scan) measure whole operations until this many seconds
# have passed; churn runs a fixed number of iterations instead
RUN_SECONDS = 8

OPS = ["encode", "decode", "audit", "pack", "lookup", "append", "delete",
       "compact"]

# public methods of fsio.LocalFS, counted around every call
FS_METHODS = ["mkdirs", "exists", "read_text", "create_excl", "write_atomic",
              "listdir", "isdir", "size", "mtime", "delete"]

# tokencodec.codecs.CODEC_NAMES plus the nested codec; "other" catches any
# name a later engine adds before this list learns it
CODEC_NAMES = ["plain", "bitpack", "rle", "dict", "for", "delta", "fsst",
               "constant", "grouped", "deflated", "nested", "fpshuf", "alp",
               "nullable", "basepack", "srle", "other"]


def per_layer() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in print order."""
    m = [
        ("session.start_s", "s"),
        ("session.first_call_s", "s"),
        ("encode_job.pack_source_s", "s"),
        ("encode_job.write_commit_s", "s"),
        ("partition.shuffle_s", "s"),
        ("partition.shuffle_write_bytes_per_tok", "B/tok"),
        ("partition.task_skew", "ratio"),
        ("codecs.encode_s", "s"),
        ("codecs.encode_tok_per_s_core", "tok/s"),
        ("codecs.encode_tok_per_s_1core", "tok/s"),
        ("codecs.decode_tok_per_s_1core", "tok/s"),
    ]
    m += [(f"codecs.chunks.{c}", "count") for c in CODEC_NAMES]
    m += [
        ("fsio.ops_per_lookup_plan", "count"),
        ("fsio.ops_per_lookup_plan_first", "count"),
        ("fsio.ops_per_lookup_plan_last", "count"),
    ]
    m += [(f"fsio.ops_per_lookup_plan.{f}", "count") for f in FS_METHODS]
    m += [
        ("fsio.io_ms_per_lookup_plan", "ms"),
        ("fsio.ops_per_append", "count"),
        ("fsio.ops_per_delete", "count"),
        ("table.snapshots_end", "count"),
        ("decode_job.plan_ms", "ms"),
        ("decode_job.exec_ms", "ms"),
        ("decode_job.files_read_per_lookup", "count"),
        ("decode_job.chunks_decoded_per_lookup", "count"),
        ("decode_job.lookup_yield", "ratio"),
        ("decode_job.decode_tok_per_s_core", "tok/s"),
        ("packing.lineage_s", "s"),
        ("packing.assemble_s", "s"),
        ("packing.shuffle_bytes_per_tok", "B/tok"),
        ("maintenance.compact_bytes_rewritten", "B"),
        ("maintenance.compact_files_in", "count"),
        ("maintenance.compact_files_out", "count"),
    ]
    for op in OPS:
        m += [(f"{op}.executor_run_s", "s"), (f"{op}.jvm_cpu_s", "s"),
              (f"{op}.tasks", "count"), (f"{op}.failed_tasks", "count")]
    # the traced run's own end-to-end figures: minus the untraced run's,
    # they are the tracing overhead
    m += [("traced.ops_per_s", "1/s"), ("traced.op_p50_ms", "ms")]
    return m


# (metric-name prefixes, layer, end-to-end metric @ workload it should
# move); the first matching row names a per-layer metric's layer
LAYER_MAP = [
    (("session.",), "session", "setup_s @ all"),
    (("encode_job.pack_source_s",), "encode_job",
     "ops_per_s @ ingest; audit_tok_per_s @ scan"),
    (("encode_job.write_commit_s",), "encode_job",
     "ops_per_s @ ingest; append_p50_ms @ churn"),
    (("partition.",), "partition", "ops_per_s @ ingest"),
    (("codecs.encode_",), "codecs", "ops_per_s @ ingest"),
    (("codecs.decode_",), "codecs", "op_p50_ms @ scan"),
    (("codecs.chunks.",), "codecs", "bytes_per_tok @ ingest"),
    (("fsio.", "table."), "fsio/table",
     "op_p50_ms, ops_per_s @ churn; nothing @ ingest, scan"),
    (("decode_job.decode_tok_per_s_core",), "decode_job", "op_p50_ms @ scan"),
    (("decode_job.",), "decode_job", "op_p50_ms @ churn"),
    (("packing.",), "packing", "ops_per_s @ scan"),
    (("maintenance.",), "maintenance", "compact_s @ churn"),
    (("traced.",), "tracing", "overhead: traced minus untraced run"),
    (tuple(f"{op}." for op in OPS), "Spark stages",
     "the operation's own metric"),
]


def layer_of(metric: str) -> tuple[str, str]:
    """(layer, what it should move) of a per-layer metric."""
    for prefixes, layer, moves in LAYER_MAP:
        if metric.startswith(prefixes):
            return layer, moves
    raise KeyError(metric)


def benchmark_json() -> dict:
    """The BENCHMARK.json document these lists define."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u,
                       "better": "higher" if u == "tok/s" or
                       n.endswith("lookup_yield") else "lower"}
                      for n, u in per_layer()],
    }


if __name__ == "__main__":
    import json
    import os
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json")
    with open(path, "w") as f:
        json.dump(benchmark_json(), f, indent=2)
        f.write("\n")
    print(f"wrote {path}")
