"""One benchmark workload in one fresh process (started by run.py).

Drives the engine only through its public functions, on
``local[<cores this process may use>]``, with one closed-loop client:
the driver thread issues the next operation when the previous one
returns. Every operation's result is checked; a wrong result or an
exception counts as a failed operation and the run goes on.

Writes one JSON document (``--result``) holding the metrics, a
human-readable report and the host facts; run.py prints them.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict

import numpy as np

from perfbench import spec
from perfbench.tracing import EventLog, FsCounter, NullSpans, Spans

# rows of the synthetic corpus per workload; churn appends ``batch``
# fresh documents per iteration. "tiny" is the self-test size.
SIZES = {
    "full": {"ingest": 16000, "scan": 4000, "churn": 6000, "batch": 100},
    "tiny": {"ingest": 400, "scan": 400, "churn": 200, "batch": 20},
}
# timed churn iterations after the warm-up one: two, so the first and
# the last differ in chain length
CHURN_ITERS = 2
SEQ_LEN = 2048
# fresh churn doc ids start here, far above any base-table id
FRESH_ID0 = 10 ** 9
# driver-side codec probe stops after this many tokens
CODEC_PROBE_TOKENS = 4_000_000


def doc_id(i: int) -> str:
    return f"doc-{i:012d}"


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile with at least
    ten samples beyond it; with fewer than 11 samples, the maximum."""
    s = sorted(values)
    n = len(s)
    if n > 10:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return s[-1], 100.0, n


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def mount_of(path: str) -> str:
    """'<mount point> (<fs type>)' of the filesystem holding ``path``."""
    best = ("/", "?")
    path = os.path.realpath(path)
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, fstype = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) \
                    and len(mnt) >= len(best[0]):
                best = (mnt, fstype)
    return f"{best[0]} ({best[1]})"


class Bench:
    def __init__(self, a: argparse.Namespace):
        self.a = a
        self.seed = a.seed
        self.size = SIZES[a.size]
        self.rows = self.size[a.workload]
        self.work = a.work
        self.cores = len(os.sched_getaffinity(0))
        self.spans = Spans() if a.trace else NullSpans()
        self.fs = FsCounter() if a.trace else None
        if self.fs:
            self.fs.install(spec.FS_METHODS)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.calls: Counter = Counter()
        self.report: list[tuple[str, float, str, str]] = []
        self.layer = {n: 0.0 for n, _ in spec.per_layer()}
        self.e2e: dict[str, float] = {}
        self.lookups: list[dict] = []
        # walls of the correct operations of the timed loop
        self.timing = False
        self.timed_walls: list[float] = []

    # -- operations ---------------------------------------------------

    def op(self, name: str, fn, check=None, sample: str | None = None):
        """Run one operation under job description ``name#k``; time it,
        check its result, and count it. Returns the result or None."""
        k = self.calls[name]
        self.calls[name] += 1
        self.attempted += 1
        self.sc.setJobDescription(f"{name}#{k}")
        try:
            with self.spans.span(name, call=k):
                t0 = time.perf_counter()
                out = fn()
                wall = time.perf_counter() - t0
        except Exception:
            self._fail(f"{name}#{k} raised:\n{traceback.format_exc()}")
            return None
        finally:
            self.sc.setJobDescription(None)
        problem = check(out) if check else None
        if problem:
            self._fail(f"{name}#{k}: {problem}")
        else:
            self.samples[sample or name].append(wall)
            if self.timing:
                self.timed_walls.append(wall)
        return out

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg)
        print(f"FAILED {msg}", file=sys.stderr, flush=True)

    # -- set-up -------------------------------------------------------

    def start(self) -> None:
        t0 = time.perf_counter()
        from tokencodec.spark.session import get_spark
        self.spark = get_spark("perfbench", cores=self.cores)
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.spark.range(0, 64, 1, self.cores).count()
        self.layer["session.first_call_s"] = time.perf_counter() - t0

    def write_corpus(self, path: str, rows: int) -> None:
        """The synthetic corpus as uncompressed Spark parquet: the size
        reference the encoded table is compared against."""
        from tokencodec.spark import synth
        (synth.token_table(self.spark, rows, seed=self.seed)
         .write.mode("overwrite").option("compression", "uncompressed")
         .parquet(path))

    def setup(self) -> None:
        """Generate the workload's data and pre-encode its table. The
        first encode in the process is cold, so this also warms the
        encode path."""
        from tokencodec.spark import encode_job
        self.src = os.path.join(self.work, "src")
        self.root = os.path.join(self.work, "table")
        self.sc.setJobDescription("setup")
        if self.a.workload == "churn":
            # the base table goes through encode(), the path appends take
            encode_job.encode(
                self.spark, self.batch_frame(0, self.rows, self.cores),
                self.root)
            self.tokens = self.table_facts(self.root)["n_tokens"]
        else:
            import pyarrow.parquet as pq
            self.write_corpus(self.src, self.rows)
            encode_job.encode_from_parquet(
                self.spark, self.src, self.root,
                **({"commit_groups": 1} if self.a.workload == "ingest" else {}))
            self.tokens = int(pq.read_table(self.src, columns=["n_tok"])
                              .column(0).to_numpy().sum())
            self.ref_bytes = sum(os.path.getsize(os.path.join(self.src, f))
                                 for f in os.listdir(self.src)
                                 if f.endswith(".parquet"))
        self.sc.setJobDescription(None)

    # -- table facts --------------------------------------------------

    def table_facts(self, root: str) -> dict:
        """Commit metrics, exact codec mix and stored bytes of a table:
        live data and delete files of the current snapshot plus all
        metadata outside data/."""
        import pyarrow.parquet as pq

        from tokencodec.spark.table import SnapshotTable
        tbl = SnapshotTable(root)
        snap = tbl.current_snapshot()
        live = [p for ps in tbl.committed_groups().values() for p in ps]
        mix: Counter = Counter()
        for p in tbl.data_paths():
            t = pq.read_table(p.replace("file://", ""), columns=[
                "tokens_codec", "doc_id_codec", "n_tok_codec", "source_codec"])
            for row in zip(*(t.column(i).to_pylist() for i in range(4))):
                mix["/".join(row)] += 1
        data_bytes = 0
        for p in live:
            p = p.replace("file://", "")
            data_bytes += tree_bytes(p) if os.path.isdir(p) else os.path.getsize(p)
        meta_bytes = sum(tree_bytes(os.path.join(root, d))
                         for d in os.listdir(root) if d != "data")
        m = snap["metrics"]
        totals = m.get("table_totals") or m
        return {"n_rows": int(totals["n_rows"]),
                "n_tokens": int(totals["n_tokens"]),
                "enc_bytes": int(totals["enc_bytes"]),
                "mix": dict(mix), "stored_bytes": data_bytes + meta_bytes,
                "snapshots": snap["snapshot_id"]}

    # -- workloads ----------------------------------------------------

    def run(self) -> None:
        wl = self.a.workload
        with self.spans.span("session"):
            self.start()
        t0 = time.perf_counter()
        with self.spans.span("setup"):
            self.setup()
        t1 = time.perf_counter()
        with self.spans.span("warm_up"):
            getattr(self, f"warm_{wl}")()
        self.setup_parts = {
            "start": self.layer["session.start_s"],
            "first_call": self.layer["session.first_call_s"],
            "data": t1 - t0, "warm_up": time.perf_counter() - t1}
        self.e2e["setup_s"] = sum(self.setup_parts.values())
        deadline = time.perf_counter() + self.a.seconds
        self.timing = True
        with self.spans.span("loop"):
            getattr(self, f"loop_{wl}")(deadline)
        self.e2e["ops_per_s"] = (len(self.timed_walls) / sum(self.timed_walls)
                                 if self.timed_walls else math.nan)
        if self.a.trace:
            with self.spans.span("probe"):
                getattr(self, f"probe_{wl}")()
                self.codec_probe()

    # ingest ------------------------------------------------------------

    def warm_ingest(self) -> None:
        # the set-up encode warmed the encode path
        self.ref = self.table_facts(self.root)

    def check_ingest(self, root: str) -> str | None:
        f = self.table_facts(root)
        want = {"n_rows": self.rows, "n_tokens": self.tokens,
                "enc_bytes": self.ref["enc_bytes"], "mix": self.ref["mix"]}
        bad = {k: (f[k], v) for k, v in want.items() if f[k] != v}
        self.last = f
        return f"facts differ (got, want): {bad}" if bad else None

    def loop_ingest(self, deadline: float) -> None:
        from tokencodec.spark import decode_job, encode_job
        i = 0
        while time.perf_counter() < deadline:
            root = os.path.join(self.work, f"enc{i}")
            self.op("encode", lambda: encode_job.encode_from_parquet(
                self.spark, self.src, root, commit_groups=1),
                check=lambda _: self.check_ingest(root))
            if i:
                shutil.rmtree(os.path.join(self.work, f"enc{i - 1}"))
            i += 1
        self.ingest_root = os.path.join(self.work, f"enc{i - 1}")
        # each encode above matched the set-up encode's bytes and codec
        # mix; this untimed audit checks the last table's content
        # against the source
        self.timing = False
        self.op("audit", lambda: decode_job.audit(
            encode_job.pack_source(self.spark, self.src),
            decode_job.decode(self.spark, self.ingest_root, packed=True)),
            check=lambda r: None if r.get("ok") else f"audit {r}")
        enc = self.samples["encode"] or [math.nan]
        p50 = statistics.median(enc)
        facts = self.last if self.samples["encode"] else self.ref
        self.e2e.update(op_p50_ms=p50 * 1e3,
                        bytes_per_tok=facts["stored_bytes"] / self.tokens)
        t, pct, n = tail(enc)
        self.report += [
            ("encode_tok_per_s", self.tokens / p50, "tok/s", ""),
            ("enc_bytes_per_tok", facts["enc_bytes"] / self.tokens, "B/tok",
             f"enc_bytes={facts['enc_bytes']}"),
            ("stored_bytes_per_tok", facts["stored_bytes"] / self.tokens,
             "B/tok", f"stored_bytes={facts['stored_bytes']}"),
            ("ref_parquet_bytes_per_tok", self.ref_bytes / self.tokens,
             "B/tok", "uncompressed Spark parquet of the corpus"),
            ("encode_p50_ms", p50 * 1e3, "ms", f"n={len(enc)}"),
            ("encode_tail_ms", t * 1e3, "ms", f"p{pct:.0f} of n={n}"),
        ]

    def probe_ingest(self) -> None:
        """Noop-sink split of the encode pipeline: pack_source, then
        +bucketed shuffle, then +mapInArrow(make_encoder)."""
        from tokencodec.spark import encode_job
        from tokencodec.spark import partition as part
        spark, src = self.spark, self.src
        splits, n_rows, n_bytes = encode_job.parquet_splits(
            src, return_stats=True)
        n_salts = part.salts_for(n_rows)
        partitions = max(self.sc.defaultParallelism,
                         n_bytes // encode_job.TARGET_TASK_BYTES)

        def packed():
            return encode_job.pack_source(spark, src, splits)

        def shuffled():
            return part.bucketed(packed(), n_salts=n_salts,
                                 partitions=partitions)

        def encoded():
            return (shuffled()
                    .select("doc_id", "tokens", "n_tok", "source", "bucket",
                            "salt")
                    .mapInArrow(encode_job.make_encoder(commit_groups=1),
                                encode_job.PAGES_DDL))

        walls = {}
        for name, build in [("pack_source", packed), ("bucketed", shuffled),
                            ("encoder", encoded)]:
            ws = []
            for r in range(2):
                self.sc.setJobDescription(f"noop.{name}#{r}")
                with self.spans.span(f"noop.{name}"):
                    t0 = time.perf_counter()
                    build().write.format("noop").mode("overwrite").save()
                    ws.append(time.perf_counter() - t0)
            walls[name] = statistics.median(ws)
        self.sc.setJobDescription(None)
        self.layer["encode_job.pack_source_s"] = walls["pack_source"]
        self.layer["partition.shuffle_s"] = walls["bucketed"] - walls["pack_source"]
        self.layer["codecs.encode_s"] = walls["encoder"] - walls["bucketed"]
        self.layer["encode_job.write_commit_s"] = (
            self.e2e["op_p50_ms"] / 1e3 - walls["encoder"])
        # the read side of the freshly encoded table, for the decode_job
        # and packing layers
        self.root = self.ingest_root
        self.scan_iteration()
        self.probe_scan()

    # scan --------------------------------------------------------------

    def scan_iteration(self, deadline: float = math.inf) -> None:
        from tokencodec.spark import decode_job, encode_job, packing
        spark, root = self.spark, self.root
        n_seq = -(-self.tokens // SEQ_LEN)
        self.op("decode", lambda: decode_job.decode(
            spark, root, packed=True).count(),
            check=lambda n: None if n == self.rows else
            f"decoded {n} rows, source has {self.rows}")
        if time.perf_counter() >= deadline:
            return
        self.op("audit", lambda: decode_job.audit(
            encode_job.pack_source(spark, self.src),
            decode_job.decode(spark, root, packed=True)),
            check=lambda r: None if r.get("ok") else f"audit {r}")
        if time.perf_counter() >= deadline:
            return
        self.op("pack", lambda: packing.pack_sequences(
            decode_job.decode(spark, root,
                              columns=["doc_id", "tokens", "n_tok"]),
            SEQ_LEN).count(),
            check=lambda n: None if n == n_seq else
            f"{n} packed sequences, want ceil({self.tokens}/{SEQ_LEN})={n_seq}")

    def warm_scan(self) -> None:
        self.scan_iteration()
        for k in ("decode", "audit", "pack"):
            self.samples[k].clear()

    def loop_scan(self, deadline: float) -> None:
        first = True
        while time.perf_counter() < deadline:
            # the first iteration always runs whole
            self.scan_iteration(math.inf if first else deadline)
            first = False
        med = {k: statistics.median(self.samples[k] or [math.nan])
               for k in ("decode", "audit", "pack")}
        self.e2e.update(
            op_p50_ms=med["decode"] * 1e3,
            bytes_per_tok=self.table_facts(self.root)["stored_bytes"] / self.tokens)
        for k in ("decode", "audit", "pack"):
            self.report.append((f"{k}_tok_per_s", self.tokens / med[k], "tok/s",
                                f"n={len(self.samples[k])}"))

    def probe_scan(self) -> None:
        from tokencodec.spark import decode_job, packing
        decoded = decode_job.decode(self.spark, self.root,
                                    columns=["doc_id", "tokens", "n_tok"])
        self.sc.setJobDescription("packing.lineage")
        with self.spans.span("packing.lineage"):
            t0 = time.perf_counter()
            lin = packing.pack_lineage(decoded, SEQ_LEN).cache()
            lin.count()
            self.layer["packing.lineage_s"] = time.perf_counter() - t0
        self.sc.setJobDescription("packing.assemble")
        with self.spans.span("packing.assemble"):
            t0 = time.perf_counter()
            packing.pack_sequences(decoded, SEQ_LEN, lineage=lin).count()
            self.layer["packing.assemble_s"] = time.perf_counter() - t0
        self.sc.setJobDescription(None)
        lin.unpersist()

    # churn -------------------------------------------------------------

    def batch_frame(self, lo: int, hi: int, parts: int = 1):
        from tokencodec.spark import synth
        seed = self.seed

        def gen(it):
            for b in it:
                yield synth.generate_batch(
                    seed, b.column(0).to_numpy(zero_copy_only=False))

        return self.spark.range(lo, hi, 1, parts).mapInArrow(
            gen, synth.SCHEMA_DDL)

    def expected(self, ids: list[int]) -> dict[str, list[int]]:
        from tokencodec.spark import synth
        b = synth.generate_batch(self.seed, np.array(ids, dtype=np.int64))
        return dict(zip(b.column(0).to_pylist(), b.column(1).to_pylist()))

    def lookup(self, sample: str, kind: str, want: dict[str, list[int]],
               name: str = "lookup", **kw) -> None:
        """decode(...) then collect: one lookup, split into plan (the
        decode call) and execution (the collect)."""
        from tokencodec.spark import decode_job
        facts = {}

        def run():
            mark = self.fs.mark() if self.fs else None
            t0 = time.perf_counter()
            with self.spans.span("decode_job.decode"):
                df = decode_job.decode(self.spark, self.root, **kw)
            t1 = time.perf_counter()
            if self.fs:
                facts["fs_ops"], facts["fs_s"] = self.fs.since(mark)
            with self.spans.span("collect"):
                rows = df.select("doc_id", "tokens").collect()
            facts.update(plan_s=t1 - t0, exec_s=time.perf_counter() - t1,
                         rows=len(rows), sample=sample, kind=kind)
            return rows

        def check(rows):
            got = {r["doc_id"]: list(r["tokens"]) for r in rows}
            if sorted(got) != sorted(want):
                return f"{kw}: got ids {sorted(got)}, want {sorted(want)}"
            bad = [d for d in want if got[d] != want[d]]
            return f"{kw}: wrong tokens for {bad}" if bad else None

        if self.op(name, run, check=check, sample=sample) is not None:
            self.lookups.append(facts)

    def churn_iteration(self, i: int, tag: str = "",
                        kinds: int = 3) -> None:
        """Append a fresh batch, delete two of its ids, then look up a
        surviving id (point), a deleted id and a 3-id batch, or only the
        first ``kinds`` of these. ``tag`` prefixes the operation names
        (the warm-up iteration's)."""
        from tokencodec.spark import encode_job, maintenance
        from tokencodec.spark.table import SnapshotTable
        n = self.size["batch"]
        lo = FRESH_ID0 + i * n
        ids = list(range(lo, lo + n))
        want = self.expected(ids)
        mark = self.fs.mark() if self.fs else None

        def appended(_):
            m = SnapshotTable(self.root).current_snapshot()["metrics"]
            return None if m.get("n_rows") == n else f"append metrics {m}"

        self.op(f"{tag}append", lambda: encode_job.encode(
            self.spark, self.batch_frame(lo, lo + n), self.root,
            commit_groups=1, group_prefix=f"w{i + 1:05d}-" if tag
            else f"a{i:05d}-"), check=appended)
        if self.fs:
            self.append_ops.append(sum(self.fs.since(mark)[0].values()))
            mark = self.fs.mark()
        gone = [doc_id(lo), doc_id(lo + 1)]
        self.op(f"{tag}delete", lambda: maintenance.delete_docs(
            self.spark, self.root, gone),
            check=lambda s: None if s["metrics"].get("n_delete_ids") == 2
            else f"delete metrics {s['metrics']}")
        if self.fs:
            self.delete_ops.append(sum(self.fs.since(mark)[0].values()))
        keep = doc_id(lo + 2 + (self.seed + i) % (n - 2))
        keep2 = doc_id(lo + 2 + (self.seed + i + 1) % (n - 2))
        base = (self.seed * 7 + i * 13) % self.size["churn"]
        self.probe_ids = (keep, want[keep], gone[0])
        for kind, want_rows, kw in [
                ("point", {keep: want[keep]},
                 {"doc_id_min": keep, "doc_id_max": keep}),
                ("deleted", {}, {"doc_id_min": gone[0], "doc_id_max": gone[0]}),
                ("batch", {keep2: want[keep2], **self.expected([base])},
                 {"doc_ids": [gone[1], keep2, doc_id(base)]})][:kinds]:
            self.lookup(f"{tag}lookup", kind, want_rows,
                        name=f"{tag}lookup", **kw)

    def warm_churn(self) -> None:
        # an append, a delete and a point lookup warm their paths (the
        # first of each in a process is up to 3x slower); the fresh ids
        # lie below the timed iterations'
        self.append_ops: list[int] = []
        self.delete_ops: list[int] = []
        self.churn_iteration(-1, tag="warmup.", kinds=1)
        self.append_ops.clear()
        self.delete_ops.clear()
        self.lookups.clear()

    def loop_churn(self, deadline: float) -> None:
        from tokencodec.spark import maintenance
        from tokencodec.spark.table import SnapshotTable
        # a fixed number of iterations, not a deadline: each one grows
        # the snapshot chain, so a run's operation mix, chain lengths
        # and compaction input must not depend on how fast the host is.
        # --seconds bounds the ingest loop only.
        for i in range(CHURN_ITERS):
            self.churn_iteration(i)
        self.timing = False
        tbl = SnapshotTable(self.root)
        before = set(tbl.data_paths())
        self.op("compact", lambda: maintenance.compact(self.spark, self.root),
                check=lambda s: None if s and s.get("metrics", {}).get("op")
                in ("compact", "purge") else f"compact returned {s}")
        after = set(tbl.data_paths())
        new = after - before
        self.layer["maintenance.compact_files_in"] = len(before - after)
        self.layer["maintenance.compact_files_out"] = len(new)
        self.layer["maintenance.compact_bytes_rewritten"] = sum(
            os.path.getsize(p.replace("file://", "")) for p in new)
        # the last surviving and deleted ids: compaction keeps the one
        # and purges the other
        keep, toks, gone = self.probe_ids
        self.lookup("lookup_compacted", "batch", {keep: toks},
                    doc_ids=[keep, gone])
        facts = self.table_facts(self.root)
        look = self.samples["lookup"] or [math.nan]
        p50 = statistics.median(look)
        self.e2e.update(
            op_p50_ms=p50 * 1e3,
            bytes_per_tok=facts["stored_bytes"] / facts["n_tokens"])
        lt, lpct, ln = tail(look)
        app = self.samples["append"] or [math.nan]
        at, apct, an = tail(app)
        self.report += [
            ("lookup_p50_ms", p50 * 1e3, "ms", f"n={len(look)}"),
            ("lookup_tail_ms", lt * 1e3, "ms", f"p{lpct:.0f} of n={ln}"),
            ("append_p50_ms", statistics.median(app) * 1e3, "ms",
             f"n={len(self.samples['append'])}"),
            ("append_tail_ms", at * 1e3, "ms", f"p{apct:.0f} of n={an}"),
            ("delete_p50_ms",
             statistics.median(self.samples["delete"] or [math.nan]) * 1e3,
             "ms", f"n={len(self.samples['delete'])}"),
            ("compact_s", (self.samples["compact"] or [math.nan])[0], "s", ""),
            ("lookup_after_compact_ms",
             statistics.median(self.samples["lookup_compacted"] or [math.nan])
             * 1e3, "ms", ""),
            ("churn_iterations", CHURN_ITERS, "count",
             f"plus 1 warm-up; snapshots at end={facts['snapshots']}"),
        ]

    def probe_churn(self) -> None:
        from tokencodec.spark.table import SnapshotTable
        looks = [f for f in self.lookups if f["sample"] == "lookup"]
        if looks:
            ops = [sum(f["fs_ops"].values()) for f in looks]
            self.layer["fsio.ops_per_lookup_plan"] = statistics.mean(ops)
            # the point lookups of the first and the last iteration: the
            # same query at the shortest and the longest chain
            point = [sum(f["fs_ops"].values()) for f in looks
                     if f["kind"] == "point"]
            self.layer["fsio.ops_per_lookup_plan_first"] = point[0]
            self.layer["fsio.ops_per_lookup_plan_last"] = point[-1]
            for m in spec.FS_METHODS:
                self.layer[f"fsio.ops_per_lookup_plan.{m}"] = statistics.mean(
                    f["fs_ops"][m] for f in looks)
            self.layer["fsio.io_ms_per_lookup_plan"] = statistics.mean(
                f["fs_s"] for f in looks) * 1e3
            self.layer["decode_job.plan_ms"] = statistics.median(
                f["plan_s"] for f in looks) * 1e3
            self.layer["decode_job.exec_ms"] = statistics.median(
                f["exec_s"] for f in looks) * 1e3
        if self.append_ops:
            self.layer["fsio.ops_per_append"] = statistics.mean(self.append_ops)
        if self.delete_ops:
            self.layer["fsio.ops_per_delete"] = statistics.mean(self.delete_ops)
        self.layer["table.snapshots_end"] = len(SnapshotTable(self.root).snapshots())

    # codecs ------------------------------------------------------------

    def codec_probe(self) -> None:
        """Exact tokens-codec mix of the workload's table, and
        single-core driver-side encode/decode of its chunks; each
        re-encoded chunk must reproduce its committed page."""
        import pyarrow.parquet as pq

        from tokencodec import grouped, pageformat
        from tokencodec.spark.table import SnapshotTable
        root = getattr(self, "ingest_root", self.root)
        mix: Counter = Counter()
        enc_s = dec_s = 0.0
        n_tok = 0
        mismatch = 0
        for p in SnapshotTable(root).data_paths():
            t = pq.read_table(p.replace("file://", ""), columns=[
                "tokens_codec", "page_tokens", "page_n_tok"])
            for codec, page, lens_page in zip(*(t.column(i).to_pylist()
                                               for i in range(3))):
                mix[codec if codec in spec.CODEC_NAMES else "other"] += 1
                if n_tok >= CODEC_PROBE_TOKENS:
                    continue
                t0 = time.perf_counter()
                values = grouped.decode_tokens_column(page)
                dec_s += time.perf_counter() - t0
                lens = pageformat.decode_int_page(lens_page).astype(np.int64)
                vals32 = values.astype(np.int32)
                t0 = time.perf_counter()
                again = grouped.encode_tokens_column(vals32, lens)
                enc_s += time.perf_counter() - t0
                mismatch += pageformat.maybe_deflate(again) != page
                n_tok += len(values)
        self.attempted += 1
        if mismatch:
            self._fail(f"codec probe: {mismatch} chunks re-encode differently")
        for c in spec.CODEC_NAMES:
            self.layer[f"codecs.chunks.{c}"] = mix[c]
        if n_tok:
            self.layer["codecs.encode_tok_per_s_1core"] = n_tok / enc_s
            self.layer["codecs.decode_tok_per_s_1core"] = n_tok / dec_s

    # event log ---------------------------------------------------------

    def event_metrics(self, event_dir: str) -> None:
        ev = EventLog(event_dir)
        for op in spec.OPS:
            calls = self.calls[op]
            if not calls:
                continue
            tot = ev.task_totals(f"{op}#")
            for k in ("executor_run_s", "jvm_cpu_s", "tasks", "failed_tasks"):
                self.layer[f"{op}.{k}"] = tot[k] / calls
        py = "time to run Python workers"
        n = self.calls["encode"]
        if n:
            tot = ev.task_totals("encode#")
            self.layer["partition.shuffle_write_bytes_per_tok"] = (
                tot["shuffle_bytes"] / n / self.tokens)
            self.layer["partition.task_skew"] = statistics.median(
                ev.task_skew(f"encode#{k}") for k in range(n))
        kern = ev.sql_metric("noop.encoder#", "encode_batches", py)
        if kern:
            # two noop passes over the corpus
            self.layer["codecs.encode_tok_per_s_core"] = 2 * self.tokens / kern
        kern = ev.sql_metric("decode#", "decode_batches", py)
        if kern:
            self.layer["decode_job.decode_tok_per_s_core"] = (
                self.calls["decode"] * self.tokens / kern)
        n = self.calls["pack"]
        if n:
            self.layer["packing.shuffle_bytes_per_tok"] = (
                ev.task_totals("pack#")["shuffle_bytes"] / n / self.tokens)
        n = self.calls["lookup"]
        if n:
            files = ev.sql_metric("lookup#", "Scan parquet",
                                  "number of files read")
            chunks = ev.sql_metric("lookup#", "decode_batches",
                                   "number of output rows", below=True)
            rows = sum(f["rows"] for f in self.lookups)
            self.layer["decode_job.files_read_per_lookup"] = files / n
            self.layer["decode_job.chunks_decoded_per_lookup"] = chunks / n
            if chunks:
                self.layer["decode_job.lookup_yield"] = rows / chunks

    # results -----------------------------------------------------------

    def host(self) -> dict:
        import pyarrow
        import pyspark
        return {"nproc": self.cores, "spark": pyspark.__version__,
                "pyarrow": pyarrow.__version__, "numpy": np.__version__,
                "python": sys.version.split()[0], "seed": self.seed,
                "workload": self.a.workload, "rows": self.rows,
                "tokens": getattr(self, "tokens", 0),
                "seconds": self.a.seconds, "trace": self.a.trace,
                "table_roots": f"{self.work} on {mount_of(self.work)}",
                "spark_local_dir": "{} on {}".format(
                    os.environ.get("TOKENCODEC_LOCAL_DIR", ""),
                    mount_of(os.environ.get("TOKENCODEC_LOCAL_DIR", "/")))}

    def result(self) -> dict:
        e2e = dict(self.e2e)
        if self.a.trace:
            self.layer["traced.ops_per_s"] = e2e.get("ops_per_s", 0.0)
            self.layer["traced.op_p50_ms"] = e2e.get("op_p50_ms", 0.0)
            metrics = self.layer
        else:
            metrics = e2e
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics,
                "report": [list(r) for r in
                           [("setup_s", e2e.get("setup_s", math.nan), "s",
                             " + ".join(f"{k} {v:.2f}" for k, v in
                                        getattr(self, "setup_parts", {})
                                        .items()))]
                           + self.report
                           + [("failed_op_frac",
                               self.failed / max(self.attempted, 1), "ratio",
                               f"{self.failed} of {self.attempted}")]],
                "failures": self.failures[:20], "host": self.host()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w for w, _ in spec.WORKLOADS + spec.EXTRA_WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--event-dir", default="")
    ap.add_argument("--spans", default="")
    a = ap.parse_args(argv)
    b = Bench(a)
    try:
        b.run()
    finally:
        if hasattr(b, "spark"):
            b.spark.stop()
    if a.trace:
        b.event_metrics(a.event_dir)
        b.spans.write(a.spans)
    with open(a.result, "w") as f:
        json.dump(b.result(), f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
