"""Incremental changes read (Iceberg's incremental append scan):
decode_changes returns exactly the rows committed after a snapshot,
skips compaction rewrites (layout-only), and refuses when the since
snapshot fell off the retained chain."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tokencodec.spark import decode_job, encode_job, maintenance, streaming, synth
from tokencodec.spark.table import SnapshotTable


def test_changes_since_snapshot_exact_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    a = synth.token_table(spark, 120, seed=11)
    b = synth.token_table(spark, 200, seed=11).filter(
        "doc_id > 'doc-000000000119'")  # disjoint second drop
    src = str(tmp_path / "src")
    a.write.mode("append").parquet(src)
    streaming.encode_stream(spark, src, root)
    sid0 = SnapshotTable(root).current_snapshot()["snapshot_id"]
    b.write.mode("append").parquet(src)
    streaming.encode_stream(spark, src, root)

    # changes since the first commit == exactly the second drop
    ch = decode_job.decode_changes(spark, root, sid0)
    assert decode_job.audit(b, ch, strict=True)["ok"]
    # changes since current == empty
    cur = SnapshotTable(root).current_snapshot()["snapshot_id"]
    assert decode_job.decode_changes(spark, root, cur).count() == 0
    # full decode still everything
    both = a.unionByName(b)
    assert decode_job.audit(both, decode_job.decode(spark, root))["ok"]
    # projection works on the incremental scan too
    ids = {r.doc_id for r in decode_job.decode_changes(
        spark, root, sid0, columns=["doc_id"]).collect()}
    assert ids == {r.doc_id for r in b.select("doc_id").collect()}


def test_changes_skip_compaction_rewrites(spark, tmp_path):
    """A compaction commit adds no logical rows: changes since the
    pre-compact snapshot must be empty, and changes since an earlier
    append must still decode from the ORIGINAL files (kept until
    expiry)."""
    root = str(tmp_path / "t")
    df = synth.token_table(spark, 150, seed=13)
    encode_job.encode(spark, df, root, commit_groups=2,
                      max_chunk_tokens=2000)
    tbl = SnapshotTable(root)
    sid_mid = tbl.chain()[0]["snapshot_id"]  # after first commit group
    pre_compact = tbl.current_snapshot()["snapshot_id"]
    snap = maintenance.compact(spark, root, max_chunk_tokens=1 << 21)
    assert snap["snapshot_id"] == pre_compact + 1

    assert decode_job.decode_changes(spark, root, pre_compact).count() == 0
    # changes since the FIRST commit = the second commit group's rows
    ch = decode_job.decode_changes(spark, root, sid_mid)
    full = decode_job.decode(spark, root)
    n_first = decode_job.decode(
        spark, root, snapshot_id=sid_mid).count()
    assert ch.count() == full.count() - n_first


def test_changes_since_expired_snapshot_refuses(spark, tmp_path):
    root = str(tmp_path / "t")
    df = synth.token_table(spark, 80, seed=14)
    encode_job.encode(spark, df, root, commit_groups=2)
    first = SnapshotTable(root).chain()[0]["snapshot_id"]
    maintenance.expire_snapshots(root, keep_last=1)
    with pytest.raises(ValueError, match="retained chain"):
        decode_job.decode_changes(spark, root, first)
    with pytest.raises(ValueError, match="retained chain"):
        decode_job.decode_changes(spark, root, 999)


def test_consumer_cursor_full_lifecycle(spark, tmp_path):
    """VERDICT r4 next #7: a consumer cursor driven through the whole
    table lifecycle — append, consume, compact, expire, append, consume
    — must see every row EXACTLY once (no row twice, none missed), and
    a cursor that falls below the retained chain must refuse rather
    than silently under-deliver."""
    root = str(tmp_path / "t")
    batches = [synth.token_table(spark, n, seed=s).withColumn(
        "doc_id", F.concat(F.lit(f"b{i}-"), "doc_id"))
        for i, (n, s) in enumerate([(100, 21), (80, 22), (60, 23)])]

    def cur_sid():
        return SnapshotTable(root).current_snapshot()["snapshot_id"]

    seen = []  # every doc_id delivered to the consumer, in order

    def consume(since):
        # exactly-once protocol: read the new cursor FIRST, bound the
        # scan with it (README "Incremental consumer recipe")
        until = cur_sid()
        rows = decode_job.decode_changes(
            spark, root, since, columns=["doc_id"],
            until_snapshot_id=until).collect()
        seen.extend(r[0] for r in rows)
        return until

    # bootstrap: first batch + initial full read
    encode_job.encode(spark, batches[0], root, commit_groups=1, n_salts=4, max_chunk_tokens=512)
    cursor = cur_sid()
    seen.extend(r[0] for r in decode_job.decode(
        spark, root, columns=["doc_id"]).collect())

    # append -> consume
    encode_job.encode(spark, batches[1], root, commit_groups=1, n_salts=4, max_chunk_tokens=512,
                      group_prefix="b1g")
    cursor = consume(cursor)

    # compact (layout-only) -> consume sees nothing new
    maintenance.compact(spark, root, max_chunk_tokens=4096)
    n_before = len(seen)
    cursor = consume(cursor)
    assert len(seen) == n_before

    # expire history the cursor no longer needs; cursor stays valid
    maintenance.expire_snapshots(root, keep_last=2)
    cursor = consume(cursor)
    assert len(seen) == n_before

    # append again -> consume
    encode_job.encode(spark, batches[2], root, commit_groups=1, n_salts=4, max_chunk_tokens=512,
                      group_prefix="b2g")
    cursor = consume(cursor)

    # exactly-once: delivered multiset == table contents, no dupes
    want = sorted(r[0] for b in batches
                  for r in b.select("doc_id").collect())
    assert sorted(seen) == want
    assert len(seen) == len(set(seen))

    # a cursor below the retained chain refuses loudly
    maintenance.expire_snapshots(root, keep_last=1)
    with pytest.raises(ValueError, match="retained chain"):
        decode_job.decode_changes(spark, root, cursor - 10 if cursor >= 10
                                  else 0)
