"""Schema evolution (VERDICT r4 next #4): extra columns beyond the core
token schema, added or widened across commits. Chunks from commits
predating a column decode it as NULL (Iceberg add-column back-fill);
int widens to bigint; anything else refuses loudly. Mixed-version
tables (chunks spanning two schema versions) decode in one pass."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tokencodec.spark import decode_job, encode_job, maintenance, synth
from tokencodec.spark.encode_job import merge_extra_schema, table_extra_schema


def _with_extras(df, lang=True, score="int"):
    out = df
    if lang:
        out = out.withColumn(
            "lang", F.concat(F.lit("L"), (F.col("n_tok") % 5).cast("string")))
    if score == "int":
        out = out.withColumn("score", (F.col("n_tok") * 3).cast("int"))
    elif score == "bigint":
        out = out.withColumn(
            "score", (F.col("n_tok").cast("bigint") * 3 + (5 << 31)))
    return out


def test_extras_roundtrip_single_commit(spark, tmp_path):
    root = str(tmp_path / "enc")
    df = _with_extras(synth.token_table(spark, 200, seed=61)).cache()
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4)
    assert table_extra_schema(root) == {"lang": "string", "score": "int"}
    out = decode_job.decode(spark, root)
    assert set(out.columns) == {"doc_id", "tokens", "n_tok", "source",
                                "lang", "score"}
    assert decode_job.audit(df, out) == {"missing": 0, "extra": 0, "ok": True}
    # projection includes extras without decoding token pages
    proj = decode_job.decode(spark, root, columns=["doc_id", "lang"])
    want = df.select("doc_id", "lang")
    assert proj.exceptAll(want).count() == 0
    assert want.exceptAll(proj).count() == 0
    # extras-ONLY projection (edge: chunk row count must still resolve)
    only = decode_job.decode(spark, root, columns=["lang"])
    assert only.columns == ["lang"]
    assert only.count() == df.count()
    assert only.exceptAll(df.select("lang")).count() == 0


def test_add_column_null_backfill(spark, tmp_path):
    """Commit 1 without extras, commit 2 with (lang, score): old chunks
    back-fill NULL, new chunks carry values — one mixed-version read."""
    root = str(tmp_path / "enc")
    base = synth.token_table(spark, 300, seed=62).cache()
    half1 = base.filter(F.crc32("doc_id") % 2 == 0)
    half2 = _with_extras(base.filter(F.crc32("doc_id") % 2 == 1))
    encode_job.encode(spark, half1, root, commit_groups=1, n_salts=4)
    encode_job.encode(spark, half2, root, commit_groups=1, n_salts=4, group_prefix="v2g")
    assert table_extra_schema(root) == {"lang": "string", "score": "int"}
    out = decode_job.decode(spark, root).cache()
    assert out.count() == base.count()
    old = out.join(half1.select("doc_id"), "doc_id")
    assert old.filter(F.col("lang").isNotNull()
                      | F.col("score").isNotNull()).count() == 0
    new = out.join(half2.select("doc_id", F.col("lang").alias("want_lang"),
                                F.col("score").alias("want_score")), "doc_id")
    assert new.filter((F.col("lang") != F.col("want_lang"))
                      | (F.col("score") != F.col("want_score"))).count() == 0
    # time travel to commit 1 sees no extra columns at all
    from tokencodec.spark.table import SnapshotTable
    first = SnapshotTable(root).chain()[0]["snapshot_id"]
    assert set(decode_job.decode(spark, root, snapshot_id=first).columns) == {
        "doc_id", "tokens", "n_tok", "source"}


def test_int_to_bigint_widening(spark, tmp_path):
    root = str(tmp_path / "enc")
    base = synth.token_table(spark, 200, seed=63).cache()
    third = F.crc32("doc_id") % 3
    a = base.filter(third == 0)                       # no extras
    b = _with_extras(base.filter(third == 1))          # score int
    c = _with_extras(base.filter(third == 2), score="bigint")  # > int32
    encode_job.encode(spark, a, root, commit_groups=1, n_salts=4)
    encode_job.encode(spark, b, root, commit_groups=1, n_salts=4, group_prefix="v2g")
    encode_job.encode(spark, c, root, commit_groups=1, n_salts=4, group_prefix="v3g")
    assert table_extra_schema(root)["score"] == "bigint"
    out = decode_job.decode(spark, root).cache()
    assert dict(out.dtypes)["score"] == "bigint"
    got_b = out.join(b.select("doc_id", F.col("score").cast("bigint")
                              .alias("want")), "doc_id")
    assert got_b.filter(F.col("score") != F.col("want")).count() == 0
    got_c = out.join(c.select("doc_id", F.col("score").alias("want")),
                     "doc_id")
    assert got_c.filter(F.col("score") != F.col("want")).count() == 0
    assert out.filter(F.col("score") > (1 << 32)).count() == c.count()
    assert out.join(a.select("doc_id"), "doc_id").filter(
        F.col("score").isNotNull()).count() == 0


def test_incompatible_evolution_refused(spark, tmp_path):
    root = str(tmp_path / "enc")
    base = synth.token_table(spark, 60, seed=64).cache()
    encode_job.encode(spark, base.withColumn("v", F.lit("s")), root,
                      commit_groups=1, n_salts=2)
    # an incompatible redefinition is refused AT WRITE TIME (the commit
    # path merges the chain schema and fails before publishing)
    with pytest.raises(ValueError, match="incompatible schema evolution"):
        encode_job.encode(spark, base.withColumn("v", F.lit(1)), root,
                          commit_groups=1, n_salts=2,
                          group_prefix="v2g")
    assert table_extra_schema(root) == {"v": "string"}
    with pytest.raises(ValueError, match="int -> bigint"):
        merge_extra_schema({"v": "string"}, {"v": "bigint"})


def test_unsupported_extra_type_refused(spark, tmp_path):
    df = synth.token_table(spark, 20, seed=65).withColumn(
        "bad", F.array(F.lit(1.0)))
    with pytest.raises(ValueError, match="unsupported extra column"):
        encode_job.encode(spark, df, str(tmp_path / "x"), commit_groups=1,
                          n_salts=2)


def test_split_docs_carry_extras(spark, tmp_path):
    """An oversized doc split across chunks keeps its extra values on
    reassembly (first-part semantics — parts carry identical values)."""
    root = str(tmp_path / "enc")
    df = _with_extras(synth.token_table(spark, 200, seed=66)).cache()
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4,
                      max_chunk_tokens=2048)
    pages = encode_job.read_pages(spark, root)
    assert pages.filter(F.col("doc_parts") > 1).count() > 0
    out = decode_job.decode(spark, root)
    assert decode_job.audit(df, out) == {"missing": 0, "extra": 0, "ok": True}


def test_purge_preserves_extras(spark, tmp_path):
    root = str(tmp_path / "enc")
    df = _with_extras(synth.token_table(spark, 200, seed=67)).cache()
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4)
    doomed = [r[0] for r in df.select("doc_id").orderBy("doc_id")
              .limit(5).collect()]
    maintenance.delete_docs(spark, root, doomed)
    maintenance.purge_deletes(spark, root)
    survivors = df.filter(~F.col("doc_id").isin(doomed))
    out = decode_job.decode(spark, root)
    assert decode_job.audit(survivors, out, strict=True) == {
        "missing": 0, "extra": 0, "ok": True}


def test_compact_merges_extras(spark, tmp_path):
    """Extra-bearing chunks MERGE under compaction (round-5's
    pass-through limitation closed): under-filled chunks carrying
    (lang, score) pages re-encode into budget-filled chunks with the
    extras concatenated, and split-doc parts rechunk with their pages
    copied verbatim."""
    root = str(tmp_path / "enc")
    df = _with_extras(synth.token_table(spark, 200, seed=68)).cache()
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4,
                      max_chunk_tokens=512)
    before = encode_job.read_pages(spark, root).count()
    snap = maintenance.compact(spark, root, max_chunk_tokens=4096)
    after = encode_job.read_pages(spark, root).count()
    assert after < before  # extra-bearing chunks actually merged
    assert snap["metrics"]["n_chunks"] == after
    out = decode_job.decode(spark, root)
    assert decode_job.audit(df, out, strict=True) == {
        "missing": 0, "extra": 0, "ok": True}
    from tokencodec.spark import fsck
    assert fsck.fsck(spark, root).filter(~F.col("ok")).count() == 0


def test_compact_merges_mixed_era_chunks(spark, tmp_path):
    """A merge group spanning a pre-column commit and a post-column
    commit back-fills NULLs for the old rows INSIDE the merged page
    (NULLABLE validity wrap) — decode must be indistinguishable from
    the unmerged layout."""
    root = str(tmp_path / "enc")
    base = synth.token_table(spark, 240, seed=70).cache()
    half1 = base.filter(F.crc32("doc_id") % 2 == 0).cache()
    half2 = _with_extras(base.filter(F.crc32("doc_id") % 2 == 1)).cache()
    encode_job.encode(spark, half1, root, commit_groups=1, n_salts=2,
                      max_chunk_tokens=2048)
    encode_job.encode(spark, half2, root, commit_groups=1, n_salts=2,
                      max_chunk_tokens=2048,
                      group_prefix="v2g")
    pre = decode_job.decode(spark, root).cache()
    pre_rows = pre.collect()
    before = encode_job.read_pages(spark, root).count()
    maintenance.compact(spark, root, max_chunk_tokens=1 << 20)
    assert encode_job.read_pages(spark, root).count() < before
    post = decode_job.decode(spark, root).cache()
    assert post.count() == len(pre_rows)
    assert post.exceptAll(pre).count() == 0
    assert pre.exceptAll(post).count() == 0
    # old-era rows stay NULL, new-era rows keep their values
    assert post.join(half1.select("doc_id"), "doc_id").filter(
        F.col("lang").isNotNull() | F.col("score").isNotNull()).count() == 0
    want = half2.select("doc_id", F.col("lang").alias("wl"),
                        F.col("score").alias("ws"))
    got = post.join(want, "doc_id")
    assert got.filter((F.col("lang") != F.col("wl"))
                      | (F.col("score") != F.col("ws"))).count() == 0
    from tokencodec.spark import fsck
    assert fsck.fsck(spark, root).filter(~F.col("ok")).count() == 0


def test_nullable_extras_roundtrip(spark, tmp_path):
    """NULLs in a source extra column are legal (the core contract
    stays non-null): they page-encode under a NULLABLE validity wrap
    and decode bit-identically, through purge too."""
    root = str(tmp_path / "enc")
    df = (synth.token_table(spark, 150, seed=71)
          .withColumn("lang", F.when(F.col("n_tok") % 3 == 0,
                                     F.concat(F.lit("L"),
                                              (F.col("n_tok") % 5)
                                              .cast("string"))))
          .withColumn("score", F.when(F.col("n_tok") % 2 == 0,
                                      (F.col("n_tok") * 3).cast("int")))
          .cache())
    assert df.filter(F.col("lang").isNull()).count() > 0
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4)
    out = decode_job.decode(spark, root)
    assert decode_job.audit(df, out, strict=True) == {
        "missing": 0, "extra": 0, "ok": True}
    from tokencodec.spark import fsck
    assert fsck.fsck(spark, root).filter(~F.col("ok")).count() == 0
    # takedown on a nullable-extra table keeps the null slots aligned
    doomed = [r[0] for r in df.select("doc_id").orderBy("doc_id")
              .limit(5).collect()]
    maintenance.delete_docs(spark, root, doomed)
    maintenance.purge_deletes(spark, root)
    survivors = df.filter(~F.col("doc_id").isin(doomed))
    assert decode_job.audit(survivors, decode_job.decode(spark, root),
                            strict=True) == {
        "missing": 0, "extra": 0, "ok": True}


def test_streaming_commit_keeps_extra_chain(spark, tmp_path):
    """A core-schema streaming micro-batch appended to an evolved table
    must CARRY the cumulative extra-schema chain in its commit metrics
    — dropping it would push readers onto the chain-walk fallback and
    lose the declarations once the declaring commits expire."""
    import os

    from tokencodec.spark import streaming
    from tokencodec.spark.table import SnapshotTable
    root = str(tmp_path / "enc")
    df = _with_extras(synth.token_table(spark, 80, seed=72)).cache()
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=2)
    src = str(tmp_path / "stream_src")
    (synth.token_table(spark, 40, seed=73)
     .write.mode("overwrite").parquet(src))
    streaming.encode_stream(
        spark, src, root, checkpoint_dir=str(tmp_path / "ckpt"))
    snap = SnapshotTable(root).current_snapshot()
    assert snap["metrics"]["extra_schema_chain"] == {
        "lang": "string", "score": "int"}
    assert table_extra_schema(root) == {"lang": "string", "score": "int"}
    out = decode_job.decode(spark, root)
    assert out.count() == 120
    assert set(out.columns) >= {"lang", "score"}


def test_float_double_extras_roundtrip(spark, tmp_path):
    """Float / double extra columns (quality scores are the canonical
    use): dense double + nullable float page-encode through the
    bit-exact float codecs (ALP / byte-shuffle) and round-trip through
    decode, fsck, and physical purge."""
    root = str(tmp_path / "enc")
    df = (synth.token_table(spark, 150, seed=74)
          .withColumn("quality", F.col("n_tok") / F.lit(7.0))
          .withColumn("conf", F.when(F.col("n_tok") % 4 != 0,
                                     (F.col("n_tok") / F.lit(3.0))
                                     .cast("float")))
          .cache())
    assert df.filter(F.col("conf").isNull()).count() > 0
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4)
    assert table_extra_schema(root) == {"quality": "double", "conf": "float"}
    out = decode_job.decode(spark, root)
    assert dict(out.dtypes)["quality"] == "double"
    assert dict(out.dtypes)["conf"] == "float"
    assert decode_job.audit(df, out, strict=True) == {
        "missing": 0, "extra": 0, "ok": True}
    from tokencodec.spark import fsck
    assert fsck.fsck(spark, root).filter(~F.col("ok")).count() == 0
    doomed = [r[0] for r in df.select("doc_id").orderBy("doc_id")
              .limit(5).collect()]
    maintenance.delete_docs(spark, root, doomed)
    maintenance.purge_deletes(spark, root)
    survivors = df.filter(~F.col("doc_id").isin(doomed))
    assert decode_job.audit(survivors, decode_job.decode(spark, root),
                            strict=True) == {
        "missing": 0, "extra": 0, "ok": True}


def test_float_to_double_widening(spark, tmp_path):
    """float widens to double across commits (the float analogue of
    int -> bigint): float-era pages decode under the double declaration
    as an exact widening, and compaction merges the mixed-width eras
    into double pages."""
    root = str(tmp_path / "enc")
    base = synth.token_table(spark, 200, seed=75).cache()
    half1 = (base.filter(F.crc32("doc_id") % 2 == 0)
             .withColumn("conf", (F.col("n_tok") / F.lit(3.0))
                         .cast("float"))).cache()
    # values a float32 cannot represent — only legal under double
    half2 = (base.filter(F.crc32("doc_id") % 2 == 1)
             .withColumn("conf", F.col("n_tok") / F.lit(7.0) + 1e-12)).cache()
    encode_job.encode(spark, half1, root, commit_groups=1, n_salts=2,
                      max_chunk_tokens=2048)
    encode_job.encode(spark, half2, root, commit_groups=1, n_salts=2,
                      max_chunk_tokens=2048,
                      group_prefix="v2g")
    assert table_extra_schema(root) == {"conf": "double"}
    out = decode_job.decode(spark, root).cache()
    assert dict(out.dtypes)["conf"] == "double"
    got1 = out.join(half1.select("doc_id", F.col("conf").cast("double")
                                 .alias("want")), "doc_id")
    assert got1.filter(F.col("conf") != F.col("want")).count() == 0
    got2 = out.join(half2.select("doc_id", F.col("conf").alias("want")),
                    "doc_id")
    assert got2.filter(F.col("conf") != F.col("want")).count() == 0
    # compaction merges the float-era and double-era chunks at double
    before = encode_job.read_pages(spark, root).count()
    maintenance.compact(spark, root, max_chunk_tokens=1 << 20)
    assert encode_job.read_pages(spark, root).count() < before
    post = decode_job.decode(spark, root).cache()
    assert post.exceptAll(out).count() == 0
    assert out.exceptAll(post).count() == 0
    from tokencodec.spark import fsck
    assert fsck.fsck(spark, root).filter(~F.col("ok")).count() == 0


def test_fsck_validates_extra_pages(spark, tmp_path):
    """fsck reconciles enc/raw metrics INCLUDING extra pages (they
    count into the chunk metrics) and CRC-checks each extra page."""
    root = str(tmp_path / "enc")
    df = _with_extras(synth.token_table(spark, 150, seed=69)).cache()
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4)
    from pyspark.sql import functions as F

    from tokencodec.spark import fsck
    rep = fsck.fsck(spark, root).cache()
    bad = rep.filter(~F.col("ok")).collect()
    assert not bad, bad[:3]
    # 4 core pages + 1 doc_bloom + 2 extra pages checked per chunk
    assert rep.agg(F.min("crc_checked")).collect()[0][0] == 7
