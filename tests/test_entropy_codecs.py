"""Round-5b entropy-recovery codecs: BASEPACK (base-R group packing),
SRLE (split-stream RLE) and the grouped LINEAR doc model — round-trip,
selection, and size guarantees."""

import zlib

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from tokencodec import codecs, grouped, pageformat
from tokencodec.codecs import basepack


# ----------------------------------------------------------------- basepack

def test_basepack_plan_degenerates_to_bitpack_width():
    # R a power of two: no fractional bit to recover, k stays 1
    for R in (2, 4, 128, 65536):
        k, bits = basepack.plan(R)
        assert bits / k == (R - 1).bit_length() / 1 or k >= 2
        # density can never beat the entropy floor
        assert bits / k >= np.log2(R) - 1e-9


def test_basepack_vocab_density():
    # GPT-2-ish vocab: 3 values per 47-bit group = 15.667 bits/value
    k, bits = basepack.plan(50257)
    assert (k, bits) == (3, 47)


@settings(max_examples=60, deadline=None)
@given(st.integers(2, 1 << 40), st.integers(-(1 << 40), 1 << 40),
       st.integers(0, 200))
def test_basepack_roundtrip(R, vmin, n):
    rng = np.random.default_rng(abs(vmin) + n)
    v = (rng.integers(0, R, n) + vmin).astype(np.int64)
    payload = basepack.encode(v, vmin, R)
    assert len(payload) == basepack.payload_nbytes(n, R)
    np.testing.assert_array_equal(basepack.decode(payload, vmin, n), v)


def test_basepack_selected_for_uniform_vocab_page():
    rng = np.random.default_rng(7)
    v = rng.integers(0, 50257, 100_000).astype(np.int64)
    page = pageformat.encode_int_page(v, pageformat.KIND_INT32)
    h = pageformat.read_header(page)
    assert h["codec_name"] == "basepack"
    # strictly denser than 16-bit bitpacking
    assert len(page) * 8 / len(v) < 15.8
    np.testing.assert_array_equal(
        pageformat.decode_int_page(page).astype(np.int64), v)


def test_basepack_not_selected_for_power_of_two_range():
    rng = np.random.default_rng(8)
    v = rng.integers(0, 128, 50_000).astype(np.int64)
    page = pageformat.encode_int_page(v, pageformat.KIND_INT32)
    assert pageformat.read_header(page)["codec_name"] in ("bitpack", "for")


# --------------------------------------------------------------------- srle

def _runs(rng, n_runs, vmax, lmax):
    vals = rng.integers(0, vmax, n_runs)
    lens = rng.integers(1, lmax + 1, n_runs)
    return np.repeat(vals, lens).astype(np.int64)


def test_srle_selected_and_roundtrips():
    rng = np.random.default_rng(9)
    v = _runs(rng, 5000, 1000, 20)
    page = pageformat.encode_int_page(v, pageformat.KIND_INT32)
    assert pageformat.read_header(page)["codec_name"] == "srle"
    np.testing.assert_array_equal(
        pageformat.decode_int_page(page).astype(np.int64), v)
    # near the per-run information floor: ~(10 + 5) bits per ~10-token run
    n_runs = int((np.diff(v) != 0).sum()) + 1
    assert len(page) * 8 / n_runs < 20


def test_srle_sub_pages_do_not_nest_srle():
    rng = np.random.default_rng(10)
    v = _runs(rng, 4000, 1000, 16)
    page = pageformat.encode_int_page(v, pageformat.KIND_INT32, codec=codecs.SRLE)
    import struct
    mv = memoryview(page)[pageformat.HEADER_SIZE:]
    (vlen,) = struct.unpack_from("<I", mv, 0)
    for sub in (mv[4:4 + vlen], mv[4 + vlen:]):
        assert pageformat.read_header(sub)["codec_name"] != "srle"


def test_srle_forced_on_tiny_input_roundtrips():
    v = np.array([5, 5, 5, 9], dtype=np.int64)
    page = pageformat.encode_int_page(v, pageformat.KIND_INT32, codec=codecs.SRLE)
    np.testing.assert_array_equal(
        pageformat.decode_int_page(page).astype(np.int64), v)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(st.integers(-1000, 1000), st.integers(1, 30)),
                min_size=1, max_size=80))
def test_srle_property_roundtrip(spec):
    v = np.repeat(np.array([a for a, _ in spec], dtype=np.int64),
                  np.array([b for _, b in spec], dtype=np.int64))
    page = pageformat.encode_int_page(v, pageformat.KIND_INT32, codec=codecs.SRLE)
    np.testing.assert_array_equal(
        pageformat.decode_int_page(page).astype(np.int64), v)


# ------------------------------------------------------------- linear model

def _linear_docs(rng, n_docs, jitter=3):
    lens, parts = [], []
    for _ in range(n_docs):
        L = int(rng.integers(16, 300))
        step = int(rng.integers(1, 6))
        base = int(rng.integers(0, 1000))
        parts.append(base + np.arange(L) * step + rng.integers(0, jitter, L))
        lens.append(L)
    return (np.concatenate(parts).astype(np.int64),
            np.array(lens, dtype=np.int64))


def test_linear_doc_roundtrip_and_beats_delta():
    rng = np.random.default_rng(11)
    v, lens = _linear_docs(rng, 200)
    lin = grouped.encode_linear_doc(v, lens)
    np.testing.assert_array_equal(grouped.decode_linear_doc(lin, lens), v)
    dd = grouped.encode_delta_doc(v, lens)
    assert len(lin) < len(dd)


def test_linear_doc_empty_and_singleton_docs():
    v = np.array([7, 100, 103, 106, 109], dtype=np.int64)
    lens = np.array([1, 0, 4, 0], dtype=np.int64)
    lin = grouped.encode_linear_doc(v, lens)
    np.testing.assert_array_equal(grouped.decode_linear_doc(lin, lens), v)


def test_grouped_picks_linear_for_sorted_docs_and_roundtrips():
    rng = np.random.default_rng(12)
    v, lens = _linear_docs(rng, 64)
    page = grouped.encode_tokens_column(v, lens)
    np.testing.assert_array_equal(grouped.decode_tokens_column(page), v)


def test_grouped_model3_deflated_delta_roundtrips():
    # monotone docs whose diffs are run-shaped (zlib-friendly) but not
    # linear: drive the model-3 (zlib over delta_doc) path explicitly
    rng = np.random.default_rng(13)
    lens, parts = [], []
    for _ in range(64):
        L = int(rng.integers(64, 400))
        diffs = np.repeat(rng.integers(0, 2, L // 8 + 1) * 7, 8)[:L]
        parts.append(np.cumsum(diffs) + int(rng.integers(0, 50257)))
        lens.append(L)
    v = np.concatenate(parts).astype(np.int64)
    lens = np.array(lens, dtype=np.int64)
    sub_dd = grouped.encode_delta_doc(v, lens)
    z = zlib.compress(sub_dd, 1)
    assert len(z) < 0.95 * len(sub_dd)  # precondition: model 3 is the winner
    page = grouped.encode_tokens_column(v, lens)
    np.testing.assert_array_equal(grouped.decode_tokens_column(page), v)


def test_runs_class_splits_constant_docs_from_bounded_runs():
    # constant docs (vocab-wide values) and narrow-run docs must land in
    # different groups, so the run-values stream stays narrow
    rng = np.random.default_rng(14)
    lens, parts = [], []
    for i in range(32):
        L = int(rng.integers(64, 200))
        if i % 2 == 0:
            parts.append(np.full(L, int(rng.integers(0, 50257))))
        else:
            parts.append(np.repeat(rng.integers(0, 1000, L // 8 + 1), 8)[:L])
        lens.append(L)
    v = np.concatenate(parts).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(lens)))
    keys, _, _ = grouped._doc_classes(v, offsets)
    const_keys = set(keys[::2].tolist())
    run_keys = set(keys[1::2].tolist())
    assert const_keys.isdisjoint(run_keys)
    page = grouped.encode_tokens_column(v, np.array(lens, dtype=np.int64))
    np.testing.assert_array_equal(grouped.decode_tokens_column(page), v)


def test_dict_basepacked_indices_roundtrip_and_density():
    rng = np.random.default_rng(15)
    uniq = (rng.permutation(50021)[:200]).astype(np.int64)
    v = uniq[rng.integers(0, 200, 120_000)]
    page = pageformat.encode_int_page(v, pageformat.KIND_INT32, codec=codecs.DICT)
    np.testing.assert_array_equal(
        pageformat.decode_int_page(page).astype(np.int64), v)
    # indices at ~7.67 bits (23-bit/3-value groups), not 8
    assert len(page) * 8 / len(v) < 7.8


def test_dict_unique_inverse_sorts_small_wide_pages(monkeypatch):
    """A small page spanning a wide range takes the sort path instead of
    allocating O(range) bincount bins; outputs equal np.unique's."""
    from tokencodec.codecs import dictionary
    v = np.array([7, 1 << 21, 3, 7, 900_000, 3, 12, 1 << 21, 5, 7],
                 dtype=np.int64)
    want = np.unique(v, return_inverse=True)

    def no_bincount(*a, **k):
        raise AssertionError("bincount path taken for a 10-value page")

    monkeypatch.setattr(np, "bincount", no_bincount)
    got = dictionary._unique_inverse(v)
    np.testing.assert_array_equal(got[0], want[0])
    np.testing.assert_array_equal(got[1], want[1])


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2 ** 32))
def test_grouped_mixed_profile_property(seed):
    rng = np.random.default_rng(seed)
    lens, parts = [], []
    for _ in range(int(rng.integers(4, 24))):
        L = int(rng.integers(0, 120))
        kind = int(rng.integers(0, 4))
        if kind == 0:
            parts.append(rng.integers(0, 50257, L))
        elif kind == 1:
            parts.append(np.repeat(rng.integers(0, 1000, L // 6 + 1), 6)[:L])
        elif kind == 2:
            parts.append(np.sort(rng.integers(0, 10_000, L)))
        else:
            parts.append(np.full(L, int(rng.integers(0, 50257))))
        lens.append(L)
    v = np.concatenate(parts).astype(np.int64) if parts else np.empty(0, np.int64)
    page = grouped.encode_tokens_column(v, np.array(lens, dtype=np.int64))
    wrapped = pageformat.maybe_deflate(page)
    np.testing.assert_array_equal(grouped.decode_tokens_column(wrapped), v)
