"""Posting-block codec roundtrip tests (cf. reference shard framing tests,
``tests/test_shard.py:13-67`` — same write/read roundtrip strategy, applied
to our delta+varbyte blocks)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from splade_easy_spark.index.postings import (
    BLOCK_SIZE_DEFAULT,
    pack_postings,
    unpack_block,
    unpack_blocks,
    varbyte_decode,
    varbyte_encode,
)


def test_varbyte_roundtrip_simple():
    v = np.array([0, 1, 127, 128, 300, 2**21, 2**40], dtype=np.uint64)
    assert (varbyte_decode(varbyte_encode(v), len(v)) == v).all()


def test_varbyte_empty():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert len(varbyte_decode(b"", 0)) == 0


def test_varbyte_single_byte_values():
    v = np.arange(128, dtype=np.uint64)
    enc = varbyte_encode(v)
    assert len(enc) == 128  # all fit one byte
    assert (varbyte_decode(enc, 128) == v).all()


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_varbyte_roundtrip_property(values):
    v = np.array(values, dtype=np.uint64)
    assert (varbyte_decode(varbyte_encode(v), len(v)) == v).all()


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=10**9), st.floats(0.001, 50.0)),
        min_size=1,
        max_size=500,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=64),
)
def test_pack_unpack_roundtrip_property(postings, block_size):
    doc_ints = np.array([p[0] for p in postings], dtype=np.int64)
    weights = np.array([p[1] for p in postings], dtype=np.float64)
    order = np.argsort(doc_ints)
    blocks = pack_postings(doc_ints, weights, block_size)
    got_d, got_w = [], []
    for b in blocks:
        d, w = unpack_block(b["docs"], b["wts"], b["n"])
        assert d.min() == b["doc_min"] and d.max() == b["doc_max"]
        assert np.isclose(w.max(), b["max_weight"], rtol=1e-6)
        got_d.append(d)
        got_w.append(w)
    got_d = np.concatenate(got_d)
    got_w = np.concatenate(got_w)
    assert (got_d == doc_ints[order]).all()
    assert np.allclose(got_w, weights[order].astype(np.float32), rtol=1e-6)


def test_block_structure():
    n = 1000
    d = np.arange(0, n * 3, 3, dtype=np.int64)
    w = np.linspace(0.1, 5.0, n)
    blocks = pack_postings(d, w, 128)
    assert len(blocks) == (n + 127) // 128
    assert [b["block_id"] for b in blocks] == list(range(len(blocks)))
    assert sum(b["n"] for b in blocks) == n
    # blocks ordered by doc ranges
    for a, b in zip(blocks, blocks[1:]):
        assert a["doc_max"] < b["doc_min"]


#: one generated block: absolute first doc_int, posting count, varbyte
#: width (1–5 bytes) of its deltas, and a seed for the values
_block_spec = st.tuples(
    st.one_of(st.integers(0, 2**20), st.integers(2**32, 2**45)),
    st.integers(1, BLOCK_SIZE_DEFAULT),
    st.integers(1, 5),
    st.integers(0, 2**32 - 1),
)


@settings(max_examples=100, deadline=None)
@given(st.lists(_block_spec, max_size=6))
def test_unpack_blocks_equals_per_block_decodes(specs):
    """One joined decode of a run of blocks == the per-block decodes
    concatenated == the packed input, for any block sizes, delta widths
    and absolute first ids (including ids past 2^32)."""
    blocks, want_d, want_w = [], [], []
    for first, n, width, seed in specs:
        rng = np.random.default_rng(seed)
        lo = 1 if width == 1 else 1 << (7 * (width - 1))
        deltas = rng.integers(lo, 1 << (7 * width), size=n - 1)
        docs = first + np.concatenate(([0], np.cumsum(deltas))).astype(np.int64)
        wts = rng.uniform(0.001, 50.0, size=n)
        (b,) = pack_postings(docs, wts, block_size=n)
        blocks.append(b)
        want_d.append(docs)
        want_w.append(wts.astype(np.float32).astype(np.float64))
    d, w = unpack_blocks(
        [b["docs"] for b in blocks], [b["wts"] for b in blocks], [b["n"] for b in blocks]
    )
    assert d.dtype == np.int64 and w.dtype == np.float64
    per_block = [unpack_block(b["docs"], b["wts"], b["n"]) for b in blocks]
    if blocks:
        assert (d == np.concatenate([p[0] for p in per_block])).all()
        assert (w == np.concatenate([p[1] for p in per_block])).all()
        assert (d == np.concatenate(want_d)).all()
        assert (w == np.concatenate(want_w)).all()
    else:
        assert len(d) == 0 and len(w) == 0


def test_unpack_blocks_empty_and_ids_past_2_32():
    d, w = unpack_blocks([], [], [])
    assert len(d) == 0 and len(w) == 0
    docs = np.array([2**40, 2**40 + 1, 2**40 + 2**34], dtype=np.int64)
    blocks = pack_postings(docs, np.ones(3), block_size=2) + pack_postings(
        docs[:1] - 2**39, np.ones(1), block_size=2
    )
    d, _ = unpack_blocks(
        [b["docs"] for b in blocks], [b["wts"] for b in blocks], [b["n"] for b in blocks]
    )
    assert d.tolist() == docs.tolist() + [2**40 - 2**39]
