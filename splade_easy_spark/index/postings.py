"""Posting-list block packing: delta + varbyte doc ids, float32 weights,
per-block max-score metadata.

The reference stores each document's full sparse vector row-wise in
FlatBuffers shards and scans *all* of them per query
(``src/splade_easy/retriever.py:178-199``).  The inverted layout here is the
scale path: for each term, doc ids (dense ints, ascending) are delta-encoded
and varbyte-compressed into blocks of ``block_size`` postings, each block
carrying ``max_weight`` — the block-max WAND pruning bound.  All kernels are
vectorized NumPy, invoked from ``mapInArrow`` batches during the build and
``mapInPandas`` during queries — Arrow-batched, never per-row Python.

Varbyte: little-endian base-128; 7 payload bits per byte, high bit = more.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE_DEFAULT = 128


def varbyte_encode_with_sizes(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized varbyte encode of a uint64 array → (uint8 byte array,
    per-value byte counts).  Each value's encoding is independent, so any
    contiguous run of values maps to the contiguous byte slice given by the
    cumulative sizes — the batch packer encodes a whole Arrow batch once
    and slices per block."""
    if len(values) == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    v = values.astype(np.uint64)
    bitlen = np.zeros(len(v), dtype=np.int64)
    tmp = v.copy()
    while tmp.any():
        nz = tmp > 0
        bitlen[nz] += 1
        tmp >>= np.uint64(1)
    nbytes = np.maximum((bitlen + 6) // 7, 1)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    offsets = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    rem = v.copy()
    max_b = int(nbytes.max())
    for b in range(max_b):
        mask = nbytes > b
        pos = offsets[mask] + b
        byte = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        more = (nbytes[mask] - 1) > b
        out[pos] = byte | (more.astype(np.uint8) << 7)
        rem[mask] >>= np.uint64(7)
    return out, nbytes


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a uint64 array."""
    out, _ = varbyte_encode_with_sizes(values)
    return out.tobytes()


def varbyte_decode(buf: bytes, count: int) -> np.ndarray:
    """Vectorized varbyte decode of ``count`` uint64 values."""
    if count == 0:
        return np.zeros(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    is_last = (raw & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    out = np.zeros(count, dtype=np.uint64)
    lengths = ends - starts + 1
    max_b = int(lengths.max())
    for b in range(max_b):
        mask = lengths > b
        pos = starts[mask] + b
        out[mask] |= (raw[pos].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * b)
    return out


def pack_postings(
    doc_ints: np.ndarray,
    weights: np.ndarray,
    block_size: int = BLOCK_SIZE_DEFAULT,
    nweights: np.ndarray | None = None,
) -> list[dict]:
    """Pack one term's postings (must be sorted ascending by doc_int,
    unique) into block records.

    Returns dicts: block_id, n, doc_min, doc_max, max_weight,
    docs (bytes: varbyte of [first, deltas...]), wts (bytes: float32 LE).
    With ``nweights`` (the doc-normalized weights w/‖d‖ that make cosine a
    plain dot product) each block also carries nwts + max_nweight — the
    cosine-mode block-max bound."""
    order = np.argsort(doc_ints, kind="stable")
    doc_ints = np.asarray(doc_ints, dtype=np.int64)[order]
    weights = np.asarray(weights, dtype=np.float64)[order]
    if nweights is not None:
        nweights = np.asarray(nweights, dtype=np.float64)[order]
    blocks = []
    for bi, start in enumerate(range(0, len(doc_ints), block_size)):
        d = doc_ints[start : start + block_size]
        w = weights[start : start + block_size]
        deltas = np.empty(len(d), dtype=np.uint64)
        deltas[0] = d[0]
        if len(d) > 1:
            deltas[1:] = np.diff(d).astype(np.uint64)
        rec = {
            "block_id": bi,
            "n": int(len(d)),
            "doc_min": int(d[0]),
            "doc_max": int(d[-1]),
            "max_weight": float(w.max()),
            "docs": varbyte_encode(deltas),
            "wts": w.astype(np.float32).tobytes(),
        }
        if nweights is not None:
            nw = nweights[start : start + block_size]
            rec["max_nweight"] = float(nw.max())
            rec["nwts"] = nw.astype(np.float32).tobytes()
        blocks.append(rec)
    return blocks


def unpack_blocks(docs_bufs, wts_bufs, ns) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of ``pack_postings`` for a run of blocks → (doc_ints int64,
    weights float64), concatenated in block order.

    Varbyte is self-delimiting, so the joined doc buffers decode in ONE
    ``varbyte_decode`` call; each block's first value is absolute, so the
    delta cumsum restarts there: subtract, per block, the running sum just
    before its first value.  The cumsum runs in uint64, whose wraparound is
    exact modular arithmetic, so large absolute ids cannot overflow it."""
    ns = np.asarray(ns, dtype=np.int64)
    deltas = varbyte_decode(b"".join(docs_bufs), int(ns.sum()))
    csum = np.cumsum(deltas, dtype=np.uint64)
    if len(ns) > 1:
        before = np.concatenate((np.zeros(1, np.uint64), csum))[np.cumsum(ns) - ns]
        csum -= np.repeat(before, ns)
    weights = np.frombuffer(b"".join(wts_bufs), dtype=np.float32).astype(np.float64)
    return csum.astype(np.int64), weights


def unpack_block(docs_buf: bytes, wts_buf: bytes, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of ``pack_postings`` for one block (``unpack_blocks`` of one)."""
    return unpack_blocks((docs_buf,), (wts_buf,), (n,))
