"""Block-max WAND pruned top-k retrieval over the packed postings layout.

The physical plan mirrors the reference's shard fan-out + heap merge
(``src/splade_easy/retriever.py:105-122``) but over an *inverted, doc-
segmented* layout:

  postings (partitioned by seg, one complete posting sub-list per term per
  segment) → parquet scan pruned to the query's terms (predicate pushdown;
  ``builder._postings_layout`` sorts every file by term id, so row-group
  stats prune) → mapInPandas kernel: per segment, exact BM25 scores via a dense
  NumPy scatter-add accumulator with **MaxScore pruning** → per-segment
  top-k candidates → global ``orderBy(desc).limit(k)``
  (TakeOrderedAndProject: partial top-k per partition + driver merge, the
  reference's exact merge topology).

Pruning inside ``_score_segment`` is per-query MaxScore over block
metadata, exact by construction.  Each term's score upper bound is
``qw · max(block max_weight)``; terms are scattered in descending bound
order into a dense accumulator until the bounds of the terms left sum
below a running top-k threshold θ.  From then on no untouched doc can
enter the top-k: the surviving candidates are filtered with that bound
sum and repaired exactly from the cut terms.  A repair decodes only
the cut term's blocks whose ranges (``doc_min``/``doc_max``, searchsorted,
no decode) hold a candidate, so a cut term with no candidate in any block
stays packed.  A scattered term is decoded whole in one vectorized call
(``postings.unpack_blocks``); either way a block is decoded at most once,
however many queries of the call use it.

Tombstones never pass through the driver: the ``deleted`` table becomes
mask rows (``_tombstone_blocks``) that ride the same seg-colocation
exchange as the postings; a filter's allowed ids ride the same way.  The
kernel masks them *before* θ / candidate computation, so deletes can never
inflate the pruning threshold and results equal a rebuilt-without-them
index's; block-max bounds stay conservative over an allowed subset, so a
filter keeps exactness too.

Scores are EXACT (pruning only skips work that cannot change the top-k),
so this path is rank-identical to the SQL path and to the oracle — asserted
by tests/test_wand.py on every fixture.  Per-segment k-boundary ties are
all kept (everything scoring >= the kth value survives the segment cut) so
the global (score DESC, doc_id ASC) ordering resolves them deterministically.

Both score modes run through the same kernel: dot (BM25) over the raw
packed weights, cosine over the doc-normalized weight stream packed
alongside (``nwts`` = w/‖d‖ with per-block ``max_nweight``) — cosine is a
plain dot product over that stream up to the query-norm factor, which the
caller divides out (monotone: pruning and ranking are unaffected).

One driver, ``wand_search_many_scores``, serves a single query and a
batch, and one segment kernel, ``_score_segment``, serves any number of
queries.  The driver's ``mapInPandas`` kernel is the call's only Python
stage: it sets up each segment's masks once, then runs
``_score_segment`` over the call's queries.  The block counters (blocks
matching the query terms, blocks decoded) live in that kernel:
``wand_profile`` and ``wand_batch_profile`` run it with a pair of Spark
accumulators attached.

The kernel reads one postings layout, the current format
(``manifest.FORMAT_VERSION``): int64 ``term_id`` keys and both weight
streams.  ``Searcher`` refuses an older index at open (``migrate_postings``
upgrades it), so nothing here inspects a frame's columns per call.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark import Accumulator
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splade_easy_spark.functions.predicates import in_list
from splade_easy_spark.index.catalog import (
    ALLOW_TERM_ID,
    TOMB_TERM_ID,
    term_id_py,
)
from splade_easy_spark.index.postings import unpack_blocks
from splade_easy_spark.session import local_frame


def _query_term_ids(terms: list[str], seed: int) -> dict[str, int]:
    """term → term_id for a query's terms, raising on the (astronomically
    unlikely, ~1/2^60 per pair) driver-visible collision instead of
    silently merging two query terms' weights."""
    ids = {t: term_id_py(t, seed) for t in terms}
    if len(set(ids.values())) != len(ids):
        by_id: dict[int, list[str]] = {}
        for t, i in ids.items():
            by_id.setdefault(i, []).append(t)
        clash = [ts for ts in by_id.values() if len(ts) > 1]
        raise ValueError(
            f"query term_id collision {clash!r}: rebuild the index with a "
            f"different IndexConfig.term_id_seed"
        )
    return ids


def _tombstone_blocks(
    deleted: DataFrame, segment_docs: int, sentinel: int = TOMB_TERM_ID
) -> DataFrame:
    """Mask rows for a doc_int set, in the postings schema, so the set
    rides the postings' seg-colocation exchange to its segment's kernel
    instead of a driver collect.

    One row per doc_int: ``doc_min = doc_max = doc_int``, ``n = 1``, null
    ``docs``/weight binaries.  It is a plain JVM projection, so masking
    adds no Python stage to the call.  The rows are wider than a packed
    per-segment id list: about 14 more compressed shuffle bytes per id
    (measured: +9.9 KB for 695 allowed ids on a 2,000-turn index).  That
    stays small on both paths that use them: ``compact`` bounds the
    number of tombstones, and the allow path serves selective filters.

    ``sentinel`` selects the row kind: TOMB_TERM_ID for an EXCLUSION set
    (deletes, masked out), ALLOW_TERM_ID for the filtered-retrieval
    INCLUSION set (only these doc_ints may score)."""
    return deleted.selectExpr(
        f"CAST(doc_int DIV {int(segment_docs)} AS BIGINT) AS seg",
        f"CAST({int(sentinel)} AS BIGINT) AS term_id",
        "0 AS block_id",
        "1 AS n",
        "CAST(doc_int AS BIGINT) AS doc_min",
        "CAST(doc_int AS BIGINT) AS doc_max",
        "0.0D AS max_weight",
        "CAST(NULL AS BINARY) AS docs",
        "CAST(NULL AS BINARY) AS wts",
        "0.0D AS max_nweight",
        "CAST(NULL AS BINARY) AS nwts",
    )


def _mask_ids(pdf: pd.DataFrame, sentinel: int, segment_docs: int) -> dict[int, np.ndarray]:
    """seg → segment-local doc indices of one mask-row kind (tombstones and
    allowed ids share the wire format: one row per doc_int, the id in
    ``doc_min``)."""
    rows = pdf[pdf["term_id"] == sentinel]
    return {
        int(seg): np.unique(g["doc_min"].to_numpy(dtype=np.int64)) - int(seg) * segment_docs
        for seg, g in rows.groupby("seg", sort=False)
    }


class _TermIndex:
    """One segment's posting blocks as numpy columns: the frame's
    columns are pulled out once and lexsorted by
    ``(term_id, doc_min)``, so term ``i``'s blocks are the run
    ``starts[i]:ends[i]`` between two ``term_id`` changes, doc_min
    ascending.  Block ranges within a term never overlap (pack_postings
    emits consecutive sorted runs; appended runs start past the previous
    max doc_int), so searchsorted over a run's ``bmin``/``bmax`` is sound.

    The sort matters: rows arrive through a ``repartition(seg)`` shuffle
    and, on appended indexes, from several parquet files read in an order
    Spark picks by size, so raw partition order is NOT ascending.

    ``terms`` are the run keys in key order (the kernel's deterministic
    tiebreak); ``tmax`` is each term's max block weight (one
    ``np.maximum.reduceat``); ``bmin``/``bmax`` are segment-local."""

    def __init__(self, g: pd.DataFrame, base: int, wcol: str, mcol: str):
        term = g["term_id"].to_numpy()
        dmin = g["doc_min"].to_numpy(dtype=np.int64)
        order = np.lexsort((dmin, term))
        term = term[order]
        change = np.concatenate(([len(term) > 0], term[1:] != term[:-1]))
        self.starts = np.flatnonzero(change)
        self.ends = np.append(self.starts[1:], len(term))
        self.terms = term[self.starts].tolist()
        self.bmin = dmin[order] - base
        self.bmax = g["doc_max"].to_numpy(dtype=np.int64)[order] - base
        bmw = g[mcol].to_numpy(dtype=np.float64)[order]
        self.tmax = np.maximum.reduceat(bmw, self.starts)
        self.docs = g["docs"].to_numpy()[order]
        self.wts = g[wcol].to_numpy()[order]
        self.ns = g["n"].to_numpy(dtype=np.int64)[order]
        self.base = base

    def decode(self, rows) -> tuple[np.ndarray, np.ndarray]:
        """The postings of block rows ``rows`` (a slice or ascending row
        indices within one term): local idx ascending, weights, in one
        vectorized decode."""
        d, w = unpack_blocks(self.docs[rows], self.wts[rows], self.ns[rows])
        return d - self.base, w


def _alive_mask(
    seg_docs: int,
    dead: np.ndarray | None,
    wm_local: int | None,
    allow: np.ndarray | None = None,
    allow_active: bool = False,
) -> np.ndarray | None:
    """The eligibility mask the kernel applies BEFORE θ/candidates/output.

    ``allow_active`` distinguishes "no filter" (None mask possible) from
    "filter excludes this whole segment" (an active filter whose allow rows
    never reached this seg means NO doc here is eligible — without the flag
    the kernel would treat the segment as unfiltered and leak disallowed
    docs).  Deletes and the snapshot watermark then clear bits on top."""
    alive: np.ndarray | None = None
    if allow_active:
        alive = np.zeros(seg_docs, dtype=bool)
        if allow is not None and len(allow):
            alive[allow[(allow >= 0) & (allow < seg_docs)]] = True
    if dead is not None and len(dead):
        if alive is None:
            alive = np.ones(seg_docs, dtype=bool)
        alive[dead[(dead >= 0) & (dead < seg_docs)]] = False
    if wm_local is not None and wm_local < seg_docs:
        if alive is None:
            alive = np.ones(seg_docs, dtype=bool)
        alive[max(wm_local, 0):] = False
    return alive


def _score_segment(
    g: pd.DataFrame,
    queries: list[tuple[str, list[tuple[int, float]]]],
    base: int,
    segment_docs: int,
    top_k: int,
    dead: np.ndarray | None,
    wcol: str,
    mcol: str,
    wm_local: int | None = None,
    allow: np.ndarray | None = None,
    allow_active: bool = False,
) -> tuple[list, list, list, int, int]:
    """Exact top-k for one segment and every query of a call, one or
    many: the WAND driver's only segment kernel.

    Returns (query_ids, doc_ints, scores, blocks_total, blocks_decoded);
    ties at the k-boundary are all kept (the caller's global order
    resolves them).

    ``wm_local`` is the reader's as-of-open snapshot watermark in segment-
    local coordinates: docs at local index >= wm_local belong to batches
    not yet acknowledged when the reader opened and are masked exactly
    like tombstones (they never touch θ, candidates, or the output).  Only
    blocks SPANNING the watermark reach here with post-watermark docs —
    all-post-watermark blocks are dropped by the pushed ``doc_min < W``
    predicate (searcher._postings).

    Decode policy is **one vectorized call per use, each block at most
    once**.  A query that scatters a term decodes all of its blocks not
    yet decoded together (``unpack_blocks``: one varbyte decode over the
    joined buffers, one segmented cumsum).  A repair through a cut term
    decodes only the blocks whose ranges (checked against candidate doc
    ids with metadata only — searchsorted over bmin/bmax, no decode)
    cover a surviving candidate, also in one call.  There is no per-block
    bound probe inside a scatter: one call over all of a term's blocks
    costs less than a call per block (BENCH.md, "One WAND kernel").

    What stays packed: blocks of terms MaxScore-cut by every query that
    carries them that cover no surviving candidate.

    Block rows may arrive in any order; ``_TermIndex`` sorts them.
    """
    alive = _alive_mask(segment_docs, dead, wm_local, allow, allow_active)

    ti = _TermIndex(g, base, wcol, mcol)
    slot = {t: i for i, t in enumerate(ti.terms)}
    tmax = ti.tmax.tolist()
    blocks_total = len(ti.ns)
    decoded: list[tuple[np.ndarray, np.ndarray] | None] = [None] * len(tmax)
    # term -> (its blocks decoded so far, their postings): cut terms
    # repaired through some of their blocks only
    part: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    n_decoded = 0

    def postings(i: int, rows: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
        """Term ``i``'s postings (idx ascending) in block rows ``rows``,
        all of them if None; a superset may come back, never a block
        decoded twice."""
        nonlocal n_decoded
        if decoded[i] is not None:
            return decoded[i]
        s, e = ti.starts[i], ti.ends[i]
        if rows is None and i not in part:
            decoded[i] = ti.decode(slice(s, e))
            n_decoded += int(e - s)
            return decoded[i]
        done, idx, wts = part.pop(i, (np.zeros(e - s, dtype=bool), None, None))
        new = np.arange(s, e) if rows is None else rows
        new = new[~done[new - s]]
        if len(new):
            d, w = ti.decode(new)
            n_decoded += len(new)
            done[new - s] = True
            if idx is not None:  # blocks never overlap: one sort merges them
                d, w = np.concatenate((idx, d)), np.concatenate((wts, w))
                order = np.argsort(d, kind="stable")
                d, w = d[order], w[order]
            idx, wts = d, w
        if done.all():
            decoded[i] = (idx, wts)
        else:
            part[i] = (done, idx, wts)
        return idx, wts

    acc = np.zeros(segment_docs, dtype=np.float64)
    out_q: list[str] = []
    out_d: list[int] = []
    out_s: list[float] = []
    for qid, qterms in queries:
        # per-query MaxScore: terms descending by upper bound; once the
        # remaining terms' ub-sum falls below a running lower bound θ of
        # the final kth score, STOP scattering — docs not yet touched
        # cannot enter the top-k, and the skipped terms' contributions to
        # surviving candidates are repaired exactly afterwards.
        present = []
        for t, qw in qterms:
            i = slot.get(t)
            if i is not None and tmax[i] > 0.0:
                present.append((qw * tmax[i], i, qw))
        if not present:
            continue
        # slot order is term order: the same deterministic tiebreak
        present.sort(key=lambda x: (-x[0], x[1]))
        ubs = np.array([p[0] for p in present])
        suffix = np.concatenate((np.cumsum(ubs[::-1])[::-1], [0.0]))
        acc.fill(0.0)
        theta = 0.0
        theta_set = False
        cut = len(present)
        for i, (_ub, j, qw) in enumerate(present):
            if theta_set and suffix[i] < theta:
                cut = i  # remaining terms cannot create new top-k docs
                break
            sidx, swts = postings(j)
            acc[sidx] += qw * swts
            # cheap θ lower bound: kth largest of the LIVE accs on the
            # postings scattered so far (a subset's kth is ≤ the global
            # kth, so pruning stays safe; dead docs excluded or θ would
            # overstate and prune true post-delete winners)
            vals = acc[sidx] if alive is None else acc[sidx[alive[sidx]]]
            if len(vals) >= top_k:
                kth = np.partition(vals, len(vals) - top_k)[len(vals) - top_k]
                if kth > 0:
                    theta = max(theta, float(kth))
                    theta_set = True
        live = np.flatnonzero(acc > 0)
        if alive is not None and len(live):
            live = live[alive[live]]
        if len(live) == 0:
            continue
        if cut < len(present):
            # candidate filter with the skipped tail's ub, then exact
            # repair of those terms on survivors only.  The coverage test
            # runs on block METADATA (searchsorted over the sorted
            # non-overlapping ranges): only blocks that contain a
            # surviving candidate are decoded.
            rem = float(suffix[cut])
            live = live[acc[live] + rem >= theta]
            for _, j, qw in present[cut:]:
                if decoded[j] is None:
                    s, e = ti.starts[j], ti.ends[j]
                    pos = np.searchsorted(ti.bmin[s:e], live, side="right") - 1
                    cov = pos >= 0
                    cov[cov] = live[cov] <= ti.bmax[s:e][pos[cov]]
                    if not cov.any():
                        continue  # no candidate in any block range: skip
                    fidx, fwts = postings(j, s + np.unique(pos[cov]))
                else:
                    fidx, fwts = decoded[j]
                p = np.searchsorted(fidx, live)
                ok = p < len(fidx)
                ok[ok] = fidx[p[ok]] == live[ok]
                acc[live[ok]] += qw * fwts[p[ok]]
        scores = acc[live]
        if len(live) > top_k:
            kth = np.partition(scores, len(scores) - top_k)[len(scores) - top_k]
            sel = scores >= kth  # keep k-boundary ties
            live, scores = live[sel], scores[sel]
        out_q.extend([qid] * len(live))
        out_d.extend((live + base).tolist())
        out_s.extend(scores.tolist())
    return out_q, out_d, out_s, blocks_total, n_decoded


def wand_search_many_scores(
    spark: SparkSession,
    postings: DataFrame,
    queries_terms: dict[str, list[tuple[str, float]]],
    segment_docs: int,
    top_k: int = 10,
    deleted: DataFrame | None = None,
    use_cosine: bool = False,
    term_id_seed: int = 0,
    snapshot_max: int | None = None,
    allowed: DataFrame | None = None,
    _counters: tuple[Accumulator, Accumulator] | None = None,
) -> DataFrame:
    """(query_id, doc_int, score) per-segment exact top-k candidates for
    every query in one pass: the one WAND driver, for a single query and
    for a batch; the global merge is left to the caller.

    Per segment it runs ``_score_segment`` over all the call's queries,
    one or many (decode-once per term: the SQL batch path multiplies each
    posting row by every query sharing its term, a Zipfian head term × 100
    queries → 10^8 joined rows, while here each segment's blocks for the
    union of query terms are decoded at most once and scattered into
    per-query dense accumulators).  Only per-segment top-k rows leave the
    kernel.

    ``deleted``/``allowed``: (doc_int) frames of the tombstoned docs and
    of the docs a filter permits (shared by every query), shipped as mask
    rows; segments none of whose docs are allowed are skipped outright.
    The allowed mask grows with |allowed|: use this path for selective
    filters, the SQL path for broad ones.

    ``snapshot_max``: the reader's as-of-open watermark — docs with
    ``doc_int >= snapshot_max`` are masked exactly in the kernel (blocks
    merged across the watermark by a concurrent optimize are decoded and
    row-filtered, never dropped whole; see searcher._postings).

    ``use_cosine`` runs the same kernel over the normalized weight stream.

    ``term_id_seed`` must be the index's recorded seed (manifest layout).

    ``_counters``: a (blocks_total, blocks_decoded) pair of Spark
    accumulators each segment's counts are added to; only the profile
    wrappers below pass it."""
    qids = sorted(queries_terms)
    all_terms = sorted({t for ts in queries_terms.values() for t, _ in ts})
    ids = _query_term_ids(all_terms, term_id_seed)
    b_queries = spark.sparkContext.broadcast(
        [(qid, sorted((ids[t], w) for t, w in queries_terms[qid])) for qid in qids]
    )
    wcol, mcol = ("nwts", "max_nweight") if use_cosine else ("wts", "max_weight")
    filter_active = allowed is not None
    # The term filter comes first: ``term_id IN (...)`` (one ``in_list``
    # expression, so py4j round trips do not grow with the terms) is pushed
    # to parquet row-group stats, and only the query's posting lists are
    # read.  The column pruning matters as much: the postings carry BOTH
    # weight streams, and a query shipping the one it does not score with
    # would pay ~2x the weight bytes through the seg exchange and the Arrow
    # hop into the kernel, the measured scaling cap of this path (the
    # projection lands in the scan).  The mask rows join, then each
    # segment's blocks are colocated: the kernel needs them together.
    cols = ["seg", "term_id", "n", "doc_min", "doc_max", mcol, "docs", wcol]
    pruned = postings.where(in_list("term_id", [ids[t] for t in all_terms])).selectExpr(*cols)
    for mask, sentinel in ((deleted, TOMB_TERM_ID), (allowed, ALLOW_TERM_ID)):
        if mask is not None:
            pruned = pruned.unionByName(
                _tombstone_blocks(mask, segment_docs, sentinel).select(*cols)
            )
    pruned = pruned.repartition(F.col("seg"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = [b for b in batches if len(b)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        dead = _mask_ids(pdf, TOMB_TERM_ID, segment_docs)
        allow = _mask_ids(pdf, ALLOW_TERM_ID, segment_docs)
        queries = b_queries.value
        # real term ids are non-negative 60-bit hashes, mask rows negative
        for seg, g in pdf[pdf["term_id"] >= 0].groupby("seg", sort=False):
            seg = int(seg)
            if filter_active and seg not in allow:
                continue  # active filter, no allowed doc in this segment
            base = seg * segment_docs
            alw, dl = allow.get(seg), dead.get(seg)
            wm = None if snapshot_max is None else int(snapshot_max) - base
            q, d, s, total, decoded = _score_segment(
                g, queries, base, segment_docs, top_k, dl, wcol, mcol,
                wm_local=wm, allow=alw, allow_active=filter_active,
            )
            if _counters is not None:
                _counters[0].add(total)
                _counters[1].add(decoded)
            if len(q):
                yield pd.DataFrame({"query_id": q, "doc_int": d, "score": s})

    return pruned.mapInPandas(kernel, schema="query_id STRING, doc_int LONG, score DOUBLE")


def wand_search_scores(
    spark: SparkSession,
    postings: DataFrame,
    terms: list[tuple[str, float]],
    segment_docs: int,
    top_k: int = 10,
    deleted: DataFrame | None = None,
    use_cosine: bool = False,
    term_id_seed: int = 0,
    snapshot_max: int | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """(doc_int, score) candidates of one query: the driver's
    single-query case (see ``wand_search_many_scores``)."""
    return wand_search_many_scores(
        spark, postings, {"": terms}, segment_docs, top_k, deleted, use_cosine,
        term_id_seed, snapshot_max, allowed,
    ).select("doc_int", "score")


def _block_counts(spark: SparkSession, run) -> DataFrame:
    """One row (blocks_total, blocks_decoded): ``run(counters)`` builds the
    live driver's frame with the counters attached, and a ``count()`` runs
    its kernel once."""
    sc = spark.sparkContext
    counters = (sc.accumulator(0), sc.accumulator(0))
    run(counters).count()
    return local_frame(
        spark,
        [(counters[0].value, counters[1].value)],
        "blocks_total LONG, blocks_decoded LONG",
    )


def wand_profile(
    spark: SparkSession,
    postings: DataFrame,
    terms: list[tuple[str, float]],
    segment_docs: int,
    top_k: int = 10,
    deleted: DataFrame | None = None,
    use_cosine: bool = False,
    term_id_seed: int = 0,
    snapshot_max: int | None = None,
) -> DataFrame:
    """Blocks matching one query's terms and blocks ``_score_segment``
    decoded for them, counted inside a live one-query run — the probe
    behind the ``wand.block_skip_ratio`` figure.

    ``1 - decoded / total`` is the share of the query's matched blocks
    that belong to MaxScore-cut terms and hold no surviving candidate in
    their range: a repair decodes only the blocks that cover one."""
    return _block_counts(spark, lambda c: wand_search_many_scores(
        spark, postings, {"": terms}, segment_docs, top_k, deleted, use_cosine,
        term_id_seed, snapshot_max, _counters=c,
    ))


def wand_batch_profile(
    spark: SparkSession,
    postings: DataFrame,
    queries_terms: dict[str, list[tuple[str, float]]],
    segment_docs: int,
    top_k: int = 10,
    deleted: DataFrame | None = None,
    use_cosine: bool = False,
    term_id_seed: int = 0,
    snapshot_max: int | None = None,
) -> DataFrame:
    """Blocks matching a batch's terms and blocks the kernel decoded for
    them, counted inside a live run — the probe behind the
    ``wand.batch_decode_ratio`` figure (terms no query in the batch
    scattered or repaired through stay packed)."""
    return _block_counts(spark, lambda c: wand_search_many_scores(
        spark, postings, queries_terms, segment_docs, top_k, deleted, use_cosine,
        term_id_seed, snapshot_max, _counters=c,
    ))
