"""WAND-path equivalence: the block-max pruned kernel must be rank- and
score-identical to the SQL path and the oracle on every fixture
(SURVEY.md §7 step 5)."""

import numpy as np
import pytest

from splade_easy_spark.config import IndexConfig
from splade_easy_spark.data import generate_transcripts, generate_query_set
from splade_easy_spark.index import build_index
from splade_easy_spark.query import Searcher
from splade_easy_spark.query.wand import _score_segment
import pandas as pd

from tests.oracle import BM25Oracle, assert_topk_matches

CFG = IndexConfig(build_partitions=8, term_buckets=16, segment_docs=128, block_size=32)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("wand") / "index")
    tx = generate_transcripts(spark, num_convs=25, seed=7)
    build_index(spark, tx, idx_dir, CFG)
    from pyspark.sql import functions as F

    docs = {
        r["doc_id"]: r["text"]
        for r in tx.select(
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"), "text"
        ).collect()
    }
    return idx_dir, BM25Oracle(docs)


def test_wand_equals_sql_and_oracle(corpus, spark):
    idx_dir, oracle = corpus
    s = Searcher(spark, idx_dir, CFG)
    for q in generate_query_set(20, seed=99):
        sql_rows = [(r["doc_id"], r["score"]) for r in s.search(q["text"], top_k=10).collect()]
        wand_rows = [
            (r["doc_id"], r["score"])
            for r in s.search(q["text"], top_k=10, method="wand").collect()
        ]
        expected = oracle.search(q["text"], top_k=10)
        # packed weights are float32 (reference wire format, schema.fbs:15);
        # accumulate float64 — compare at the reference's 1e-5 tolerance
        # (tests/test_scoring.py:20)
        assert_topk_matches(wand_rows, expected, 10, tol=1e-5)
        assert len(wand_rows) == len(sql_rows)
        for (wd, ws), (sd, ss) in zip(wand_rows, sql_rows):
            assert abs(ws - ss) <= 1e-5 * max(1.0, abs(ss))


def test_wand_respects_tombstones(corpus, spark):
    idx_dir, oracle = corpus
    from splade_easy_spark.index.maintenance import delete

    s = Searcher(spark, idx_dir, CFG)
    q = "baba0 ceba1"
    before = s.search(q, top_k=3, method="wand").collect()
    assert before
    victim = before[0]["doc_id"]
    delete(spark, idx_dir, [victim])
    after = [r["doc_id"] for r in s.search(q, top_k=3, method="wand").collect()]
    assert victim not in after
    expected = oracle.search(q, top_k=3, deleted={victim})
    assert_topk_matches([(r["doc_id"], r["score"]) for r in s.search(q, 3, method="wand").collect()], expected, 3)


def test_segment_kernel_pruning_exactness():
    """Unit-level: randomized segment, kernel top-k == brute force."""
    rng = np.random.default_rng(0)
    seg_docs, n_terms = 512, 12
    rows = []
    truth = np.zeros(seg_docs)
    qw_map = {}
    from splade_easy_spark.index.postings import pack_postings

    for t in range(n_terms):
        term = f"t{t}"
        qw_map[term] = float(rng.uniform(0.5, 2.0))
        n_post = int(rng.integers(5, seg_docs))
        docs = np.sort(rng.choice(seg_docs, size=n_post, replace=False)).astype(np.int64)
        wts = rng.uniform(0.01, 3.0, size=n_post)
        truth[docs] += qw_map[term] * wts.astype(np.float32).astype(np.float64)
        for b in pack_postings(docs, wts, 32):
            rows.append(
                {
                    "seg": 0, "term_id": term, "block_id": b["block_id"], "n": b["n"],
                    "doc_min": b["doc_min"], "doc_max": b["doc_max"],
                    "max_weight": b["max_weight"], "docs": b["docs"], "wts": b["wts"],
                }
            )
    g = pd.DataFrame(rows)
    d, s, bt, bd = _score_segment(g, qw_map, 0, seg_docs, 10, None)
    order = np.lexsort((np.arange(seg_docs), -truth))[:10]
    assert list(d)[:10] == [int(i) for i in order]
    assert np.allclose(s[:10], truth[order], rtol=1e-7)
    assert bd <= bt


def _mk_rows(term_postings, block_size=4):
    """term_postings: {term: [(doc, w), ...]} → postings rows + qw_map=1.0.

    The kernels group on the ``term_id`` column but are key-type agnostic
    (the live path feeds int64 hashes; these unit fixtures keep readable
    string keys)."""
    from splade_easy_spark.index.postings import pack_postings

    rows = []
    for term, posts in term_postings.items():
        docs = np.array([p[0] for p in posts], dtype=np.int64)
        wts = np.array([p[1] for p in posts], dtype=np.float64)
        for b in pack_postings(docs, wts, block_size):
            rows.append(
                {
                    "seg": 0, "term_id": term, "block_id": b["block_id"], "n": b["n"],
                    "doc_min": b["doc_min"], "doc_max": b["doc_max"],
                    "max_weight": b["max_weight"], "docs": b["docs"], "wts": b["wts"],
                }
            )
    return pd.DataFrame(rows)


def test_kernel_candidate_mode_with_deleted_top_doc():
    """Regression (round-1 ADVICE, high): a tombstoned doc in the running
    top-k must not inflate θ and prune the true post-delete winner.

    term a: doc0 has a huge weight (θ would lock to it), docs 1..7 weight 1;
    term b: doc5 weight 0.9.  With doc0 deleted, the true top-1 is doc5
    (1.0 + 0.9); the buggy kernel kept θ=10 from the dead doc and skipped
    term b's block."""
    g = _mk_rows(
        {
            "a": [(0, 10.0)] + [(i, 1.0) for i in range(1, 8)],
            "b": [(5, 0.9)],
        }
    )
    qw = {"a": 1.0, "b": 1.0}
    # sanity without deletes: doc0 wins
    d, s, _, _ = _score_segment(g, qw, 0, 16, 1, None)
    assert int(d[0]) == 0
    # with doc0 tombstoned: doc5 must win with its EXACT score
    d, s, _, _ = _score_segment(g, qw, 0, 16, 1, np.array([0], dtype=np.int64))
    assert int(d[0]) == 5
    assert abs(float(s[0]) - (1.0 + np.float32(0.9))) < 1e-6
    assert 0 not in set(int(x) for x in d)


def test_kernel_randomized_with_deletes():
    """Randomized segments with random tombstones: kernel == brute force."""
    rng = np.random.default_rng(42)
    from splade_easy_spark.index.postings import pack_postings

    for trial in range(8):
        seg_docs = int(rng.integers(64, 512))
        n_terms = int(rng.integers(2, 10))
        truth = np.zeros(seg_docs)
        qw_map, rows = {}, []
        for t in range(n_terms):
            term = f"t{t}"
            qw_map[term] = float(rng.uniform(0.5, 2.0))
            n_post = int(rng.integers(3, seg_docs))
            docs = np.sort(rng.choice(seg_docs, size=n_post, replace=False)).astype(np.int64)
            wts = rng.uniform(0.01, 3.0, size=n_post)
            truth[docs] += qw_map[term] * wts.astype(np.float32).astype(np.float64)
            for b in pack_postings(docs, wts, 16):
                rows.append(
                    {
                        "seg": 0, "term_id": term, "block_id": b["block_id"], "n": b["n"],
                        "doc_min": b["doc_min"], "doc_max": b["doc_max"],
                        "max_weight": b["max_weight"], "docs": b["docs"], "wts": b["wts"],
                    }
                )
        k = int(rng.integers(1, 12))
        dead = rng.choice(seg_docs, size=int(rng.integers(0, seg_docs // 4 + 1)), replace=False)
        masked = truth.copy()
        masked[dead.astype(np.int64)] = 0.0
        d, s, bt, bd = _score_segment(
            pd.DataFrame(rows), qw_map, 0, seg_docs, k, dead.astype(np.int64)
        )
        expect = np.lexsort((np.arange(seg_docs), -masked))
        expect = [int(i) for i in expect[: k] if masked[i] > 0]
        assert list(d)[: len(expect)] == expect, f"trial {trial}"
        assert np.allclose(s[: len(expect)], masked[expect], rtol=1e-7)
        assert bd <= bt


def test_kernel_keeps_kth_ties():
    """k-boundary ties must all survive the per-segment cut so the global
    (score DESC, doc_id ASC) order resolves them (round-1 ADVICE, low)."""
    g = _mk_rows({"a": [(1, 2.0), (2, 1.0), (3, 1.0), (4, 1.0), (5, 0.5)]})
    d, s, _, _ = _score_segment(g, {"a": 1.0}, 0, 8, 2, None)
    # top-2 cut lands on the 1.0 tie group: all three tied docs kept
    assert list(d) == [1, 2, 3, 4]
    assert [round(float(x), 6) for x in s] == [2.0, 1.0, 1.0, 1.0]


def test_kernel_keeps_theta_doc_after_last_term():
    """The candidate whose score IS θ must survive the last term.

    Term a alone sets θ above the four light terms' bound sum, so the
    kernel freezes doc 0 as the only candidate and then retires the light
    terms' bounds one by one.  Subtracting 0.3, 0.2, 0.2, 0.2 from their
    float sum leaves a negative residue, which used to make
    ``score + remaining bound < θ`` and return no hit at all."""
    g = _mk_rows(
        {"a": [(0, 1.0)], "b": [(0, 0.3)], "c": [(0, 0.2)], "d": [(0, 0.2)], "e": [(0, 0.2)]}
    )
    qw = {t: 1.0 for t in "abcde"}
    d, s, _, _ = _score_segment(g, qw, 0, 4, 1, None)
    assert list(d) == [0]
    expect = 1.0 + float(np.float32(0.3)) + 3 * float(np.float32(0.2))
    assert abs(float(s[0]) - expect) < 1e-9


def test_wand_profile_blocks_skipped(corpus, spark):
    """The instrumented kernel must report real pruning on a skewed corpus
    and stay exact (wand_profile shares _score_segment with the live path)."""
    idx_dir, _ = corpus
    from splade_easy_spark.data.transcripts import make_vocab
    from splade_easy_spark.query.wand import wand_profile
    from splade_easy_spark.query.searcher import analyze_query

    s = Searcher(spark, idx_dir, CFG)
    text = " ".join(make_vocab()[:12])
    terms = analyze_query(text, CFG)
    postings = s.cat.read(spark, "postings")
    prof = wand_profile(spark, postings, terms, CFG.segment_docs, top_k=3).collect()
    total = sum(r["blocks_total"] for r in prof)
    decoded = sum(r["blocks_decoded"] for r in prof)
    assert 0 < decoded < total, (decoded, total)
    sql = [(r["doc_id"], r["score"]) for r in s.search(text, top_k=3).collect()]
    wand = [(r["doc_id"], r["score"]) for r in s.search(text, top_k=3, method="wand").collect()]
    assert [d for d, _ in wand] == [d for d, _ in sql]
    for (_, a), (_, b) in zip(wand, sql):
        assert abs(a - b) <= 1e-5 * max(1.0, abs(b))


def test_batch_wand_equals_batch_sql(corpus, spark):
    idx_dir, oracle = corpus
    s = Searcher(spark, idx_dir, CFG)
    queries = [{"query_id": f"q{i}", "text": q["text"]} for i, q in enumerate(generate_query_set(12, seed=31))]
    def collect(method):
        got = {}
        for r in s.search_many(queries, top_k=5, method=method).collect():
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return got
    sql, wand = collect("sql"), collect("wand")
    assert set(sql) == set(wand)
    for qid in sql:
        assert [d for d, _ in sql[qid]] == [d for d, _ in wand[qid]]
        for (_, a), (_, b) in zip(sql[qid], wand[qid]):
            assert abs(a - b) <= 1e-5 * max(1.0, abs(a))  # float32 packed weights


def test_batch_wand_prune_repair_exact(corpus, spark):
    """Force the batch kernel's MaxScore cut + repair (queries with many
    skewed-ub terms) and assert exact equality with the SQL batch path.
    (Runs against whatever tombstones the module fixture has accumulated —
    both paths see the same deleted table, so equality still pins the
    kernel's tombstone handling.)"""
    from splade_easy_spark.index.maintenance import delete
    from splade_easy_spark.data.transcripts import make_vocab

    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    vocab = make_vocab()
    # long queries (many terms) make the ub tail prunable
    queries = [
        {"query_id": f"lq{i}", "text": " ".join(vocab[i * 7 % 40 : i * 7 % 40 + 12])}
        for i in range(8)
    ]

    def collect(method, k):
        got = {}
        for r in s.search_many(queries, top_k=k, method=method).collect():
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return got

    for k in (3, 10):
        sql, wand = collect("sql", k), collect("wand", k)
        assert set(sql) == set(wand)
        for qid in sql:
            assert [d for d, _ in sql[qid]] == [d for d, _ in wand[qid]], qid
            for (_, a), (_, b) in zip(sql[qid], wand[qid]):
                assert abs(a - b) <= 1e-5 * max(1.0, abs(a))


def test_batch_segment_unsorted_rows_exact():
    _check_unsorted_rows("reversed")


def test_batch_segment_shuffled_rows_exact():
    _check_unsorted_rows("shuffled")


def _check_unsorted_rows(order):
    """Regression (round-2 ADVICE, high): the batch kernel must sort each
    term's block rows by doc_min before use — after the seg shuffle (and on
    appended multi-file indexes) rows arrive in arbitrary order, and an
    unsorted concatenation corrupts the searchsorted repair whenever the
    MaxScore cut fires.  Feed deliberately REVERSED block order within
    each term, or a full shuffle that interleaves the terms, and force the
    cut with a skewed-ub term tail; compare against brute force.  The
    single-query kernel gets the same frame."""
    from splade_easy_spark.query.wand import _batch_segment

    rng = np.random.default_rng(3)
    seg_docs = 256
    truth: dict[str, np.ndarray] = {}
    qw_map = {}
    frames = []
    from splade_easy_spark.index.postings import pack_postings

    for t in range(10):
        term = f"t{t}"
        qw_map[term] = float(rng.uniform(0.1, 2.0)) * (10.0 if t == 0 else 1.0)
        n_post = int(rng.integers(40, seg_docs))
        docs = np.sort(rng.choice(seg_docs, size=n_post, replace=False)).astype(np.int64)
        wts = rng.uniform(0.01, 3.0, size=n_post)
        acc = np.zeros(seg_docs)
        acc[docs] = qw_map[term] * wts.astype(np.float32).astype(np.float64)
        truth[term] = acc
        rows = []
        for b in pack_postings(docs, wts, 8):
            rows.append(
                {
                    "seg": 0, "term_id": term, "block_id": b["block_id"], "n": b["n"],
                    "doc_min": b["doc_min"], "doc_max": b["doc_max"],
                    "max_weight": b["max_weight"], "docs": b["docs"], "wts": b["wts"],
                }
            )
        frames.append(pd.DataFrame(rows).iloc[::-1])  # REVERSED block order
    g = pd.concat(frames, ignore_index=True)
    if order == "shuffled":
        g = g.iloc[rng.permutation(len(g))].reset_index(drop=True)
    queries = [
        ("q0", sorted(qw_map.items())),  # all terms: skewed ub forces the cut
        ("q1", [("t1", qw_map["t1"]), ("t2", qw_map["t2"])]),
    ]
    out_q, out_d, out_s, bt, bd = _batch_segment(
        g, queries, 0, seg_docs, 5, None, "wts", "max_weight"
    )
    assert bd <= bt
    got: dict[str, list] = {}
    for q, d, s in zip(out_q, out_d, out_s):
        got.setdefault(q, []).append((d, s))
    for qid, qterms in queries:
        total = np.sum([truth[t] for t, _ in qterms], axis=0)
        order = np.lexsort((np.arange(seg_docs), -total))
        expect = [int(i) for i in order[:5] if total[i] > 0]
        rows = sorted(got[qid], key=lambda r: (-r[1], r[0]))
        assert [d for d, _ in rows][: len(expect)] == expect, qid
        assert np.allclose([s for _, s in rows][: len(expect)], total[expect], rtol=1e-7)
    total = np.sum(list(truth.values()), axis=0)
    expect = [int(i) for i in np.lexsort((np.arange(seg_docs), -total))[:5]]
    d, s, bt, bd = _score_segment(g, qw_map, 0, seg_docs, 5, None)
    assert bd <= bt
    assert [int(x) for x in d][:5] == expect
    assert np.allclose(s[:5], total[expect], rtol=1e-7)


def test_kernels_no_per_term_pandas(monkeypatch):
    """Per-term overhead guard: the batch kernel decodes each term it
    needs with ONE varbyte call however many blocks the term has, and
    neither kernel groups or sorts a pandas frame (both read one lexsorted
    numpy term index)."""
    from splade_easy_spark.index import postings
    from splade_easy_spark.query.wand import _batch_segment

    rng = np.random.default_rng(11)
    seg_docs, n_terms = 512, 24
    posts = {}
    for t in range(n_terms):
        docs = np.sort(rng.choice(seg_docs, size=int(rng.integers(40, 200)), replace=False))
        posts[f"t{t:02d}"] = list(zip(docs.tolist(), rng.uniform(0.01, 3.0, len(docs)).tolist()))
    g = _mk_rows(posts, block_size=16)  # every term spans 3-13 blocks
    assert g.groupby("term_id").size().min() > 1
    terms = sorted(posts)
    queries = [
        ("q0", [(t, 1.0) for t in terms[:16]]),
        ("q1", [(t, 0.5) for t in terms[8:]]),
    ]

    calls = []
    decode = postings.varbyte_decode

    def counting(buf, count):
        calls.append(count)
        return decode(buf, count)

    def forbidden(*_a, **_k):
        raise AssertionError("per-term pandas call inside a WAND kernel")

    monkeypatch.setattr(postings, "varbyte_decode", counting)
    monkeypatch.setattr(pd.DataFrame, "groupby", forbidden)
    monkeypatch.setattr(pd.DataFrame, "sort_values", forbidden)
    # k = seg_docs: no MaxScore cut, so every term is scattered
    out_q, out_d, out_s, bt, bd = _batch_segment(
        g, queries, 0, seg_docs, seg_docs, None, "wts", "max_weight"
    )
    assert bd == bt == len(g)
    assert len(calls) <= n_terms, f"{len(calls)} decodes for {n_terms} terms"
    d, s, bt1, _ = _score_segment(g, {t: 1.0 for t in terms}, 0, seg_docs, 10, None)
    assert bt1 == len(g) and len(d) >= 10


def test_batch_wand_appended_multifile_index(spark, tmp_path):
    """Batch WAND on an APPENDED index (multiple parquet files per segment,
    Spark's read order by size ≠ doc order) must equal the SQL batch path —
    the round-2 high-severity gap: no batch test exercised multi-file
    postings, where the repair step saw unsorted doc ids."""
    from splade_easy_spark.index.append import append_documents
    from splade_easy_spark.data.transcripts import make_vocab

    idx_dir = str(tmp_path / "index")
    tx = generate_transcripts(spark, num_convs=18, seed=11)
    build_index(spark, tx, idx_dir, CFG)
    for seed in (12, 13):  # two appends → ≥3 files' runs per hot (seg, term)
        append_documents(spark, idx_dir, generate_transcripts(spark, num_convs=6, seed=seed), CFG)

    s = Searcher(spark, idx_dir, CFG)
    vocab = make_vocab()
    queries = [{"query_id": f"q{i}", "text": q["text"]} for i, q in enumerate(generate_query_set(8, seed=21))]
    # long queries force the MaxScore cut + repair on the appended layout
    queries += [
        {"query_id": f"lq{i}", "text": " ".join(vocab[i * 5 % 40 : i * 5 % 40 + 12])}
        for i in range(6)
    ]

    def collect(method, k):
        got = {}
        for r in s.search_many(queries, top_k=k, method=method).collect():
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return got

    for k in (3, 10):
        sql, wand = collect("sql", k), collect("wand", k)
        assert set(sql) == set(wand)
        for qid in sql:
            assert [d for d, _ in sql[qid]] == [d for d, _ in wand[qid]], qid
            for (_, a), (_, b) in zip(sql[qid], wand[qid]):
                assert abs(a - b) <= 1e-5 * max(1.0, abs(a))


def test_batch_profile_skips_block_decodes(corpus, spark):
    """Decode-once batch kernel (round-4 simplification): a term that every
    query MaxScore-cuts, whose block ranges cover no surviving candidate,
    must never be decoded — checked with block METADATA only.  (The round-3
    per-block lazy cache measured 0.97–1.00 decode ratio across 5k/50k
    vocabularies and 100–500-query batches, so whole-term decode-once with
    a metadata coverage check is the round-4 policy.)"""
    from splade_easy_spark.query.wand import _batch_segment

    # term X dominates (doc0=10, doc1=5); term Y is weak (ub=qw·max=1e-4)
    # and lives in a doc range [100..103] far from X's docs, so after the
    # cut no candidate falls inside Y's block range → Y stays packed.
    g = _mk_rows(
        {
            "X": [(0, 10.0), (1, 5.0)],
            "Y": [(100, 0.01), (101, 0.01), (102, 0.01), (103, 0.01)],
        },
        block_size=4,
    )
    queries = [("q0", [("X", 1.0), ("Y", 0.01)])]
    out_q, out_d, out_s, total, decoded = _batch_segment(
        g, queries, 0, 256, 1, None, "wts", "max_weight"
    )
    assert out_d == [0] and abs(out_s[0] - 10.0) < 1e-6
    x_blocks = 1  # 2 postings, block_size=4
    y_blocks = 1
    assert total == x_blocks + y_blocks
    assert decoded == x_blocks, "cut term with no covered candidate was decoded"

    # and when a candidate DOES fall in the cut term's range, it is decoded
    # and repaired exactly
    g2 = _mk_rows(
        {
            "X": [(0, 10.0), (1, 5.0)],
            "Y": [(0, 0.01), (101, 0.01)],
        },
        block_size=4,
    )
    out_q, out_d, out_s, total2, decoded2 = _batch_segment(
        g2, [("q0", [("X", 1.0), ("Y", 0.01)])], 0, 256, 1, None, "wts", "max_weight"
    )
    assert out_d == [0] and abs(out_s[0] - (10.0 + 0.01 * np.float32(0.01))) < 1e-6
    assert decoded2 == total2 == 2


def test_cosine_wand_equals_cosine_sql(corpus, spark):
    """Cosine through the packed kernel (normalized weight stream) must be
    rank- and score-identical to the SQL path's dot/(|d||q|)."""
    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    for q in generate_query_set(12, seed=5):
        sql_rows = [
            (r["doc_id"], r["score"])
            for r in s.search(q["text"], top_k=10, use_cosine=True).collect()
        ]
        wand_rows = [
            (r["doc_id"], r["score"])
            for r in s.search(q["text"], top_k=10, use_cosine=True, method="wand").collect()
        ]
        assert [d for d, _ in wand_rows] == [d for d, _ in sql_rows]
        for (_, a), (_, b) in zip(wand_rows, sql_rows):
            assert abs(a - b) <= 1e-5 * max(1.0, abs(b))  # float32 packed


def test_cosine_batch_wand_equals_sql(corpus, spark):
    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    queries = [
        {"query_id": f"cq{i}", "text": q["text"]}
        for i, q in enumerate(generate_query_set(8, seed=77))
    ]

    def collect(method):
        got = {}
        for r in s.search_many(queries, top_k=5, use_cosine=True, method=method).collect():
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return got

    sql, wand = collect("sql"), collect("wand")
    assert set(sql) == set(wand)
    for qid in sql:
        assert [d for d, _ in sql[qid]] == [d for d, _ in wand[qid]]
        for (_, a), (_, b) in zip(sql[qid], wand[qid]):
            assert abs(a - b) <= 1e-5 * max(1.0, abs(a))


def test_search_many_one_query_is_search(corpus, spark):
    """One WAND driver: a one-query ``search_many`` runs the same kernel
    as ``search`` (``_score_segment``) and the same cosine division, so
    doc_ids and scores are bit-identical — dot and cosine, after a
    delete, with and without a ``doc_filter``."""
    from pyspark.sql import functions as F

    from splade_easy_spark.index.maintenance import delete

    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    q = "baba0 ceba1 diba2"
    victim = s.search(q, top_k=1, method="wand").collect()[0]["doc_id"]
    delete(spark, idx_dir, [victim])
    assert s._deleted() is not None
    checked = 0
    for text in [q] + [x["text"] for x in generate_query_set(4, seed=13)]:
        for use_cosine in (False, True):
            for pred in (None, F.col("role") == "user"):
                one = s.search(
                    text, top_k=5, use_cosine=use_cosine, method="wand", doc_filter=pred
                ).collect()
                many = s.search_many(
                    [{"query_id": "only", "text": text}], top_k=5,
                    use_cosine=use_cosine, method="wand", doc_filter=pred,
                ).collect()
                assert [(r["doc_id"], r["score"]) for r in one] == [
                    (r["doc_id"], r["score"]) for r in many
                ], (text, use_cosine, pred)
                assert victim not in {r["doc_id"] for r in one}
                checked += bool(one)
    assert checked >= 10


def _local_pruned(s, terms: list[str]):
    """The query terms' pruned postings, collected: one pandas frame per
    segment, with the term -> term_id map the driver uses."""
    from splade_easy_spark.functions.predicates import in_list
    from splade_easy_spark.index.catalog import term_id_py

    ids = {t: term_id_py(t, s.term_id_seed) for t in terms}
    cols = ["seg", "term_id", "n", "doc_min", "doc_max", "max_weight", "docs", "wts"]
    pdf = s.cat.read(s.spark, "postings").where(in_list("term_id", list(ids.values())))
    return dict(list(pdf.select(*cols).toPandas().groupby("seg"))), ids


def test_profiles_count_the_live_kernels(corpus, spark):
    """``wand_profile`` / ``wand_batch_profile`` read their counters from
    the live driver: their totals equal the (blocks_total,
    blocks_decoded) that ``_score_segment`` and ``_batch_segment`` return
    when run locally over the same collected postings."""
    from splade_easy_spark.query.searcher import analyze_query
    from splade_easy_spark.query.wand import (
        _batch_segment,
        wand_batch_profile,
        wand_profile,
    )

    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    post = s.cat.read(spark, "postings")
    seg_docs, k = CFG.segment_docs, 3

    from splade_easy_spark.data.transcripts import make_vocab

    terms = analyze_query(" ".join(make_vocab()[:12]), CFG)  # skips blocks at k=3
    segs, ids = _local_pruned(s, [t for t, _ in terms])
    qw = {ids[t]: w for t, w in terms}
    local = np.zeros(2, dtype=np.int64)
    for seg, g in segs.items():
        local += _score_segment(g, qw, int(seg) * seg_docs, seg_docs, k, None)[2:]
    prof = wand_profile(spark, post, terms, seg_docs, top_k=k).collect()
    assert [(r["blocks_total"], r["blocks_decoded"]) for r in prof] == [tuple(local)]
    assert 0 < local[1] < local[0], "the fixture query must skip blocks"

    qterms = {
        q["query_id"]: analyze_query(q["text"], CFG) for q in generate_query_set(12, seed=31)
    }
    qterms = {k_: v for k_, v in qterms.items() if v}
    segs, ids = _local_pruned(s, sorted({t for ts in qterms.values() for t, _ in ts}))
    queries = [(q, sorted((ids[t], w) for t, w in qterms[q])) for q in sorted(qterms)]
    local = np.zeros(2, dtype=np.int64)
    for seg, g in segs.items():
        out = _batch_segment(g, queries, int(seg) * seg_docs, seg_docs, k, None, "wts", "max_weight")
        local += out[3:]
    prof = wand_batch_profile(spark, post, qterms, seg_docs, top_k=k).collect()
    assert [(r["blocks_total"], r["blocks_decoded"]) for r in prof] == [tuple(local)]
    assert local[0] > 0


from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _segment_case(draw):
    """Random segment: terms with sorted unique doc subsets + weights,
    random block size, query weights, tombstones, k."""
    seg_docs = draw(st.integers(8, 96))
    n_terms = draw(st.integers(1, 5))
    terms = {}
    for t in range(n_terms):
        docs = sorted(
            draw(
                st.sets(st.integers(0, seg_docs - 1), min_size=1, max_size=seg_docs)
            )
        )
        wts = [
            draw(st.floats(0.01, 8.0, allow_nan=False)) for _ in docs
        ]
        terms[f"t{t}"] = list(zip(docs, wts))
    qw = {
        t: draw(st.floats(0.1, 4.0, allow_nan=False)) for t in terms
    }
    dead = sorted(draw(st.sets(st.integers(0, seg_docs - 1), max_size=seg_docs // 2)))
    block_size = draw(st.integers(1, 8))
    k = draw(st.integers(1, 6))
    # as-of-open snapshot watermark in segment-local coordinates (None =
    # no snapshot bound); docs >= wm must behave exactly like tombstones
    wm = draw(st.one_of(st.none(), st.integers(0, seg_docs)))
    return seg_docs, terms, qw, dead, block_size, k, wm


def _truth(seg_docs, terms, qw, dead, wm=None):
    acc = np.zeros(seg_docs)
    for t, posts in terms.items():
        for d, w in posts:
            acc[d] += qw[t] * np.float64(np.float32(w))
    alive = np.ones(seg_docs, dtype=bool)
    alive[dead] = False
    if wm is not None:
        alive[wm:] = False
    return acc, alive


def _check_exact(d_out, s_out, acc, alive, k):
    """Kernel contract: every returned (doc, score) is the exact score of a
    live doc; all k-boundary ties kept; every live doc strictly above the
    smallest returned score is present."""
    assert len(d_out) == len(set(int(x) for x in d_out))
    for doc, score in zip(d_out, s_out):
        assert alive[int(doc)]
        assert abs(score - acc[int(doc)]) < 1e-6 * max(1.0, abs(acc[int(doc)]))
    live_scores = sorted((acc[i] for i in np.flatnonzero(alive & (acc > 0))), reverse=True)
    if not live_scores:
        assert len(d_out) == 0
        return
    kth = live_scores[min(k, len(live_scores)) - 1]
    returned = {int(x) for x in d_out}
    for i in np.flatnonzero(alive & (acc > 0)):
        if acc[i] > kth + 1e-9:
            assert int(i) in returned
    assert all(s >= kth - 1e-9 for s in s_out)


@settings(max_examples=40, deadline=None)
@given(_segment_case())
def test_score_segment_exactness_property(case):
    """Property-based: the single-query kernel is exact (scores, tombstone
    masking, snapshot-watermark masking, tie retention) on arbitrary
    segments — hypothesis shrinks the seeded randomized test's blind spots
    (1-posting terms, all-tied weights, half-dead segments, block_size=1,
    watermarks splitting a block)."""
    seg_docs, terms, qw, dead, block_size, k, wm = case
    g = _mk_rows(terms, block_size=block_size)
    acc, alive = _truth(seg_docs, terms, qw, dead, wm)
    d, s, bt, bd = _score_segment(
        g, qw, 0, seg_docs, k,
        np.array(dead, dtype=np.int64) if dead else None,
        wm_local=wm,
    )
    assert bd <= bt
    _check_exact(d, s, acc, alive, k)


@settings(max_examples=25, deadline=None)
@given(_segment_case(), st.integers(1, 3))
def test_batch_segment_exactness_property(case, n_queries):
    """Property-based: the decode-once batch kernel matches the same
    contract for every query in the batch (shared decode state must never
    leak a previous query's accumulator)."""
    from splade_easy_spark.query.wand import _batch_segment

    seg_docs, terms, qw, dead, block_size, k, wm = case
    g = _mk_rows(terms, block_size=block_size)
    tnames = sorted(terms)
    queries = []
    for qi in range(n_queries):
        sub = tnames[qi % len(tnames):]  # varying term subsets per query
        queries.append((f"q{qi}", sorted((t, qw[t]) for t in sub)))
    out_q, out_d, out_s, bt, bd = _batch_segment(
        g, queries, 0, seg_docs, k,
        np.array(dead, dtype=np.int64) if dead else None,
        "wts", "max_weight",
        wm_local=wm,
    )
    assert bd <= bt
    per_q: dict = {}
    for qid, doc, score in zip(out_q, out_d, out_s):
        per_q.setdefault(qid, ([], []))
        per_q[qid][0].append(doc)
        per_q[qid][1].append(score)
    for qid, qterms in queries:
        sub_terms = {t: terms[t] for t, _ in qterms}
        acc, alive = _truth(seg_docs, sub_terms, dict(qterms), dead, wm)
        d_out, s_out = per_q.get(qid, ([], []))
        _check_exact(d_out, s_out, acc, alive, k)


def test_term_bounds_dominate_every_packed_weight(corpus, spark):
    """The driver-side per-term bound (idf · max_tf·(k1+1)/(max_tf+k1·(1−b)))
    must dominate every doc-side weight actually indexed — the soundness
    condition for both the exact OOV drop and the approximate tail cut."""
    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    bounds = s._term_bounds()
    assert bounds, "small fixture vocab must load"
    from pyspark.sql import functions as F

    actual = {
        r["term"]: r["mx"]
        for r in s.doc_terms.groupBy("term").agg(F.max("weight").alias("mx")).collect()
    }
    assert set(actual) <= set(bounds)
    for t, mx in actual.items():
        assert bounds[t] >= mx - 1e-9, (t, bounds[t], mx)


def test_oov_drop_exact_batch_and_single(corpus, spark):
    """Queries salted with out-of-vocabulary garbage: the driver-side drop
    shrinks the scan list with results identical to the SQL path (which
    ships the OOV terms and matches nothing), in both batch and — once the
    vocab map is cached — single-query search."""
    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    base = generate_query_set(8, seed=77)
    queries = [
        {"query_id": f"q{i}", "text": q["text"] + " zzqx9 plorvax unseen_tok"}
        for i, q in enumerate(base)
    ]

    def collect(method):
        got = {}
        for r in s.search_many(queries, top_k=5, method=method).collect():
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return got

    sql, wand = collect("sql"), collect("wand")
    assert set(sql) == set(wand)
    for qid in sql:
        assert [d for d, _ in sql[qid]] == [d for d, _ in wand[qid]], qid
        for (_, a), (_, b) in zip(sql[qid], wand[qid]):
            assert abs(a - b) <= 1e-5 * max(1.0, abs(a))
    bounds = s._term_bounds()
    assert "zzqx9" not in bounds and "plorvax" not in bounds
    # cache is now hot: the single-query path applies the same exact drop
    q = base[0]["text"] + " zzqx9 plorvax"
    sql1 = [(r["doc_id"], r["score"]) for r in s.search(q, top_k=5).collect()]
    wand1 = [
        (r["doc_id"], r["score"])
        for r in s.search(q, top_k=5, method="wand").collect()
    ]
    assert [d for d, _ in sql1] == [d for d, _ in wand1]
    for (_, a), (_, b) in zip(sql1, wand1):
        assert abs(a - b) <= 1e-5 * max(1.0, abs(a))
    # an all-OOV query matches nothing on either path
    assert s.search("zzqx9 plorvax", top_k=5, method="wand").count() == 0
    assert s.search_many(
        [{"query_id": "oov", "text": "zzqx9 plorvax"}], top_k=5, method="wand"
    ).count() == 0


def test_oov_drop_exact_cosine_qnorm(corpus, spark):
    """Cosine mode divides by the FULL query norm (OOV terms contribute to
    ‖q‖ in the SQL path though never to the dot) — the drop must shrink
    only the scan list, not the norm."""
    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    queries = [
        {"query_id": f"c{i}", "text": q["text"] + " zzqx9 plorvax"}
        for i, q in enumerate(generate_query_set(6, seed=55))
    ]

    def collect(method):
        got = {}
        rows = s.search_many(queries, top_k=5, use_cosine=True, method=method).collect()
        for r in rows:
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return got

    sql, wand = collect("sql"), collect("wand")
    assert set(sql) == set(wand)
    for qid in sql:
        assert [d for d, _ in sql[qid]] == [d for d, _ in wand[qid]], qid
        for (_, a), (_, b) in zip(sql[qid], wand[qid]):
            assert abs(a - b) <= 1e-5 * max(1.0, abs(a))


def test_term_bounds_vocab_cap_disables_pruning(corpus, spark):
    """Past TERM_BOUNDS_MAX_VOCAB the map is never collected (no driver-
    sized vocab at web scale) and batch results are unchanged."""
    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    s.TERM_BOUNDS_MAX_VOCAB = 0  # instance override
    assert s._term_bounds() is None
    queries = [
        {"query_id": f"q{i}", "text": q["text"]}
        for i, q in enumerate(generate_query_set(6, seed=88))
    ]

    def collect(method):
        got = {}
        for r in s.search_many(queries, top_k=5, method=method).collect():
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return got

    sql, wand = collect("sql"), collect("wand")
    assert set(sql) == set(wand)
    for qid in sql:
        assert [d for d, _ in sql[qid]] == [d for d, _ in wand[qid]]


def test_prune_below_approximate_tail_cut(corpus, spark):
    """prune_below>0 is the documented APPROXIMATE knob: it must cut terms
    (fewer shipped), never raise a returned doc's score above its exact
    value, and converge to the exact result as the threshold → 0."""
    from splade_easy_spark.data.transcripts import make_vocab

    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    vocab = make_vocab()
    queries = [
        {"query_id": f"lq{i}", "text": " ".join(vocab[i * 5 % 40 : i * 5 % 40 + 14])}
        for i in range(6)
    ]

    def collect(method, **kw):
        got = {}
        for r in s.search_many(queries, top_k=5, method=method, **kw).collect():
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return got

    exact = collect("wand")
    # threshold below any realistic ratio: nothing cut, exactly equal
    eps = collect("wand", prune_below=1e-12)
    assert exact == eps
    # aggressive cut still returns well-formed results with scores never
    # exceeding the exact score of the same (query, doc)
    exact_scores = {(q, d): sc for q, rows in exact.items() for d, sc in rows}
    rough = collect("wand", prune_below=0.5)
    for qid, rows in rough.items():
        assert len(rows) <= 5
        for d, sc in rows:
            full = exact_scores.get((qid, d))
            if full is not None:
                assert sc <= full + 1e-6
    # the knob really prunes: per-query kept-term count shrinks
    bounds = s._term_bounds()
    from splade_easy_spark.query.searcher import analyze_query

    cut_any = False
    for q in queries:
        ts = [(t, w) for t, w in analyze_query(q["text"], CFG) if t in bounds]
        if not ts:
            continue
        thr = 0.5 * max(w * bounds[t] for t, w in ts)
        if sum(1 for t, w in ts if w * bounds[t] < thr):
            cut_any = True
    assert cut_any, "fixture queries must exercise the cut"


def test_kernel_allow_mask_composes_with_deletes_and_watermark():
    """Filtered retrieval at kernel grain: the inclusion mask bounds the
    eligible set, deletes and the snapshot watermark clear bits on top,
    and the result equals brute force over (allow − dead − post-wm)."""
    rng = np.random.default_rng(7)
    seg_docs, n_terms = 256, 8
    posts = {}
    truth = np.zeros(seg_docs)
    qw_map = {}
    for t in range(n_terms):
        term = f"t{t}"
        qw_map[term] = float(rng.uniform(0.5, 2.0))
        n_post = int(rng.integers(20, seg_docs))
        docs = np.sort(rng.choice(seg_docs, size=n_post, replace=False))
        wts = rng.uniform(0.01, 3.0, size=n_post)
        truth[docs] += qw_map[term] * wts.astype(np.float32).astype(np.float64)
        posts[term] = list(zip(docs.tolist(), wts.tolist()))
    g = _mk_rows(posts, block_size=16)
    allow = np.sort(rng.choice(seg_docs, size=90, replace=False))
    dead = np.sort(rng.choice(allow, size=15, replace=False))  # overlap allow
    wm = 200
    eligible = np.zeros(seg_docs, dtype=bool)
    eligible[allow] = True
    eligible[dead] = False
    eligible[wm:] = False
    masked = np.where(eligible, truth, -np.inf)
    order = np.lexsort((np.arange(seg_docs), -masked))[:10]
    order = [int(i) for i in order if masked[i] > 0]
    d, s, _, _ = _score_segment(
        g, qw_map, 0, seg_docs, 10, dead, wm_local=wm,
        allow_local=allow, allow_active=True,
    )
    assert list(d)[: len(order)] == order
    assert np.allclose(s[: len(order)], truth[order], rtol=1e-7)
    # active filter + empty allow set = nothing eligible
    d2, s2, _, _ = _score_segment(
        g, qw_map, 0, seg_docs, 10, None, allow_local=None, allow_active=True
    )
    assert len(d2) == 0


def test_mask_rows_generated_cases(spark, tmp_path):
    """Seeded generated cases for the per-id mask rows that carry
    tombstones and a filter's allowed ids into the WAND kernels.  Deletes
    straddle every segment boundary, the filter is drawn at random, and
    WAND (dot and cosine, ``search`` and ``search_many``) equals SQL under
    (score desc, doc_id asc).  The rows themselves are pinned: one per
    doc_int, ``doc_min = doc_max``, ``n = 1``, null binaries."""
    import random

    from pyspark.sql import functions as F

    from splade_easy_spark.index.catalog import TOMB_TERM_ID
    from splade_easy_spark.index.maintenance import delete
    from splade_easy_spark.query.wand import _tombstone_blocks

    seg_docs = 64
    cfg = IndexConfig(
        build_partitions=4, term_buckets=8, segment_docs=seg_docs, block_size=16
    )
    seed = 31
    rng = random.Random(seed)
    idx = str(tmp_path / "index")
    build_index(spark, generate_transcripts(spark, num_convs=8, seed=seed), idx, cfg)
    s = Searcher(spark, idx, cfg)
    ids = {r["doc_int"]: r["doc_id"] for r in s.docs.select("doc_int", "doc_id").collect()}
    top = max(ids)
    assert top // seg_docs + 1 >= 3, "the corpus must span at least 3 segments"
    dead = {
        d
        for b in range(seg_docs, top + 1, seg_docs)
        for d in range(b - 3, b + 3)
        if d in ids and rng.random() < 0.6
    } | set(rng.sample(sorted(ids), 8))
    delete(spark, idx, [ids[d] for d in sorted(dead)])

    rows = _tombstone_blocks(s._deleted(), seg_docs).collect()
    assert sorted(r["doc_min"] for r in rows) == sorted(dead)
    for r in rows:
        assert (r["seg"], r["term_id"], r["n"], r["doc_max"]) == (
            r["doc_min"] // seg_docs, TOMB_TERM_ID, 1, r["doc_min"]
        )
        assert r["docs"] is None and r["wts"] is None and r["nwts"] is None

    def same(a, b, key):
        assert [key(r) for r in a] == [key(r) for r in b]
        for x, y in zip(a, b):
            assert abs(x["score"] - y["score"]) <= 1e-5 * max(1.0, abs(y["score"]))

    preds = [
        lambda: F.col("turn_idx") % rng.randint(2, 3) == rng.randint(0, 1),
        lambda: F.col("role") == rng.choice(["user", "assistant"]),
        lambda: F.col("doc_len") > rng.randint(4, 12),
    ]
    queries = [
        {"query_id": q["query_id"], "text": q["text"]}
        for q in generate_query_set(6, seed=seed)
    ]
    for use_cosine in (False, True):
        pred = rng.choice(preds)()
        for q in queries[:2]:
            got = {
                m: s.search(
                    q["text"], top_k=5, method=m, use_cosine=use_cosine, doc_filter=pred
                ).collect()
                for m in ("wand", "sql")
            }
            same(got["wand"], got["sql"], lambda r: r["doc_id"])
        got = {
            m: s.search_many(
                queries, top_k=5, method=m, use_cosine=use_cosine, doc_filter=pred
            ).collect()
            for m in ("wand", "sql")
        }
        assert got["sql"], "the filter must leave hits"
        same(got["wand"], got["sql"], lambda r: (r["query_id"], r["rank"], r["doc_id"]))
        assert not {r["doc_id"] for r in got["wand"]} & {ids[d] for d in dead}


def test_repeated_terms_one_rule_sql_wand(corpus, spark):
    """Seeded pre-analyzed query lists with repeated terms at different
    weights: the SQL path, the WAND path and the list deduplicated by hand
    to each term's max weight return the same top-k (SQL exactly equal to
    the deduplicated list, WAND within packed-float32 tolerance).  SQL used
    to sum a repeated term's weights while WAND kept one of them."""
    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    vocab = [r["term"] for r in s._read("term_stats").where("df >= 3").select("term").collect()]
    rng = np.random.default_rng(2024)
    for case in range(6):
        picked = list(rng.choice(sorted(vocab), size=int(rng.integers(2, 6)), replace=False))
        terms = [(str(t), float(rng.uniform(0.2, 2.0))) for t in picked]
        repeats = [terms[i] for i in rng.choice(len(terms), size=2, replace=True)]
        terms += [(t, float(rng.uniform(0.2, 2.0))) for t, _ in repeats]
        rng.shuffle(terms)
        dedup: dict[str, float] = {}
        for t, w in terms:
            dedup[t] = max(dedup.get(t, w), w)

        def top(q, method="sql"):
            return [(r["doc_id"], r["score"]) for r in s.search(q, top_k=8, method=method).collect()]

        sql, want = top(terms), top(sorted(dedup.items()))
        assert sql and sql == want, (case, terms)
        wand = top(terms, "wand")
        assert [d for d, _ in wand] == [d for d, _ in sql], (case, terms)
        for (_, a), (_, b) in zip(sql, wand):
            assert abs(a - b) <= 1e-5 * max(1.0, abs(a))
