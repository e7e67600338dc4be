"""Vector-index parity: the reference's NATIVE input (pre-weighted sparse
vectors) through our engine, asserted against the reference's own golden
fixtures and scalar expectations:

- canonical doc trio (``tests/test_retriever.py:20-43``)
- single-doc vector (``tests/test_index.py:22-30``)
- scalar score table (``tests/test_scoring.py`` — FIXTURES.md §4)
- equal-score tie regression (``tests/test_retriever.py:256-290``)
- duplicate-token dedup-keeps-max (``src/splade_easy/scoring.py:102-114``)
- seeded realistic vectors vs a NumPy dot/cosine oracle
  (``tests/test_scoring.py:151-213``)
"""

import math

import numpy as np
import pytest

from splade_easy_spark.config import IndexConfig
from splade_easy_spark.index.vector_builder import build_vector_index, vector_query_terms
from splade_easy_spark.query import Searcher
from tests.oracle import assert_single_norm_rule

CFG = IndexConfig(build_partitions=2, term_buckets=8, segment_docs=64, block_size=16)
TOL = 1e-5  # the reference's own tolerance, tests/test_scoring.py:20

TRIO = [
    ("ml_doc", "machine learning doc", {"topic": "ml"}, [1, 2, 3], [0.9, 0.7, 0.5]),
    ("dl_doc", "deep learning doc", {"topic": "dl"}, [1, 4, 5], [0.8, 0.6, 0.4]),
    ("python_doc", "python doc", {"topic": "py"}, [10, 11, 12], [0.7, 0.5, 0.3]),
]
SCHEMA = (
    "doc_id STRING, text STRING, metadata MAP<STRING,STRING>, "
    "token_ids ARRAY<INT>, weights ARRAY<FLOAT>"
)


@pytest.fixture(scope="module")
def trio_index(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("vec") / "idx")
    build_vector_index(spark, spark.createDataFrame(TRIO, SCHEMA), idx, CFG)
    return idx


def _search(spark, idx, token_ids, weights, k=10, cosine=False, method="sql"):
    s = Searcher(spark, idx, CFG)
    terms = vector_query_terms(token_ids, weights)
    rows = s.search(terms, top_k=k, use_cosine=cosine, method=method).collect()
    return [(r["doc_id"], r["score"]) for r in rows]


def test_identical_vector_dot(spark, trio_index):
    """dot([1,5,10]/[0.8,0.5,0.3], same) = 0.98 — test_scoring.py:22-30."""
    idx = str(trio_index) + "_single"
    docs = [("doc1", None, None, [1, 5, 10], [0.8, 0.5, 0.3])]
    build_vector_index(spark, spark.createDataFrame(docs, SCHEMA), idx, CFG)
    out = _search(spark, idx, [1, 5, 10], [0.8, 0.5, 0.3])
    assert out[0][0] == "doc1" and abs(out[0][1] - 0.98) < TOL


def test_identical_vector_cosine_is_one(spark, trio_index):
    idx = str(trio_index) + "_single2"
    docs = [("doc1", None, None, [1, 5, 10], [0.8, 0.5, 0.3])]
    build_vector_index(spark, spark.createDataFrame(docs, SCHEMA), idx, CFG)
    out = _search(spark, idx, [1, 5, 10], [0.8, 0.5, 0.3], cosine=True)
    assert abs(out[0][1] - 1.0) < TOL  # test_scoring.py:11-20


def test_partial_overlap_scores(spark, trio_index):
    """dot=0.90, cosine=0.90/(√0.98·√1.33) — test_scoring.py:32-66."""
    idx = str(trio_index) + "_single3"
    docs = [("doc1", None, None, [1, 5, 10], [0.8, 0.5, 0.3])]
    build_vector_index(spark, spark.createDataFrame(docs, SCHEMA), idx, CFG)
    q_ids, q_w = [1, 10, 20], [0.9, 0.6, 0.4]
    dot = _search(spark, idx, q_ids, q_w)
    assert abs(dot[0][1] - 0.90) < TOL
    cos = _search(spark, idx, q_ids, q_w, cosine=True)
    expected = 0.90 / (math.sqrt(0.98) * math.sqrt(0.9**2 + 0.6**2 + 0.4**2))
    assert abs(cos[0][1] - expected) < TOL


def test_no_overlap_returns_nothing(spark, trio_index):
    assert _search(spark, trio_index, [100, 200], [1.0, 1.0]) == []


def test_trio_ranking(spark, trio_index):
    """Query [1]/[1.0]: ml_doc (0.9) > dl_doc (0.8); python_doc absent."""
    out = _search(spark, trio_index, [1], [1.0])
    assert [d for d, _ in out] == ["ml_doc", "dl_doc"]
    assert abs(out[0][1] - 0.9) < TOL and abs(out[1][1] - 0.8) < TOL


def test_metadata_roundtrip(spark, trio_index):
    s = Searcher(spark, trio_index, CFG)
    rows = s.search(vector_query_terms([1], [1.0]), top_k=1).collect()
    assert rows[0]["metadata"]["topic"] == "ml"


def test_single_search_oov_token_wand_matches_sql(spark, trio_index):
    """A single vector query with an out-of-vocabulary token id (999):
    WAND scans its id, which selects no block, and agrees with SQL in dot
    and cosine mode — the OOV weight counts in the cosine ‖q‖ on both."""
    for cosine in (False, True):
        out = {
            m: _search(spark, trio_index, [1, 999, 4], [0.9, 0.5, 0.6], cosine=cosine, method=m)
            for m in ("sql", "wand")
        }
        assert [d for d, _ in out["wand"]] == [d for d, _ in out["sql"]] == ["dl_doc", "ml_doc"]
        for (_, w), (_, q) in zip(out["wand"], out["sql"]):
            assert abs(w - q) < TOL
    assert _search(spark, trio_index, [999], [1.0], method="wand") == []


def test_search_many_wand_matches_sql(spark, trio_index):
    """Batch WAND on a vector index, OOV token id (999) included: dot and
    cosine agree with the SQL batch."""
    s = Searcher(spark, trio_index, CFG)
    queries = [
        {"query_id": "q1", "text": "1 4"},
        {"query_id": "q2", "text": "10 12 999"},
        {"query_id": "q3", "text": "3"},
    ]
    for cosine in (False, True):
        out = {}
        for method in ("sql", "wand"):
            rows = s.search_many(queries, top_k=3, use_cosine=cosine, method=method).collect()
            out[method] = [(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows]
        assert [r[:3] for r in out["wand"]] == [r[:3] for r in out["sql"]] != []
        for w, q in zip(out["wand"], out["sql"]):
            assert abs(w[3] - q[3]) < TOL
    # an all-OOV batch comes back empty with the same columns on both paths
    hits = s.search_many(queries, top_k=3).columns
    for method in ("sql", "wand"):
        none = s.search_many([{"query_id": "q", "text": "999"}], top_k=3, method=method)
        assert none.columns == hits and none.count() == 0


def test_duplicate_tokens_keep_max(spark, tmp_path):
    """Build + query side dedup keeps max weight (scoring.py:102-114)."""
    idx = str(tmp_path / "idx")
    docs = [("d", None, None, [7, 7, 9], [0.2, 0.8, 0.5])]
    build_vector_index(spark, spark.createDataFrame(docs, SCHEMA), idx, CFG)
    out = _search(spark, idx, [7, 9, 9], [1.0, 0.3, 0.1])
    # doc weight for 7 = max(0.2, 0.8) = 0.8; query weight for 9 = max(0.3, 0.1)
    assert abs(out[0][1] - (0.8 * 1.0 + 0.5 * 0.3)) < TOL


def test_equal_score_ties_deterministic(spark, tmp_path):
    """10 identical docs (test_retriever.py:262-271): equal scores, doc_id
    ascending — the pinned tie-break."""
    idx = str(tmp_path / "idx")
    docs = [(f"doc_{i:02d}", None, None, [1, 2, 3], [0.5, 0.5, 0.5]) for i in range(10)]
    build_vector_index(spark, spark.createDataFrame(docs, SCHEMA), idx, CFG)
    out = _search(spark, idx, [1, 2, 3], [1.0, 1.0, 1.0], k=5)
    assert [d for d, _ in out] == [f"doc_{i:02d}" for i in range(5)]
    assert all(abs(s - 1.5) < TOL for _, s in out)


def test_seeded_realistic_vectors_vs_numpy(spark, tmp_path):
    """200 docs with seeded sparse vectors over a 30k vocab; engine top-k
    (both paths) vs NumPy oracle — analog of test_scoring.py:151-213."""
    rng = np.random.default_rng(42)
    docs, truth = [], {}
    for i in range(200):
        n = int(rng.integers(20, 120))
        ids = np.sort(rng.choice(30000, size=n, replace=False)).astype(int)
        w = rng.uniform(0.01, 2.0, size=n).astype(np.float32)
        docs.append((f"doc_{i:04d}", None, None, [int(x) for x in ids], [float(x) for x in w]))
        truth[f"doc_{i:04d}"] = dict(zip(ids.tolist(), w.astype(np.float64).tolist()))
    idx = str(tmp_path / "idx")
    build_vector_index(spark, spark.createDataFrame(docs, SCHEMA), idx, CFG)

    qn = 50
    q_ids = np.sort(rng.choice(30000, size=qn, replace=False)).astype(int)
    q_w = rng.uniform(0.01, 2.0, size=qn).astype(np.float32).astype(np.float64)
    qv = dict(zip(q_ids.tolist(), q_w.tolist()))

    expected = []
    for d, vec in truth.items():
        s = sum(qv[t] * w for t, w in vec.items() if t in qv)
        if s > 0:
            expected.append((d, s))
    expected.sort(key=lambda x: (-x[1], x[0]))

    got_sql = _search(spark, idx, q_ids.tolist(), q_w.tolist(), k=10)
    got_wand = _search(spark, idx, q_ids.tolist(), q_w.tolist(), k=10, method="wand")
    for got in (got_sql, got_wand):
        assert [d for d, _ in got] == [d for d, _ in expected[:10]]
        for (gd, gs), (ed, es) in zip(got, expected[:10]):
            assert abs(gs - es) < TOL * max(1.0, abs(es))


def test_vector_append_matches_oneshot_and_is_idempotent(spark, tmp_path):
    """append_vector_documents == fresh build over the union (vector mode
    has no statistics freeze: weights are caller-supplied), and a
    re-delivered batch appends nothing."""
    from splade_easy_spark.index import append_vector_documents

    rng = np.random.default_rng(77)
    def mk(i):
        n = int(rng.integers(5, 30))
        ids = sorted(int(x) for x in rng.choice(2000, size=n, replace=False))
        w = [float(x) for x in rng.uniform(0.01, 2.0, size=n).astype(np.float32)]
        return (f"doc_{i:03d}", None, None, ids, w)
    first = [mk(i) for i in range(40)]
    rest = [mk(i) for i in range(40, 60)]

    idx_a, idx_b = str(tmp_path / "a"), str(tmp_path / "b")
    build_vector_index(spark, spark.createDataFrame(first + rest, SCHEMA), idx_a, CFG)
    build_vector_index(spark, spark.createDataFrame(first, SCHEMA), idx_b, CFG)
    out = append_vector_documents(spark, idx_b, spark.createDataFrame(rest, SCHEMA), CFG)
    assert out["appended_docs"] == len(rest)
    # redelivery: nothing appended
    out2 = append_vector_documents(spark, idx_b, spark.createDataFrame(rest, SCHEMA), CFG)
    assert out2["appended_docs"] == 0
    # every append entry carries its manifest seq, so lineage freshness
    # orders it against stage commits without wall-clock timestamps
    from splade_easy_spark.index.catalog import IndexCatalog

    appends = IndexCatalog(idx_b, CFG).manifest.data["appends"]
    assert appends and all(isinstance(a.get("seq"), int) for a in appends)
    for idx in (idx_a, idx_b):
        assert_single_norm_rule(spark, idx, CFG.term_id_seed)

    sa, sb = Searcher(spark, idx_a, CFG), Searcher(spark, idx_b, CFG)
    q = vector_query_terms([7, 42, 1999, 1500], [1.0, 0.5, 2.0, 0.25])
    for method in ("sql", "wand"):
        ra = [(r["doc_id"], round(r["score"], 6)) for r in sa.search(q, 20, method=method).collect()]
        rb = [(r["doc_id"], round(r["score"], 6)) for r in sb.search(q, 20, method=method).collect()]
        assert ra == rb, method


def test_vector_append_after_crashed_swap_keeps_segment(spark, tmp_path):
    """A vector append arriving after a maintenance op crashed between its
    two renames (``postings/seg=0`` moved to ``seg=0__old``, the staged
    replacement never moved in) must restore the segment before it writes:
    otherwise it creates a fresh ``seg=0`` holding only the batch, and the
    next heal deletes ``seg=0__old``, the only copy of the segment's
    earlier postings.  WAND = SQL = a never-crashed index afterwards."""
    import shutil
    from pathlib import Path

    from splade_easy_spark.index import append_vector_documents

    rng = np.random.default_rng(31)

    def mk(i):
        n = int(rng.integers(5, 30))
        ids = sorted(int(x) for x in rng.choice(300, size=n, replace=False))
        w = [float(x) for x in rng.uniform(0.01, 2.0, size=n).astype(np.float32)]
        return (f"doc_{i:03d}", None, None, ids, w)

    first = [mk(i) for i in range(40)]
    rest = [mk(i) for i in range(40, 55)]
    q = vector_query_terms(list(range(0, 300, 15)), [1.0 + i / 10 for i in range(20)])

    def results(idx):
        s = Searcher(spark, idx, CFG)
        return {
            m: [(r["doc_id"], round(r["score"], 6)) for r in s.search(q, 60, method=m).collect()]
            for m in ("sql", "wand")
        }

    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    for idx in (clean, crashed):
        build_vector_index(spark, spark.createDataFrame(first, SCHEMA), idx, CFG)
    seg0 = Path(crashed) / "postings" / "seg=0"
    shutil.move(str(seg0), str(seg0.with_name("seg=0__old")))
    for idx in (clean, crashed):
        append_vector_documents(spark, idx, spark.createDataFrame(rest, SCHEMA), CFG)

    want = results(clean)
    hit = {d for d, _ in want["sql"]}
    assert want["sql"] == want["wand"]
    assert hit & {r[0] for r in first} and hit & {r[0] for r in rest}
    assert results(crashed) == want


def test_vector_index_optimize_preserves_scores(spark, tmp_path):
    """optimize_postings on a VECTOR-mode index (appended → fragmented)
    merges runs while keeping SQL and WAND scores byte-identical — the
    frozen-weight contract holds for caller-supplied weights too."""
    from pathlib import Path

    from splade_easy_spark.index import append_vector_documents
    from splade_easy_spark.index.maintenance import optimize_postings

    rng = np.random.default_rng(101)

    def mk(i):
        n = int(rng.integers(5, 30))
        ids = sorted(int(x) for x in rng.choice(500, size=n, replace=False))
        w = [float(x) for x in rng.uniform(0.01, 2.0, size=n).astype(np.float32)]
        return (f"doc_{i:03d}", None, None, ids, w)

    idx = str(tmp_path / "idx")
    build_vector_index(spark, spark.createDataFrame([mk(i) for i in range(30)], SCHEMA), idx, CFG)
    for lo in (30, 50):
        append_vector_documents(
            spark, idx, spark.createDataFrame([mk(i) for i in range(lo, lo + 20)], SCHEMA), CFG
        )

    s = Searcher(spark, idx, CFG)
    q = vector_query_terms([7, 42, 250, 499], [1.0, 0.5, 2.0, 0.25])
    before = {
        m: [(r["doc_id"], r["score"]) for r in s.search(q, 25, method=m).collect()]
        for m in ("sql", "wand")
    }
    out = optimize_postings(spark, idx, CFG)
    assert out["segs_rewritten"] > 0
    s2 = Searcher(spark, idx, CFG)
    after = {
        m: [(r["doc_id"], r["score"]) for r in s2.search(q, 25, method=m).collect()]
        for m in ("sql", "wand")
    }
    assert after == before
    post_dir = Path(idx) / "postings"
    assert max(
        sum(1 for _ in p.glob("*.parquet")) for p in post_dir.glob("seg=*") if p.is_dir()
    ) == 1
