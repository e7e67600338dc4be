"""End-to-end differential test: build index from synthetic transcripts,
search, compare against the NumPy oracle (reference-semantics restatement,
see tests/oracle.py) — the engine's rank-identity gate.

Mirrors the reference's own retriever test strategy
(``tests/test_retriever.py:50-127``: disk/memory parity, no-match empty,
top-k limit, return_text, score ordering) plus the differential oracle the
reference lacks (SURVEY.md §5)."""

import pytest
from pyspark.sql import functions as F

from splade_easy_spark.config import AnalyzerConfig, BM25Params, IndexConfig
from splade_easy_spark.data import generate_transcripts, generate_query_set
from splade_easy_spark.index import build_index
from splade_easy_spark.query import Searcher, analyze_query

from tests.oracle import BM25Oracle, assert_topk_matches

CFG = IndexConfig(build_partitions=8, term_buckets=16, segment_docs=256, block_size=64)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """Small corpus: ~30 convs ≈ 1k turns, built once per module."""
    idx_dir = str(tmp_path_factory.mktemp("e2e") / "index")
    tx = generate_transcripts(spark, num_convs=30, seed=42)
    result = build_index(spark, tx, idx_dir, CFG)
    docs = {
        r["doc_id"]: r["text"]
        for r in tx.select(
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"),
            "text",
        ).collect()
    }
    oracle = BM25Oracle(docs)
    return idx_dir, oracle, result


def _engine_topk(searcher, qtext, k, use_cosine=False):
    rows = searcher.search(qtext, top_k=k, use_cosine=use_cosine).collect()
    return [(r["doc_id"], r["score"]) for r in rows]


def test_build_stats(corpus, spark):
    idx_dir, oracle, result = corpus
    assert result.n_docs == oracle.n_docs
    assert abs(result.avgdl - oracle.avgdl) < 1e-6
    assert result.n_terms == len(oracle.df)


def test_search_matches_oracle_dot(corpus, spark):
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    for q in generate_query_set()[:25]:
        engine = _engine_topk(s, q["text"], 10)
        expected = oracle.search(q["text"], top_k=10, use_cosine=False)
        assert_topk_matches(engine, expected, 10)


def test_search_matches_oracle_cosine(corpus, spark):
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    for q in generate_query_set()[25:40]:
        engine = _engine_topk(s, q["text"], 10, use_cosine=True)
        expected = oracle.search(q["text"], top_k=10, use_cosine=True)
        assert_topk_matches(engine, expected, 10)


def test_no_match_returns_empty(corpus, spark):
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    assert s.search("zzzzneverseen qqqxw", top_k=5).count() == 0
    assert s.search("", top_k=5).count() == 0  # cf. test_retriever.py:76-86


def test_top_k_limit(corpus, spark):
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    assert s.search("baba0", top_k=3).count() <= 3  # cf. test_retriever.py:88-98


def test_return_text(corpus, spark):
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    rows = s.search("baba0 ceba1", top_k=5, return_text=True).collect()
    assert rows, "expected hits"
    assert all("text" in r.asDict() and r["text"] is not None for r in rows)


def test_scores_descending_and_tiebreak(corpus, spark):
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    rows = s.search("baba0 ceba1", top_k=20).collect()
    for a, b in zip(rows, rows[1:]):
        assert a["score"] > b["score"] or (
            a["score"] == b["score"] and a["doc_id"] < b["doc_id"]
        )


def test_duplicate_and_case_query_robustness(corpus, spark):
    """cf. test_retriever.py:210-230 — duplicated/unsorted query tokens."""
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    a = _engine_topk(s, "baba0 ceba1", 10)
    b = _engine_topk(s, "ceba1 baba0 CEBA1 baba0", 10)
    assert a == b


def test_search_many_consistent_with_single(corpus, spark):
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    queries = [{"query_id": f"q{i}", "text": t} for i, t in enumerate(["baba0", "ceba1 diba2", "zzznope"])]
    batch = s.search_many(queries, top_k=5)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for q in queries:
        single = _engine_topk(s, q["text"], 5)
        assert got.get(q["query_id"], []) == single


def test_point_get(corpus, spark):
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    some_doc = next(iter(oracle.tf))
    row = s.get(some_doc)
    assert row is not None and row["doc_id"] == some_doc
    assert s.get("conv_99999999#0") is None
    batch = s.get_batch([some_doc, "conv_99999999#0"])
    assert batch.count() == 1


def test_doc_vector_matches_oracle(corpus, spark):
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    doc = next(d for d in oracle.tf if oracle.dl[d] > 0)
    vec = dict(s.doc_vector(doc))
    expected = oracle.doc_vector(doc)
    assert set(vec) == set(expected)
    for t, w in expected.items():
        assert abs(vec[t] - w) < 1e-9 * max(1.0, abs(w))


def test_per_turn_text_equality(corpus, spark):
    """Driver invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering between input and the docs table."""
    idx_dir, _, _ = corpus
    tx = generate_transcripts(spark, num_convs=30, seed=42)
    docs = spark.read.parquet(f"{idx_dir}/docs")
    joined = tx.join(docs, ["conv_id", "turn_idx"], "full_outer").where(
        (tx["text"] != docs["text"]) | tx["text"].isNull() | docs["text"].isNull()
    )
    assert joined.count() == 0


def test_analyzer_mismatch_rejected(corpus, spark):
    idx_dir, _, _ = corpus
    bad = IndexConfig(analyzer=AnalyzerConfig(token_pattern="[a-z]+"))
    with pytest.raises(ValueError, match="analyzer mismatch"):
        Searcher(spark, idx_dir, bad)


def test_pack_cosine_off_build(spark, tmp_path):
    """pack_cosine=False skips the normalized-weight stream: BM25 WAND
    stays exact, cosine transparently answers through the SQL path (same
    results as a pack_cosine=True index), and doc_terms carries no tf."""
    cfg_off = IndexConfig(
        build_partitions=8, term_buckets=16, segment_docs=256, block_size=64,
        pack_cosine=False,
    )
    idx_off = str(tmp_path / "idx_off")
    idx_on = str(tmp_path / "idx_on")
    tx = generate_transcripts(spark, num_convs=12, seed=9)
    build_index(spark, tx, idx_off, cfg_off)
    build_index(spark, tx, idx_on, CFG)

    s_off = Searcher(spark, idx_off, cfg_off)
    s_on = Searcher(spark, idx_on, CFG)
    assert "tf" not in s_off.doc_terms.columns
    # the nwts columns exist (stable schema) but hold no stream
    post = s_off.cat.read(spark, "postings")
    assert post.where(F.length("nwts") > 0).limit(1).count() == 0

    for q in generate_query_set(6, seed=13):
        bm_sql = [(r["doc_id"], r["score"]) for r in s_off.search(q["text"], 5).collect()]
        bm_wand = [
            (r["doc_id"], r["score"])
            for r in s_off.search(q["text"], 5, method="wand").collect()
        ]
        assert [d for d, _ in bm_sql] == [d for d, _ in bm_wand]
        # cosine on the stripped index (falls back to SQL) == cosine on the
        # full index, either method
        cos_off = [
            (r["doc_id"], round(r["score"], 6))
            for r in s_off.search(q["text"], 5, use_cosine=True, method="wand").collect()
        ]
        cos_on = [
            (r["doc_id"], round(r["score"], 6))
            for r in s_on.search(q["text"], 5, use_cosine=True, method="wand").collect()
        ]
        assert [d for d, _ in cos_off] == [d for d, _ in cos_on]
        for (_, a), (_, b) in zip(cos_off, cos_on):
            assert abs(a - b) <= 1e-5 * max(1.0, abs(b))


def test_corpus_stats_written_from_local_relation(spark, tmp_path, monkeypatch):
    """The one-row ``corpus_stats`` table reaches its write as a
    LocalRelation on both builds (text and vector): a parallelized Python
    list is a LogicalRDD, whose write starts Python workers."""
    from splade_easy_spark.index.catalog import IndexCatalog
    from splade_easy_spark.index.vector_builder import build_vector_index

    plans = []
    write = IndexCatalog.write

    def spy(self, df, name, *args, **kwargs):
        if name == "corpus_stats":
            plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return write(self, df, name, *args, **kwargs)

    monkeypatch.setattr(IndexCatalog, "write", spy)
    build_index(spark, generate_transcripts(spark, num_convs=2, seed=3), str(tmp_path / "t"), CFG)
    vec = spark.createDataFrame(
        [("d", "x", None, [1, 2], [0.5, 0.25])],
        "doc_id STRING, text STRING, metadata MAP<STRING,STRING>, "
        "token_ids ARRAY<INT>, weights ARRAY<FLOAT>",
    )
    build_vector_index(spark, vec, str(tmp_path / "v"), CFG)
    assert len(plans) == 2
    for plan in plans:
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_index_artifact_identical_across_parallelism(spark, tmp_path):
    """North-rule invariant: the index ARTIFACT is a pure function of the
    corpus — independent of build parallelism (doc_int = global rank via
    the two-pass assigner; weights from corpus stats; packing from sorted
    groups).  Build the same corpus at different build_partitions and
    compare logical table content: ids, stats, and packed posting BYTES
    must be identical (nwts compared at float32 resolution: the norm agg's
    summation order is partitioning-dependent)."""
    import numpy as np

    tx = generate_transcripts(spark, num_convs=10, seed=53)
    cfgs = {
        "a": IndexConfig(build_partitions=3, term_buckets=16, segment_docs=256, block_size=64),
        "b": IndexConfig(build_partitions=8, term_buckets=16, segment_docs=256, block_size=64),
    }
    rows = {}
    for name, cfg in cfgs.items():
        idx = str(tmp_path / name)
        build_index(spark, tx, idx, cfg)
        docs = sorted(
            (r["doc_id"], r["doc_int"], r["doc_len"])
            for r in spark.read.parquet(f"{idx}/docs").select("doc_id", "doc_int", "doc_len").collect()
        )
        ts = spark.read.parquet(f"{idx}/term_stats")
        assert sorted(ts.columns) == ["df", "idf", "tb", "term", "term_id"], ts.columns
        tstats = sorted(
            (r["term"], r["df"], round(r["idf"], 10), r["term_id"]) for r in ts.collect()
        )
        post = sorted(
            (
                (r["seg"], r["term_id"], r["block_id"]),
                (r["n"], r["doc_min"], r["doc_max"], bytes(r["docs"]), bytes(r["wts"])),
                bytes(r["nwts"]),
            )
            for r in spark.read.parquet(f"{idx}/postings").collect()
        )
        rows[name] = (docs, tstats, post)

    assert rows["a"][0] == rows["b"][0]  # docs: ids, ranks, lengths
    assert rows["a"][1] == rows["b"][1]  # term stats
    pa_, pb_ = rows["a"][2], rows["b"][2]
    assert [p[0] for p in pa_] == [p[0] for p in pb_]  # same block set
    assert [p[1] for p in pa_] == [p[1] for p in pb_]  # exact packed bytes
    for (_, _, na), (_, _, nb) in zip(pa_, pb_):
        xa = np.frombuffer(na, dtype=np.float32)
        xb = np.frombuffer(nb, dtype=np.float32)
        assert len(xa) == len(xb)
        assert np.allclose(xa, xb, rtol=1e-6, atol=1e-7)


def test_filtered_search_matches_postfilter(corpus, spark):
    """doc_filter = Lucene filter semantics: result equals the unfiltered
    full ranking post-filtered to eligible docs, with UNCHANGED scores
    (full-corpus idf — the filter narrows candidates, never statistics)."""
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    pred = F.col("role") == "user"
    allowed = {r["doc_id"] for r in s.docs.where(pred).select("doc_id").collect()}
    assert allowed, "fixture must have user turns"
    for q in generate_query_set()[:6]:
        full = [
            (r["doc_id"], r["score"])
            for r in s.search(q["text"], top_k=10**6).collect()
        ]
        expected = [(d, sc) for d, sc in full if d in allowed][:10]
        got = [
            (r["doc_id"], r["score"])
            for r in s.search(q["text"], top_k=10, doc_filter=pred).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in expected]
        for (_, gs), (_, es) in zip(got, expected):
            assert abs(gs - es) < 1e-9


def test_filtered_search_wand_in_kernel(corpus, spark):
    """WAND with a filter runs the kernel with a packed inclusion mask —
    results identical to the SQL path's semi-join (float32 packed weights
    vs double doc_terms: compare at 1e-5 like the other wand tests)."""
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    for pred in [F.col("turn_idx") % 2 == 0, F.col("role") == "user"]:
        for q in [x["text"] for x in generate_query_set()[5:9]]:
            via_wand = s.search(q, top_k=5, method="wand", doc_filter=pred).collect()
            via_sql = s.search(q, top_k=5, method="sql", doc_filter=pred).collect()
            assert [r["doc_id"] for r in via_wand] == [r["doc_id"] for r in via_sql]
            for a, b in zip(via_wand, via_sql):
                assert abs(a["score"] - b["score"]) < 1e-5
    # a filter matching nothing returns nothing (whole segments skipped)
    assert (
        s.search("baba0", top_k=5, method="wand", doc_filter=F.col("turn_idx") < 0).count()
        == 0
    )


def test_filtered_search_many_wand_in_kernel(corpus, spark):
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    pred = F.col("role") != "tool"
    queries = [
        {"query_id": f"q{i}", "text": q["text"]}
        for i, q in enumerate(generate_query_set()[14:18])
    ]
    w = s.search_many(queries, top_k=5, method="wand", doc_filter=pred).collect()
    g = s.search_many(queries, top_k=5, method="sql", doc_filter=pred).collect()
    kw = [(r["query_id"], r["rank"], r["doc_id"]) for r in w]
    kg = [(r["query_id"], r["rank"], r["doc_id"]) for r in g]
    assert kw == kg and kw
    for a, b in zip(w, g):
        assert abs(a["score"] - b["score"]) < 1e-5


def test_filtered_search_many(corpus, spark):
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    pred = F.col("role") == "assistant"
    queries = [{"query_id": f"q{i}", "text": q["text"]} for i, q in enumerate(generate_query_set()[10:14])]
    batch = s.search_many(queries, top_k=5, doc_filter=pred).collect()
    assert batch, "filtered batch returned nothing"
    by_qid = {}
    for r in batch:
        by_qid.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for i, q in enumerate(queries):
        single = [
            (r["doc_id"], r["score"])
            for r in s.search(q["text"], top_k=5, doc_filter=pred).collect()
        ]
        got = [(d, sc) for _, d, sc in sorted(by_qid.get(q["query_id"], []))]
        assert got == single


def test_facet_counts_matches_oracle(corpus, spark):
    """Faceting = matching-doc counts per stored column value, full match
    set (not top-k), tombstone-aware by construction."""
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    roles = {r["doc_id"]: r["role"] for r in s.docs.select("doc_id", "role").collect()}
    for q in generate_query_set()[:4]:
        qv = oracle.query_terms(q["text"])
        expected = {}
        for d in oracle.tf:
            if oracle.score(qv, d) > 0:
                expected[roles[d]] = expected.get(roles[d], 0) + 1
        got = {r["facet"]: r["n_docs"] for r in s.facet_counts(q["text"], "role").collect()}
        assert got == expected
        # output ordering: desc count, asc facet
        rows = s.facet_counts(q["text"], "role").collect()
        assert [(r["facet"], r["n_docs"]) for r in rows] == sorted(
            got.items(), key=lambda kv: (-kv[1], kv[0])
        )


def test_more_like_this_matches_oracle(corpus, spark):
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    sources = sorted(oracle.tf)[::201][:3]  # a few spread-out docs
    for src in sources:
        vec = oracle.doc_vector(src)
        top_terms = sorted(vec.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))[:10]
        qv = dict(top_terms)
        scored = []
        for d in oracle.tf:
            if d == src:
                continue
            sc = oracle.score(qv, d)
            if sc > 0:
                scored.append((d, sc))
        scored.sort(key=lambda kv: (-kv[1], kv[0]))
        got = [
            (r["doc_id"], r["score"])
            for r in s.more_like_this(src, query_terms=10, top_k=10).collect()
        ]
        assert_topk_matches(got, scored[:30], 10)


def test_more_like_this_unknown_doc_raises(corpus, spark):
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    with pytest.raises(KeyError):
        s.more_like_this("no#such", top_k=3)


def test_phrase_search_index_matches_bruteforce(corpus, spark):
    """Index-backed phrase search = brute force: docs whose token stream
    contains the contiguous sequence, ranked by BM25 sum over the phrase's
    distinct terms."""
    from tests.oracle import tokenize as tok_py

    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    # derive a phrase that certainly occurs: first two tokens of a mid doc
    texts = {d: " ".join(tok_py(oracle_text)) for d, oracle_text in _fixture_texts(oracle).items()}
    src = sorted(texts)[100]
    phrase_toks = tok_py(texts[src])[:2]
    phrase = " ".join(phrase_toks)
    needle = " " + phrase + " "
    expected = []
    for d, toks_joined in texts.items():
        if needle in " " + toks_joined + " ":
            score = sum(oracle.doc_weight(t, d) for t in sorted(set(phrase_toks)))
            expected.append((d, score))
    expected.sort(key=lambda kv: (-kv[1], kv[0]))
    got = [(r["doc_id"], r["score"]) for r in s.phrase_search(phrase, top_k=10).collect()]
    assert_topk_matches(got, expected[:30], 10)
    assert got, "chosen phrase must match at least its source doc"


def _fixture_texts(oracle):
    # BM25Oracle stores tf Counters; reconstruct token streams is lossy —
    # keep original texts alongside instead
    return _FIXTURE_TEXTS


_FIXTURE_TEXTS = {}


@pytest.fixture(autouse=True, scope="module")
def _capture_texts(corpus, spark):
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    _FIXTURE_TEXTS.clear()
    _FIXTURE_TEXTS.update(
        {r["doc_id"]: r["text"] for r in s.docs.select("doc_id", "text").collect()}
    )


def test_search_snippets_index(corpus, spark):
    """Index-backed KWIC: pos = earliest query-term char position (1-based)
    in lower(text); snippet = the window; ranking identical to search."""
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    q = generate_query_set()[3]["text"]
    qterms = [t for t, _ in __import__("splade_easy_spark.query.searcher", fromlist=["analyze_query"]).analyze_query(q)]
    base = [(r["doc_id"], r["score"]) for r in s.search(q, top_k=5).collect()]
    rows = s.search_snippets(q, top_k=5, before=4, width=20).collect()
    assert [(r["doc_id"], r["score"]) for r in rows] == base
    for r in rows:
        text = _FIXTURE_TEXTS[r["doc_id"]]
        hay = text.lower()
        positions = [hay.find(t) + 1 for t in qterms if hay.find(t) >= 0]
        assert positions, "a hit must contain a query term"
        assert r["pos"] == min(positions)
        start = max(r["pos"] - 4, 1)
        assert r["snippet"] == text[start - 1 : start - 1 + 20]


def test_suggest_terms_matches_oracle(corpus, spark):
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    for prefix in ["ba", "c", "zz"]:
        got = [(r["term"], r["df"]) for r in s.suggest_terms(prefix, 8).collect()]
        expected = sorted(
            ((t, d) for t, d in oracle.df.items() if t.startswith(prefix)),
            key=lambda kv: (-kv[1], kv[0]),
        )[:8]
        assert got == expected


def test_prefix_search_matches_oracle(corpus, spark):
    """PrefixQuery = OR over the df-ranked expansion with unit weights."""
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    prefix, cap = "ba", 5
    exp = sorted(
        ((t, d) for t, d in oracle.df.items() if t.startswith(prefix)),
        key=lambda kv: (-kv[1], kv[0]),
    )[:cap]
    qv = {t: 1.0 for t, _ in exp}
    scored = [(d, oracle.score(qv, d)) for d in oracle.tf]
    scored = sorted(
        ((d, sc) for d, sc in scored if sc > 0), key=lambda kv: (-kv[1], kv[0])
    )
    for method in ["sql", "wand"]:
        got = [
            (r["doc_id"], r["score"])
            for r in s.prefix_search(prefix, top_k=10, max_expansions=cap, method=method).collect()
        ]
        assert_topk_matches(got, scored[:30], 10, tol=1e-5)


def test_boolean_search_matches_bruteforce(corpus, spark):
    """BooleanQuery: must-conjunction, should-scoring, must_not exclusion,
    verified against a brute-force replay on the oracle weights."""
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    must, should, must_not = ["baba0", "ceba1"], ["diba2"], ["foba3"]
    scored_terms = ["baba0", "ceba1", "diba2"]
    expected = []
    for d, tf in oracle.tf.items():
        if not all(t in tf for t in must):
            continue
        if any(t in tf for t in must_not):
            continue
        sc = sum(oracle.doc_weight(t, d) for t in scored_terms if t in tf)
        if sc > 0:
            expected.append((d, sc))
    expected.sort(key=lambda kv: (-kv[1], kv[0]))
    got = [
        (r["doc_id"], r["score"])
        for r in s.boolean_search(must=must, should=should, must_not=must_not, top_k=10).collect()
    ]
    assert_topk_matches(got, expected[:30], 10, tol=1e-6)
    assert got, "boolean query should match in this corpus"
    # must_not actually bites: without it at least as many hits
    loose = s.boolean_search(must=must, should=should, top_k=1000).count()
    strict = s.boolean_search(must=must, should=should, must_not=must_not, top_k=1000).count()
    assert strict < loose


def test_fuzzy_search_matches_bruteforce(corpus, spark):
    """FuzzyQuery: edit-distance expansion with closeness boost, verified
    against a brute-force replay on the oracle weights."""
    import difflib

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    q, d, cap = "baba", 1, 50
    exp = [
        (t, lev(t, q), df)
        for t, df in oracle.df.items()
        if abs(len(t) - len(q)) <= d and lev(t, q) <= d
    ]
    exp.sort(key=lambda x: (x[1], -x[2], x[0]))
    exp = exp[:cap]
    qv = {t: 1.0 - dist / max(len(t), len(q)) for t, dist, _ in exp}
    scored = [(doc, oracle.score(qv, doc)) for doc in oracle.tf]
    scored = sorted(
        ((doc, sc) for doc, sc in scored if sc > 0), key=lambda kv: (-kv[1], kv[0])
    )
    assert exp, "expansion must be non-empty (baba0 is in the vocab)"
    for method in ["sql", "wand"]:
        got = [
            (r["doc_id"], r["score"])
            for r in s.fuzzy_search(q, max_dist=d, top_k=10, method=method).collect()
        ]
        assert_topk_matches(got, scored[:30], 10, tol=1e-5)


def test_case_preserving_analyzer_fuzzy_and_snippets(spark, tmp_path):
    """lowercase=False index: fuzzy distances computed against the
    case-preserving dictionary (exact term = dist 0, boost 1.0) and
    snippet positions found in the RAW text — the sentinel never leaks."""
    cfg = IndexConfig(
        build_partitions=8, term_buckets=16, segment_docs=256, block_size=64,
        analyzer=AnalyzerConfig(token_pattern="[A-Za-z0-9]+", lowercase=False),
    )
    idx = str(tmp_path / "idx_case")
    tx = generate_transcripts(spark, num_convs=8, seed=5)
    build_index(spark, tx, idx, cfg)
    s = Searcher(spark, idx, cfg)
    up = [
        r["term"]
        for r in s.cat.read(spark, "term_stats")
        .where(F.col("term").rlike("^[A-Z]"))
        .limit(1)
        .collect()
    ]
    assert up, "mixed-case corpus must yield uppercase terms"
    term = up[0]
    hits = s.fuzzy_search(term, max_dist=0, top_k=5).collect()
    assert hits, "exact case-preserved term must match at distance 0"
    # snippets: pos is a real position in the raw text, never the sentinel
    rows = s.search_snippets(term, top_k=3).collect()
    assert rows
    for r in rows:
        assert r["pos"] is not None and 1 <= r["pos"] < (1 << 30)
        assert r["snippet"]


def test_near_search_matches_bruteforce(corpus, spark):
    """SpanNear: term pair within slop positions, unordered AND ordered,
    verified against a brute-force position scan of the raw texts."""
    from tests.oracle import tokenize as tok_py

    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    ta, tb, slop = "baba0", "ceba1", 4

    def brute(ordered):
        out = []
        for d, text in _FIXTURE_TEXTS.items():
            toks = tok_py(text)
            pa = [i for i, t in enumerate(toks) if t == ta]
            pb = [i for i, t in enumerate(toks) if t == tb]
            if ordered:
                ok = any(1 <= q - p <= slop for p in pa for q in pb)
            else:
                ok = any(1 <= abs(q - p) <= slop for p in pa for q in pb)
            if ok:
                sc = oracle.doc_weight(ta, d) + oracle.doc_weight(tb, d)
                if sc > 0:
                    out.append((d, sc))
        out.sort(key=lambda kv: (-kv[1], kv[0]))
        return out

    for ordered in (False, True):
        expected = brute(ordered)
        got = [
            (r["doc_id"], r["score"])
            for r in s.near_search(ta, tb, slop=slop, top_k=10, ordered=ordered).collect()
        ]
        assert_topk_matches(got, expected[:30], 10, tol=1e-6)
        assert got, f"near pair must match (ordered={ordered})"
    # ordered hits are a subset of unordered at the same slop
    uo = {r["doc_id"] for r in s.near_search(ta, tb, slop=slop, top_k=10**6).collect()}
    od = {r["doc_id"] for r in s.near_search(ta, tb, slop=slop, top_k=10**6, ordered=True).collect()}
    assert od <= uo


def test_regex_search_matches_bruteforce(corpus, spark):
    """RegexpQuery: anchored full-term expansion, OR-scored — vs replay."""
    import re as _re

    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    pattern = "ba.a0|ceba."
    rx = _re.compile(f"^(?:{pattern})$")
    exp = sorted(
        ((t, d) for t, d in oracle.df.items() if rx.match(t)),
        key=lambda kv: (-kv[1], kv[0]),
    )[:64]
    assert exp, "pattern must match dictionary terms"
    qv = {t: 1.0 for t, _ in exp}
    scored = sorted(
        ((d, sc) for d in oracle.tf if (sc := oracle.score(qv, d)) > 0),
        key=lambda kv: (-kv[1], kv[0]),
    )
    got = [
        (r["doc_id"], r["score"])
        for r in s.regex_search(pattern, top_k=10).collect()
    ]
    assert_topk_matches(got, scored[:30], 10, tol=1e-6)
    # no-match pattern returns empty, not an error
    assert s.regex_search("zz[0-9]{9}", top_k=5).count() == 0


def test_query_tables_are_local_relations(corpus, spark):
    """Driver-built query tables reach the plan as a LocalRelation, never a
    LogicalRDD: a parallelized Python list costs a Spark job with Python
    workers each time it is broadcast."""
    from splade_easy_spark import adhoc

    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    qs = generate_query_set()[:3]
    many = [{"query_id": f"q{i}", "text": q["text"]} for i, q in enumerate(qs)]
    text = qs[0]["text"]
    frames = {
        "search": s.search(text, top_k=5),
        "search cosine": s.search(text, top_k=5, use_cosine=True),
        "search empty": s.search("", top_k=5),
        "search_many sql": s.search_many(many, top_k=5, method="sql"),
        "search_many sql cosine": s.search_many(many, top_k=5, method="sql", use_cosine=True),
        "query": s.query(text, top_k=5),
        "facet_counts": s.facet_counts(text, "role"),
        "adhoc.bm25_topk_multi": adhoc.bm25_topk_multi(
            spark, s.docs.select("doc_id", "text"), many, top_k=5
        ),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan, f"{name}:\n{plan}"
    # the SQL batch path's per-query cut is Spark's own WindowGroupLimit,
    # not a Python hop over every scored row
    plan = frames["search_many sql"]._jdf.queryExecution().optimizedPlan().toString()
    assert "WindowGroupLimit" in plan and "MapInPandas" not in plan, plan


#: Spark jobs one warm call may start on an index without tombstones.
#: search(sql): scoring map stage, top-k, docs join (a unit-weight query
#: has no query table to broadcast); search(wand): postings exchange,
#: kernel top-k, docs join; suggest_terms: one TakeOrderedAndProject over
#: the term_stats scan; search_many: the scoring jobs and the query-table
#: broadcast, then the per-query window, the docs join and a one-task
#: final sort (no range-sampling job); a filter's allowed ids join the
#: WAND postings exchange as JVM-projected mask rows; WAND cosine divides
#: by each query's norm in one CASE expression, with no query-norm table
#: to broadcast (6 jobs when it was one); bm25_topk_multi runs its tf
#: kernel once (df is a window over it).  Of the full-text verbs,
#: prefix/regex add their expansion job to a search; facet_counts adds
#: its facet aggregate; near_search checks slop per candidate row with no
#: exchange; more_like_this adds its three-job term vector to a weighted
#: search (query table included); search_snippets is one search, with the
#: snippet columns in its final projection.
JOB_BUDGET = {
    "search_sql": 3, "search_wand": 3, "suggest_terms": 1,
    "search_many_sql": 6, "search_many_wand": 5, "search_many_wand_cosine": 5,
    "search_many_wand_filtered": 5, "bm25_topk_multi": 8,
    "phrase_search": 5, "boolean_search": 4, "query": 5, "fuzzy_search": 5,
    "prefix_search": 4, "regex_search": 4, "near_search": 5, "facet_counts": 4,
    "more_like_this": 7, "search_snippets": 3, "get": 1,
}


def _verb_args(s):
    """A doc of the module corpus, a phrase from its text, and a query."""
    import re

    row = s.docs.where(F.col("doc_int") == 100).select("doc_id", "text").collect()[0]
    toks = re.findall(CFG.analyzer.token_pattern, row["text"].lower())
    return row["doc_id"], " ".join(toks[:2]), generate_query_set()[0]["text"]


def test_warm_call_job_budget(corpus, spark, spark_jobs):
    """Per-call job counts on a warm searcher: no schema-inference job on
    the per-call reads, no job for the query table, and the docs join
    ends in a TakeOrderedAndProject rather than a sampled sort."""
    from splade_easy_spark import adhoc

    idx_dir, _, _ = corpus
    # a frame over this index that anything earlier in the session
    # persisted would serve these plans from Spark's cache and change their
    # job counts; measure the plans as a fresh session runs them
    spark.catalog.clearCache()
    s = Searcher(spark, idx_dir, CFG)
    qs = generate_query_set()[:4]
    text = qs[0]["text"]
    many = [{"query_id": f"q{i}", "text": q["text"]} for i, q in enumerate(qs)]
    calls = {
        "search_sql": lambda: s.search(text, top_k=10).collect(),
        "search_wand": lambda: s.search(text, top_k=10, method="wand").collect(),
        "suggest_terms": lambda: s.suggest_terms(text[:2], 5).collect(),
        "search_many_sql": lambda: s.search_many(many, top_k=10, method="sql").collect(),
        "search_many_wand": lambda: s.search_many(many, top_k=10, method="wand").collect(),
        "search_many_wand_cosine": lambda: s.search_many(
            many, top_k=10, method="wand", use_cosine=True
        ).collect(),
        "search_many_wand_filtered": lambda: s.search_many(
            many, top_k=10, method="wand", doc_filter=F.col("role") == "user"
        ).collect(),
        "bm25_topk_multi": lambda: adhoc.bm25_topk_multi(
            spark, s.docs.select("doc_id", "text"), many, top_k=10
        ).collect(),
    }
    doc_id, phrase, _ = _verb_args(s)
    verb_calls = {
        "phrase_search": lambda: s.phrase_search(phrase, top_k=10),
        "boolean_search": lambda: s.boolean_search(["baba0"], ["ceba1"], ["foba3"], top_k=10),
        "query": lambda: s.query("+baba0 ceba1 -foba3", top_k=10),
        "fuzzy_search": lambda: s.fuzzy_search("bab0", max_dist=1, top_k=10),
        "prefix_search": lambda: s.prefix_search("ba", top_k=10),
        "regex_search": lambda: s.regex_search("ba.a0", top_k=10),
        "near_search": lambda: s.near_search("baba0", "ceba1", slop=3, top_k=10),
        "facet_counts": lambda: s.facet_counts(text, "role"),
        "more_like_this": lambda: s.more_like_this(doc_id, top_k=10),
        "search_snippets": lambda: s.search_snippets(text, top_k=10),
    }
    calls.update({k: (lambda f=f: f().collect()) for k, f in verb_calls.items()})
    calls["get"] = lambda: [s.get(doc_id)]
    for name, call in calls.items():
        call()  # warm: Python workers up, code paths loaded
        n, rows = spark_jobs(call)
        assert rows, name
        assert n <= JOB_BUDGET[name], f"{name} started {n} jobs"


def _many(texts):
    return [{"query_id": f"q{i:03d}", "text": t} for i, t in enumerate(texts)]


def test_plan_build_round_trips_flat(corpus, spark, py4j_calls):
    """Building a batch plan sends as many py4j commands for ~100 queries
    as for 4: every query-derived IN-list is one expression string
    (``functions.in_list``), not one JVM literal per value."""
    from splade_easy_spark import adhoc

    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    vocab = [r["term"] for r in s._read("term_stats").select("term").orderBy("term").collect()]
    assert len(vocab) >= 300, len(vocab)
    texts = [" ".join(vocab[3 * i : 3 * i + 3]) for i in range(100)]
    docs = s.docs.select("doc_id", "text")
    pred = F.col("role") == "user"
    builds = {
        "search_many wand": lambda qs: s.search_many(qs, top_k=5, method="wand"),
        "search_many wand filtered": lambda qs: s.search_many(
            qs, top_k=5, method="wand", doc_filter=pred
        ),
        "search_many sql": lambda qs: s.search_many(qs, top_k=5, method="sql"),
        "adhoc.bm25_topk_multi": lambda qs: adhoc.bm25_topk_multi(spark, docs, qs, top_k=5),
    }
    for name, build in builds.items():
        build(_many(texts[:4]))  # warm: modules imported
        small, _ = py4j_calls(lambda: build(_many(texts[:4])))
        large, df = py4j_calls(lambda: build(_many(texts)))
        assert large - small <= 10, f"{name}: {small} -> {large} py4j commands"
        # the IN-list still reaches the scan
        plan = df._jdf.queryExecution().executedPlan().toString()
        if name.startswith("search_many wand"):
            assert "In(term_id," in plan or "InSet(term_id," in plan, plan


#: py4j commands that building one single-query plan may send (warm
#: searcher, nothing collected): each verb renders its expressions as SQL
#: text (``F.expr``, ``selectExpr``, ``where(str)``), not one JVM call per
#: function and column reference.  Measured: search 73, boolean 88,
#: phrase 111, near 111, snippets 75 (225, 324, 421, 629 and 466 when
#: built from Column objects).
PLAN_PY4J_BUDGET = {
    "search": 110, "boolean_search": 130, "phrase_search": 160,
    "near_search": 160, "search_snippets": 110,
}


def test_single_call_plan_build_round_trips(corpus, spark, py4j_calls):
    """Building one interactive call's plan stays within a few dozen
    py4j commands (``PLAN_PY4J_BUDGET``)."""
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    _, phrase, text = _verb_args(s)
    builds = {
        "search": lambda: s.search(text, top_k=10),
        "boolean_search": lambda: s.boolean_search(["baba0"], ["ceba1"], ["foba3"], top_k=10),
        "phrase_search": lambda: s.phrase_search(phrase, top_k=10),
        "near_search": lambda: s.near_search("baba0", "ceba1", slop=3, top_k=10),
        "search_snippets": lambda: s.search_snippets(text, top_k=10),
    }
    for name, build in builds.items():
        build()  # warm: modules imported, schemas pinned
        n, _ = py4j_calls(build)
        assert n <= PLAN_PY4J_BUDGET[name], f"{name}: {n} py4j commands"


def test_weighted_query_keeps_broadcast_query_table(corpus, spark):
    """A unit-weight query scores straight off the term-pruned weights
    (no query table); a list with many distinct weights joins the
    broadcast query table rather than a CASE over its weights, which
    grows with the distinct weights.  Both score the list's own terms."""
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    vocab = [r["term"] for r in s._read("term_stats").select("term").orderBy("term").collect()]
    weighted = [(t, 1.0 + i / 997) for i, t in enumerate(vocab[:300])]
    unit = [(t, 1.0) for t, _ in weighted]

    def plan(q):
        df = s.search(q, top_k=5)
        return df, df._jdf.queryExecution().optimizedPlan().toString()

    df, p = plan(weighted)
    assert "LocalRelation" in p and "qweight" in p and "CASE WHEN" not in p, p
    assert df.count() == 5
    df, p = plan(unit)
    assert "LocalRelation" not in p and "qweight" not in p, p
    assert df.count() == 5


def test_delete_round_trips_flat(corpus, spark, py4j_calls, tmp_path):
    """``delete`` matches its doc_ids with one ``functions.in_list``
    expression: deleting 100 ids sends about as many py4j commands as
    deleting 4 (``isin`` sent one JVM literal per id)."""
    import shutil

    from splade_easy_spark.index.maintenance import delete

    idx_dir, _, _ = corpus
    copy = str(tmp_path / "index")
    shutil.copytree(idx_dir, copy)
    ids = [r["doc_id"] for r in Searcher(spark, copy, CFG).docs.select("doc_id").orderBy("doc_id").limit(105).collect()]
    assert delete(spark, copy, ids[:1]) == 1  # warm, and a deleted table exists
    small, n_small = py4j_calls(lambda: delete(spark, copy, ids[1:5]))
    large, n_large = py4j_calls(lambda: delete(spark, copy, ids[5:105]))
    assert (n_small, n_large) == (4, 100)
    assert large - small <= 10, f"{small} -> {large} py4j commands"


def _final_plan(df) -> str:
    """The physical plan ``df`` ran with: AQE's final plan, every query
    stage's subtree included."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.finalPhysicalPlan()
    return plan.toString()


def test_one_python_stage_per_wand_call(corpus, spark, tmp_path):
    """A WAND call runs one Python stage, its kernel: a filter's allowed
    ids and the tombstones reach it as JVM-projected mask rows.  The adhoc
    batch runs its tf kernel once: df is a window over the same frame."""
    import shutil

    from splade_easy_spark import adhoc
    from splade_easy_spark.index.maintenance import delete

    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    qs = generate_query_set()[:4]
    text = qs[0]["text"]
    many = _many([q["text"] for q in qs])
    pred = F.col("role") == "user"
    frames = {
        "search filtered": s.search(text, top_k=5, method="wand", doc_filter=pred),
        "search_many filtered": s.search_many(many, top_k=5, method="wand", doc_filter=pred),
    }
    # tombstones go on a copy: the module index stays delete-free
    copy = str(tmp_path / "index")
    shutil.copytree(idx_dir, copy)
    victim = s.search(text, top_k=1).collect()[0]["doc_id"]
    assert delete(spark, copy, [victim]) == 1
    frames["search after delete"] = Searcher(spark, copy, CFG).search(
        text, top_k=5, method="wand"
    )
    for name, df in frames.items():
        plan = _final_plan(df)
        assert plan.count("MapInPandas") == 1, f"{name}:\n{plan}"
    assert victim not in {r["doc_id"] for r in frames["search after delete"].collect()}
    multi = adhoc.bm25_topk_multi(spark, s.docs.select("doc_id", "text"), many, top_k=5)
    plan = _final_plan(multi)
    assert plan.count("MapInArrow") == 1, plan


def test_every_verb_matches_adhoc(corpus, spark):
    """Each full-text verb served by the index equals its ``adhoc``
    counterpart over the index's own docs: ranked lists within 1e-6 with
    tie bands compared as sets, exact facet counts, exact (pos, snippet)
    per hit, exact suggest lists; ``get`` returns the stored row.  Both
    sides run the same ``query.verbs`` body over different sources."""
    from splade_easy_spark import adhoc

    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    docs = s.docs.select("doc_id", "text", "role")
    doc_id, phrase, text = _verb_args(s)
    a, b = phrase.split()
    k, wide = 10, 40  # the adhoc side ranks deeper: a tie band may straddle k

    topk = {
        "phrase_search": (
            lambda: s.phrase_search(phrase, top_k=k),
            lambda n: adhoc.phrase_search(spark, docs, phrase, top_k=n),
        ),
        "boolean_search": (
            lambda: s.boolean_search([a], [b], ["foba3"], top_k=k),
            lambda n: adhoc.boolean_search(spark, docs, [a], [b], ["foba3"], top_k=n),
        ),
        "query": (
            lambda: s.query(f"+{a} {b} -foba3", top_k=k),
            lambda n: adhoc.boolean_search(spark, docs, [a], [b], ["foba3"], top_k=n),
        ),
        "fuzzy_search": (
            lambda: s.fuzzy_search(a[:-1], max_dist=1, top_k=k),
            lambda n: adhoc.fuzzy_search(spark, docs, a[:-1], max_dist=1, top_k=n),
        ),
        "prefix_search": (
            lambda: s.prefix_search(a[:2], top_k=k),
            lambda n: adhoc.prefix_search(spark, docs, a[:2], top_k=n),
        ),
        "regex_search": (
            lambda: s.regex_search(a[:1] + "." + a[2:], top_k=k),
            lambda n: adhoc.regex_search(spark, docs, a[:1] + "." + a[2:], top_k=n),
        ),
        "near_search": (
            lambda: s.near_search(a, b, slop=3, top_k=k),
            lambda n: adhoc.near_search(spark, docs, a, b, slop=3, top_k=n),
        ),
        "more_like_this": (
            lambda: s.more_like_this(doc_id, top_k=k),
            lambda n: adhoc.more_like_this(spark, docs, doc_id, top_k=n),
        ),
    }
    for name, (index_call, adhoc_call) in topk.items():
        got = [(r["doc_id"], r["score"]) for r in index_call().collect()]
        want = [(r["id"], r["score"]) for r in adhoc_call(wide).collect()]
        assert got, name
        assert_topk_matches(got, want, k, tol=1e-6)

    got = {r["facet"]: r["n_docs"] for r in s.facet_counts(text, "role").collect()}
    want = {r["facet"]: r["n_docs"] for r in adhoc.facet_counts(spark, docs, text, "role").collect()}
    assert got and got == want

    got = s.search_snippets(text, top_k=k).collect()
    want = adhoc.search_snippets(spark, docs, text, top_k=wide).collect()
    assert_topk_matches([(r["doc_id"], r["score"]) for r in got],
                        [(r["id"], r["score"]) for r in want], k, tol=1e-6)
    windows = {r["id"]: (r["pos"], r["snippet"]) for r in want}
    assert got and all((r["pos"], r["snippet"]) == windows[r["doc_id"]] for r in got)

    got = [(r["term"], r["df"]) for r in s.suggest_terms(a[:2], k).collect()]
    want = [(r["term"], r["df"]) for r in adhoc.suggest_terms(spark, docs, a[:2], k).collect()]
    assert got and got == want

    row = s.get(doc_id)
    stored = docs.where(F.col("doc_id") == doc_id).collect()[0]
    assert (row["doc_id"], row["role"], row["text"]) == (
        stored["doc_id"], stored["role"], stored["text"]
    )
