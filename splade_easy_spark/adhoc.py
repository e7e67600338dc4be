"""Ad-hoc BM25 over any ``(id, text)`` corpus, with no materialized index.

The verbs here are the ``query.verbs`` bodies that ``Searcher`` runs over
an index, run instead over a *corpus source*: the same frames derived
lazily from the raw docs (a verb is one lazy plan, after at most one
small driver-side expansion job: scan → map-side tf restricted to the
query's terms → df window and stats → weight → the verb's join and
aggregate).  The tf kernel is a weights frame's only
Python stage and runs once per frame: df is a ``count(*)`` window over
the same frame, not a second branch.  This module only builds that
source and finishes each verb's ``(id, score)`` frame as a top-k sorted
by score desc, id asc.  Used by the driver correctness gate
(``__spark_entry__.py``), where every query is mirrored by a DuckDB SQL
oracle, and handy interactively for one-off corpora.  Double precision
end to end (unlike the packed float32 postings), so results are
comparable to the SQL oracle at 1e-9.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from splade_easy_spark.config import AnalyzerConfig, BM25Params, IndexConfig
from splade_easy_spark.functions.bm25 import bm25_weight_expr, idf_expr
from splade_easy_spark.functions.predicates import in_list
from splade_easy_spark.functions.text import tokenize
from splade_easy_spark.query import verbs
from splade_easy_spark.query.verbs import analyze_query


def doc_term_tf(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                analyzer: AnalyzerConfig | None = None) -> DataFrame:
    """(id, doc_len, term, tf): JVM tokenize + Arrow-batched pandas count
    kernel, fully map-side — same kernel as the index builder
    (functions.text.term_tf_frame)."""
    from splade_easy_spark.functions.text import term_tf_frame

    # NB: no scan-parallelism floor here — some adhoc plans reference
    # this frame from several subtrees (cosine norms, MLT's source and
    # corpus sides), so an injected round-robin exchange executes once PER
    # SUBTREE and measured 3x slower than the narrow scan on the 5k-doc
    # gate corpus; the floor belongs in ops whose expensive projection runs
    # exactly once (see ops.dedup).
    base = docs.select(
        F.col(id_col).alias("id"),
        F.size(tokenize(F.col(text_col), analyzer)).alias("doc_len"),
        F.col(text_col).alias("_text"),
    )
    return term_tf_frame(base, ["id", "doc_len"], "_text", analyzer)


def bm25_weights(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 params: BM25Params | None = None,
                 analyzer: AnalyzerConfig | None = None,
                 terms: list[str] | None = None) -> DataFrame:
    """(id, term, tf, doc_len, weight): full corpus-statistics BM25 doc-side
    weights, computed with scalar-subquery stats (stays one lazy plan).

    ``doc_term_tf`` runs once: ``df`` is ``count(*) over (partition by
    term)`` on the same (id, term, tf) frame, so no second tf branch feeds
    a df aggregate.  ``terms`` keeps only those terms' rows, before the
    count: a term's df counts only its own rows, so every kept weight is
    unchanged, and the window shuffles the query's rows instead of the
    whole corpus's.  ``n_docs``/``avgdl`` always cover the whole corpus."""
    p = params or BM25Params()
    tt = doc_term_tf(docs, id_col, text_col, analyzer)
    if terms is not None:
        tt = tt.where(in_list("term", sorted(set(terms))))
    toks_len = F.size(tokenize(F.col(text_col), analyzer))
    stats = docs.agg(
        F.count("*").alias("n_docs"), F.avg(toks_len).alias("avgdl")
    )
    return (
        tt.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(stats))
        .select(
            "id",
            "term",
            "tf",
            "doc_len",
            bm25_weight_expr(
                F.col("tf"), F.col("doc_len"), F.col("avgdl"),
                idf_expr(F.col("df"), F.col("n_docs")), p,
            ).alias("weight"),
        )
    )


class _CorpusSource:
    """A raw corpus as a scoring source (``verbs.ScoringSource``): every
    frame is derived lazily from ``docs``; there are no tombstones."""

    key = "id"
    dead = None

    def __init__(self, docs: DataFrame, id_col: str, text_col: str,
                 params: BM25Params | None, analyzer: AnalyzerConfig | None):
        self._raw, self._id, self._text = docs, id_col, text_col
        self.config = IndexConfig(
            bm25=params or BM25Params(), analyzer=analyzer or AnalyzerConfig()
        )
        self.docs = docs.withColumns({"id": F.col(id_col), "text": F.col(text_col)})

    def _weights(self, terms: list[str] | None) -> DataFrame:
        return bm25_weights(self._raw, self._id, self._text, self.config.bm25,
                            self.config.analyzer, terms=terms)

    def weights(self, terms: list[str], norm: bool = False) -> DataFrame:
        """The query terms' weights; a norm comes from the whole,
        unrestricted weight vector of the doc."""
        w = self._weights(terms).select("id", "term", "weight")
        if norm:
            norms = self._weights(None).groupBy("id").agg(
                F.sqrt(F.sum(F.col("weight") ** 2)).alias("norm")
            )
            w = w.join(norms, "id")
        return w

    def dictionary(self) -> DataFrame:
        n_docs = self._raw.select(F.count("*")).scalar()
        return (
            doc_term_tf(self._raw, self._id, self._text, self.config.analyzer)
            .groupBy("term")
            .agg(F.count("*").alias("df"))
            .select("term", "df", idf_expr(F.col("df"), n_docs).alias("idf"))
        )

    @cached_property
    def avgdl(self) -> Column:
        toks = tokenize(F.col(self._text), self.config.analyzer)
        return self._raw.select(F.avg(F.size(toks))).scalar()


def _top(scores: DataFrame, top_k: int) -> DataFrame:
    """The adhoc result: (id, score), score desc / id asc, ``top_k`` rows."""
    return verbs.top(scores, "id", top_k)


def bm25_topk(
    spark: SparkSession,
    docs: DataFrame,
    query_text: str,
    top_k: int = 10,
    use_cosine: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    params: BM25Params | None = None,
    doc_filter: Column | None = None,
) -> DataFrame:
    """(id, score) top-k for one query string, desc score / asc id.

    ``doc_filter`` is standard filtered retrieval: the predicate restricts
    the CANDIDATE set while idf/avgdl stay full-corpus (Lucene semantics —
    a filter narrows what may be returned, not what the corpus is).  The
    predicate pushes down to the docs scan and the restriction is a
    doc-grain semi-join on the already term-pruned candidates, so the
    filter costs one pruned column scan — never a rescore.

    The weights are computed for the query's terms only; cosine norms
    need each matched doc's whole vector, so they come from a second,
    unrestricted ``bm25_weights``.
    """
    src = _CorpusSource(docs, id_col, text_col, params, None)
    terms = analyze_query(query_text, src.config)
    return _top(verbs.search(src, terms, use_cosine, doc_filter), top_k)


def bm25_topk_multi(
    spark: SparkSession,
    docs: DataFrame,
    queries: list[dict],
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    doc_filter: Column | None = None,
) -> DataFrame:
    """(query_id, rank, id, score): batch top-k for all queries in one
    plan, sorted by (query_id, rank).

    The weights are computed for the union of the queries' terms only
    (see :func:`bm25_weights`), so the tf kernel runs once.  The final
    sort runs in one task over at most Q·k rows, as in
    ``Searcher._ranked_many``: a global ``orderBy`` would plan a
    range-partition sampling job for them.

    ``doc_filter`` as in :func:`bm25_topk` — candidate restriction with
    full-corpus statistics, applied once before the per-query window."""
    src = _CorpusSource(docs, id_col, text_col, None, None)
    rows = [
        (q["query_id"], term, qw)
        for q in queries
        for term, qw in analyze_query(q["text"], src.config)
    ]
    return (
        verbs.rank_many(verbs.search_many(src, rows, False, doc_filter), "id", top_k)
        .select("query_id", "rank", "id", "score")
        .repartition(1)
        .sortWithinPartitions("query_id", "rank")
    )


def facet_counts(
    spark: SparkSession,
    docs: DataFrame,
    query_text: str,
    facet_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    params: BM25Params | None = None,
) -> DataFrame:
    """(facet, n_docs) — Lucene/Solr-style faceting: the count of MATCHING
    docs (BM25 score > 0 for the query) per value of ``facet_col``, desc
    count / asc facet (``verbs.facet_counts``)."""
    src = _CorpusSource(docs, id_col, text_col, params, None)
    return verbs.facet_counts(src, analyze_query(query_text, src.config), facet_col)


def more_like_this(
    spark: SparkSession,
    docs: DataFrame,
    source_id,
    query_terms: int = 10,
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    params: BM25Params | None = None,
) -> DataFrame:
    """(id, score) — Lucene-style More-Like-This: the source doc's top
    ``query_terms`` BM25-weighted terms (desc weight, asc term — the tie
    break makes the cut deterministic) become the query, with the source
    weight as the query weight (``verbs.more_like_this_terms``); the
    source doc itself is excluded."""
    src = _CorpusSource(docs, id_col, text_col, params, None)
    terms = verbs.more_like_this_terms(src, F.col("id") == source_id, query_terms)
    return _top(verbs.search(src, terms).where(F.col("id") != source_id), top_k)


def phrase_search(
    spark: SparkSession,
    docs: DataFrame,
    phrase: str,
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    params: BM25Params | None = None,
    analyzer: AnalyzerConfig | None = None,
) -> DataFrame:
    """(id, score) — exact phrase search without a positional index
    (``verbs.phrase_search``): conjunctive candidates off the term-pruned
    weights, then token-sequence verification of just those docs' text.
    Ranked by BM25 over the phrase's distinct terms, desc score / asc id.
    """
    src = _CorpusSource(docs, id_col, text_col, params, analyzer)
    return _top(verbs.phrase_search(src, phrase), top_k)


def search_snippets(
    spark: SparkSession,
    docs: DataFrame,
    query_text: str,
    top_k: int = 10,
    before: int = 30,
    width: int = 80,
    id_col: str = "doc_id",
    text_col: str = "text",
    params: BM25Params | None = None,
) -> DataFrame:
    """(id, score, pos, snippet) — KWIC highlighting for the top-k hits
    (``verbs.snippet_columns``): ``pos`` is the earliest 1-based
    character position of ANY query term in the text, ``snippet`` the
    ``width``-char window starting ``before`` chars earlier.  The window
    math runs only on the k result rows, in the projection that orders
    them after the text join, so snippeting adds no sort and no corpus
    pass."""
    src = _CorpusSource(docs, id_col, text_col, params, None)
    terms = analyze_query(query_text, src.config)
    snippet = verbs.snippet_columns(src, terms, before, width)
    return (
        _top(verbs.search(src, terms), top_k)
        .join(src.docs.select("id", "text"), "id")
        .selectExpr("id", "score", *snippet)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(top_k)
    )


def suggest_terms(
    spark: SparkSession,
    docs: DataFrame,
    prefix: str,
    n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: AnalyzerConfig | None = None,
) -> DataFrame:
    """(term, df) — autocomplete: the corpus dictionary's terms matching a
    prefix, ranked by document frequency desc / term asc
    (``verbs.suggest_terms``)."""
    src = _CorpusSource(docs, id_col, text_col, None, analyzer)
    return verbs.suggest_terms(src, prefix, n)


def prefix_search(
    spark: SparkSession,
    docs: DataFrame,
    prefix: str,
    top_k: int = 10,
    max_expansions: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    params: BM25Params | None = None,
) -> DataFrame:
    """(id, score) — Lucene PrefixQuery semantics: expand the prefix to at
    most ``max_expansions`` dictionary terms (df desc, term asc), then
    score as an OR query with unit weights."""
    src = _CorpusSource(docs, id_col, text_col, params, None)
    terms = verbs.prefix_terms(src, prefix, max_expansions)
    return _top(verbs.search(src, terms), top_k)


def boolean_search(
    spark: SparkSession,
    docs: DataFrame,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    params: BM25Params | None = None,
) -> DataFrame:
    """(id, score) — Lucene BooleanQuery semantics over BM25 weights
    (``verbs.boolean_search``): a hit must contain EVERY ``must`` term,
    may gain score from ``should`` terms, and is excluded if it contains
    ANY ``must_not`` term.  Score = Σ weight over the doc's (must ∪
    should) terms, desc score / asc id."""
    src = _CorpusSource(docs, id_col, text_col, params, None)
    return _top(verbs.boolean_search(src, must, should, must_not), top_k)


def fuzzy_search(
    spark: SparkSession,
    docs: DataFrame,
    query_term: str,
    max_dist: int = 2,
    top_k: int = 10,
    max_expansions: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    params: BM25Params | None = None,
    analyzer: AnalyzerConfig | None = None,
) -> DataFrame:
    """(id, score) — Lucene FuzzyQuery semantics: expand the query term to
    dictionary terms within ``max_dist`` Levenshtein edits (closest first,
    then df desc / term asc, capped at ``max_expansions``), score as an OR
    query with the closeness boost ``1 − dist/max(|q|,|term|)``
    (``verbs.fuzzy_terms``)."""
    src = _CorpusSource(docs, id_col, text_col, params, analyzer)
    terms = verbs.fuzzy_terms(src, query_term, max_dist, max_expansions)
    return _top(verbs.search(src, terms), top_k)


def near_search(
    spark: SparkSession,
    docs: DataFrame,
    term_a: str,
    term_b: str,
    slop: int = 5,
    top_k: int = 10,
    ordered: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    params: BM25Params | None = None,
    analyzer: AnalyzerConfig | None = None,
) -> DataFrame:
    """(id, score) — Lucene SpanNearQuery for a term pair: docs where the
    two terms occur within ``slop`` token positions (``ordered=True``
    additionally requires a before b), ranked by BM25 over both terms
    (``verbs.near_search``: positions are checked on candidates only)."""
    src = _CorpusSource(docs, id_col, text_col, params, analyzer)
    return _top(verbs.near_search(src, term_a, term_b, slop, ordered), top_k)


def regex_search(
    spark: SparkSession,
    docs: DataFrame,
    pattern: str,
    top_k: int = 10,
    max_expansions: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    params: BM25Params | None = None,
) -> DataFrame:
    """(id, score) — Lucene RegexpQuery semantics: expand the pattern to
    dictionary terms it FULLY matches (anchored, like Lucene — 'sc.n'
    matches the term 'scan', never a substring), df desc / term asc,
    capped at ``max_expansions``; score as an OR query with unit weights
    (``verbs.regex_terms``)."""
    src = _CorpusSource(docs, id_col, text_col, params, None)
    terms = verbs.regex_terms(src, pattern, max_expansions)
    return _top(verbs.search(src, terms), top_k)
