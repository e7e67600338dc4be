"""Ad-hoc BM25 pipeline: the index build + query plan as one lazy DataFrame
program over any ``(id, text)`` corpus — no materialized index.

This is the same logical algebra as the persisted path (builder.py +
searcher.py); Catalyst sees one plan: scan → map-side tf (restricted to
the query's terms when they are known) → df window and stats agg →
weight → broadcast query join → hash agg → TakeOrderedAndProject.  The
tf kernel is the plan's only Python stage and runs once per weights
frame: df is a ``count(*)`` window over the same frame, not a second
branch.  Used by the driver correctness gate (``__spark_entry__.py``)
where every query must be mirrored by a DuckDB SQL oracle, and handy
interactively for one-off corpora.  Double precision end to end (unlike
the packed float32 postings), so results are comparable to the SQL
oracle at 1e-9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from splade_easy_spark.config import BM25Params, AnalyzerConfig, IndexConfig
from splade_easy_spark.functions.bm25 import bm25_weight_expr, idf_expr
from splade_easy_spark.functions.predicates import in_list
from splade_easy_spark.functions.text import tokenize
from splade_easy_spark.query.searcher import analyze_query
from splade_easy_spark.session import local_frame


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
    terms = analyze_query(query_text, IndexConfig(bm25=params or BM25Params()))
    if not terms:
        return local_frame(spark, [], "id STRING, score DOUBLE")
    qdf = local_frame(spark, terms, "term STRING, qweight DOUBLE")
    w = bm25_weights(docs, id_col, text_col, params, terms=[t for t, _ in terms])
    scored = w.join(F.broadcast(qdf), "term").groupBy("id").agg(
        F.sum(F.col("weight") * F.col("qweight")).alias("score")
    )
    if doc_filter is not None:
        allowed = docs.where(doc_filter).select(F.col(id_col).alias("id"))
        scored = scored.join(allowed, "id", "left_semi")
    if use_cosine:
        norms = bm25_weights(docs, id_col, text_col, params).groupBy("id").agg(
            F.sqrt(F.sum(F.col("weight") ** 2)).alias("norm")
        )
        qnorm = float(sum(qw * qw for _, qw in terms)) ** 0.5
        scored = scored.join(norms, "id").select(
            "id",
            F.when(F.col("norm") == 0, F.lit(0.0))
            .otherwise(F.col("score") / (F.col("norm") * F.lit(qnorm)))
            .alias("score"),
        )
    return (
        scored.where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(top_k)
    )


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
    rows = [
        (q["query_id"], term, qw)
        for q in queries
        for term, qw in analyze_query(q["text"])
    ]
    if not rows:
        return local_frame(spark, [], "query_id STRING, rank INT, id STRING, score DOUBLE")
    qdf = local_frame(spark, rows, "query_id STRING, term STRING, qweight DOUBLE")
    w = bm25_weights(docs, id_col, text_col, terms=[r[1] for r in rows])
    scored = (
        w.join(F.broadcast(qdf), "term")
        .groupBy("query_id", "id")
        .agg(F.sum(F.col("weight") * F.col("qweight")).alias("score"))
        .where(F.col("score") > 0)
    )
    if doc_filter is not None:
        allowed = docs.where(doc_filter).select(F.col(id_col).alias("id"))
        scored = scored.join(allowed, "id", "left_semi")
    win = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= top_k)
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
    count / asc facet.  One plan: the scored candidate set joins back to
    the docs scan pruned to (id, facet) — never a second tokenize pass —
    and the facet agg is a tiny post-join hash agg (|facets| ≪ |docs|)."""
    terms = analyze_query(query_text, IndexConfig(bm25=params or BM25Params()))
    if not terms:
        return local_frame(spark, [], "facet STRING, n_docs BIGINT")
    qdf = local_frame(spark, terms, "term STRING, qweight DOUBLE")
    w = bm25_weights(docs, id_col, text_col, params, terms=[t for t, _ in terms])
    matched = (
        w.join(F.broadcast(qdf), "term")
        .groupBy("id")
        .agg(F.sum(F.col("weight") * F.col("qweight")).alias("score"))
        .where(F.col("score") > 0)
    )
    facets = docs.select(F.col(id_col).alias("id"), F.col(facet_col).alias("facet"))
    return (
        matched.join(facets, "id")
        .groupBy("facet")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("facet"))
    )


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
    weight as the query weight; the source doc itself is excluded.  The
    interesting-term selection is a sort+limit over ONE doc's vector
    (tiny), broadcast into the corpus-side join, so the whole thing stays
    a single lazy plan with one corpus pass."""
    w = bm25_weights(docs, id_col, text_col, params)
    # the cut ranks on round(weight, 9): raw doubles can differ across
    # engines in the last ulps (ln implementations), and a flip at the
    # LIMIT boundary would swap a query term — at 1e-9 granularity exact
    # rounded ties fall to the term tie-break identically everywhere
    src = (
        w.where(F.col("id") == source_id)
        .orderBy(F.desc(F.round("weight", 9)), F.asc("term"))
        .limit(query_terms)
        .select("term", F.col("weight").alias("qweight"))
    )
    return (
        w.where(F.col("id") != source_id)
        .join(F.broadcast(src), "term")
        .groupBy("id")
        .agg(F.sum(F.col("weight") * F.col("qweight")).alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(top_k)
    )


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
    """(id, score) — exact phrase search without a positional index, the
    way a scale-out engine does it: CANDIDATE GENERATION first (docs
    containing ALL distinct phrase terms, straight off the term-pruned
    weights — the cheap conjunctive set), then VERIFICATION of the token
    sequence on just those docs' text.  The verify predicate re-tokenizes
    only the candidate rows (|candidates| ≪ |corpus| for selective
    phrases), so the expensive text pass never touches non-matching docs.
    Ranking is BM25 over the phrase's distinct terms, desc score / asc id.
    """
    cfg = (
        IndexConfig(bm25=params or BM25Params(), analyzer=analyzer)
        if analyzer is not None
        else IndexConfig(bm25=params or BM25Params())
    )
    ordered = _phrase_tokens(phrase, cfg)
    if not ordered:
        return local_frame(spark, [], "id STRING, score DOUBLE")
    distinct = sorted(set(ordered))
    qdf = local_frame(spark, [(t,) for t in distinct], "term STRING")
    w = bm25_weights(docs, id_col, text_col, params, analyzer, terms=distinct)
    cand = (
        w.join(F.broadcast(qdf), "term")
        .groupBy("id")
        .agg(
            F.sum("weight").alias("score"),
            F.count_distinct("term").alias("_nt"),
        )
        .where(F.col("_nt") == len(distinct))
    )
    needle = " " + " ".join(ordered) + " "
    hay = F.concat(
        F.lit(" "), F.array_join(tokenize(F.col(text_col), analyzer), " "), F.lit(" ")
    )
    verified = (
        cand.join(
            docs.select(F.col(id_col).alias("id"), F.col(text_col)), "id"
        )
        .where(F.instr(hay, needle) > 0)
        .select("id", "score")
    )
    return verified.orderBy(F.desc("score"), F.asc("id")).limit(top_k)


def _phrase_tokens(phrase: str, cfg: IndexConfig) -> list[str]:
    """Ordered analyzer tokens of a phrase (duplicates kept — unlike
    analyze_query's dedup, sequence matching needs every position)."""
    import re as _re

    a = cfg.analyzer
    s = phrase.lower() if a.lowercase else phrase
    return [
        t
        for t in _re.findall(a.token_pattern, s)
        if a.min_token_len <= len(t) <= a.max_token_len
    ]


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
    """(id, score, pos, snippet) — KWIC highlighting for the top-k hits:
    ``pos`` is the earliest 1-based character position of ANY query term
    in lower(text) (every hit contains ≥1 term — tokens are substrings of
    the text they were cut from), ``snippet`` the ``width``-char window
    starting ``before`` chars earlier.  The window math runs only on the
    k result rows (post-limit), so snippeting adds one point-join to the
    search plan, never a corpus pass."""
    terms = analyze_query(query_text, IndexConfig(bm25=params or BM25Params()))
    hits = bm25_topk(spark, docs, query_text, top_k, id_col=id_col,
                     text_col=text_col, params=params)
    if not terms:
        # empty analysis also means hits is empty — stable schema out
        return hits.select(
            "id", "score",
            F.lit(None).cast("int").alias("pos"),
            F.lit(None).cast("string").alias("snippet"),
        )
    hay = F.lower(F.col(text_col))
    sentinel = 1 << 30
    cands = [
        F.coalesce(F.nullif(F.instr(hay, t), F.lit(0)), F.lit(sentinel))
        for t, _ in terms
    ]
    # F.least requires >=2 columns — a one-term query indexes directly
    pos_raw = cands[0] if len(cands) == 1 else F.least(*cands)
    # a hit normally contains >=1 query term, but never let the internal
    # sentinel surface (e.g. a caller-supplied non-default analyzer whose
    # casing disagrees with the lower() haystack)
    pos = F.when(pos_raw < sentinel, pos_raw.cast("int"))
    return (
        hits.join(docs.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
        .withColumn("pos", pos)
        .select(
            "id",
            "score",
            "pos",
            F.when(
                F.col("pos").isNotNull(),
                F.expr(f"substring({text_col}, greatest(pos - {before}, 1), {width})"),
            ).alias("snippet"),
        )
        .orderBy(F.desc("score"), F.asc("id"))
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
    prefix, ranked by document frequency desc / term asc.  ``startswith``
    compiles to a range predicate, so against a sorted/pruned dictionary
    the scan is bounded; the rank is TakeOrderedAndProject (distributed
    partial top-n, no single-partition window)."""
    tt = doc_term_tf(docs, id_col, text_col, analyzer)
    return (
        tt.where(F.col("term").startswith(prefix))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(n)
    )


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
    most ``max_expansions`` dictionary terms (df desc, term asc — the
    highest-signal expansions when the cap binds, deterministic cut), then
    score as an OR query with unit weights over the expansion.  The
    expansion is a bounded TakeOrderedAndProject over the prefix-pruned
    dictionary; the scoring join is the same term-pruned plan as bm25."""
    w = bm25_weights(docs, id_col, text_col, params)
    tdf = w.groupBy("term").agg(F.count("*").alias("df"))
    exp = (
        tdf.where(F.col("term").startswith(prefix))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .select("term")
    )
    return (
        w.join(F.broadcast(exp), "term")
        .groupBy("id")
        .agg(F.sum("weight").alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(top_k)
    )


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
    """(id, score) — Lucene BooleanQuery semantics over BM25 weights:
    a hit must contain EVERY ``must`` term, may gain score from ``should``
    terms, and is excluded if it contains ANY ``must_not`` term.  Score =
    Σ weight over the doc's (must ∪ should) terms, desc score / asc id.

    One corpus pass: the conjunction is a count-distinct-over-must check
    inside the same hash agg that sums the score (no second join), and the
    exclusion is an anti-join against the must_not term postings — all
    three term sets ride ONE term-pruned scan of the weights."""
    cfg = IndexConfig(bm25=params or BM25Params())
    m = sorted({t for t, _ in analyze_query(" ".join(must or []), cfg)})
    s_extra = sorted(
        {t for t, _ in analyze_query(" ".join(should or []), cfg)} - set(m)
    )
    n = sorted({t for t, _ in analyze_query(" ".join(must_not or []), cfg)})
    scored_terms = m + s_extra
    if not scored_terms:
        return local_frame(spark, [], "id STRING, score DOUBLE")
    w = bm25_weights(docs, id_col, text_col, params, terms=scored_terms + n)
    qdf = local_frame(spark, [(t,) for t in scored_terms], "term STRING")
    scored = (
        w.join(F.broadcast(qdf), "term")
        .groupBy("id")
        .agg(
            F.sum("weight").alias("score"),
            F.count_distinct(
                F.when(in_list("term", m), F.col("term"))
            ).alias("_nm"),
        )
        .where((F.col("_nm") == len(m)) & (F.col("score") > 0))
        .select("id", "score")
    )
    if n:
        ndf = local_frame(spark, [(t,) for t in n], "term STRING")
        excluded = (
            w.join(F.broadcast(ndf), "term").select("id").distinct()
        )
        scored = scored.join(excluded, "id", "left_anti")
    return scored.orderBy(F.desc("score"), F.asc("id")).limit(top_k)


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
    query with the standard closeness boost ``1 − dist/max(|q|,|term|)``.

    Scale shape: the edit-distance test runs only on dictionary terms
    inside the LENGTH BAND ``|q| ± max_dist`` — that predicate prunes the
    dictionary scan before any levenshtein evaluates (Lucene walks an
    automaton over its FST; the Spark analog is a banded scan, which is
    embarrassingly parallel over the term dictionary and never touches
    postings until the expansion is fixed)."""
    a = analyzer or AnalyzerConfig()
    # the query term goes through the same casing as the dictionary —
    # unconditional lower() against a case-preserving analyzer would
    # inflate every distance by the casing edits
    q = query_term.lower() if a.lowercase else query_term
    w = bm25_weights(docs, id_col, text_col, params, analyzer)
    tdf = w.groupBy("term").agg(F.count("*").alias("df"))
    lq = len(q)
    exp = (
        tdf.where(F.length("term").between(lq - max_dist, lq + max_dist))
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(q)))
        .where(F.col("dist") <= max_dist)
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .select(
            "term",
            (
                1.0
                - F.col("dist")
                / F.greatest(F.length("term"), F.lit(lq)).cast("double")
            ).alias("qweight"),
        )
    )
    return (
        w.join(F.broadcast(exp), "term")
        .groupBy("id")
        .agg(F.sum(F.col("weight") * F.col("qweight")).alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(top_k)
    )


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
    additionally requires a before b), ranked by BM25 over both terms.

    Scale shape: the token-position stream is FILTERED TO THE TWO QUERY
    TERMS before any join (posexplode output drops every other token at
    the map side), so the per-doc position self-join touches only those
    terms' occurrences — never a full position index, never a full
    cross-product of the token stream."""
    cfg = IndexConfig(bm25=params or BM25Params())
    a_terms = _phrase_tokens(term_a, cfg)
    b_terms = _phrase_tokens(term_b, cfg)
    if len(a_terms) != 1 or len(b_terms) != 1:
        raise ValueError("near_search takes exactly one term per side")
    ta, tb = a_terms[0], b_terms[0]
    pos = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokenize(F.col(text_col), analyzer)).alias("pos", "tok"),
    ).where(in_list("tok", [ta, tb]))
    pa = pos.where(F.col("tok") == ta).select("id", F.col("pos").alias("pa"))
    pb = pos.where(F.col("tok") == tb).select("id", F.col("pos").alias("pb"))
    gap = (
        (F.col("pb") - F.col("pa")).between(1, slop)
        if ordered
        else F.abs(F.col("pa") - F.col("pb")).between(1, slop)
    )
    hits = pa.join(pb, "id").where(gap).select("id").distinct()
    w = bm25_weights(docs, id_col, text_col, params, analyzer, terms=[ta, tb])
    qdf = local_frame(spark, [(t,) for t in sorted({ta, tb})], "term STRING")
    return (
        w.join(F.broadcast(qdf), "term")
        .join(hits, "id", "left_semi")
        .groupBy("id")
        .agg(F.sum("weight").alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(top_k)
    )


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
    capped at ``max_expansions``; score as an OR query with unit weights.

    Scale note: a general regex cannot push down, so the expansion scans
    the term dictionary (|dictionary| ≪ |corpus|, embarrassingly
    parallel — the same trade Lucene makes when a pattern's automaton has
    no literal prefix); postings are untouched until the expansion is
    fixed."""
    w = bm25_weights(docs, id_col, text_col, params)
    tdf = w.groupBy("term").agg(F.count("*").alias("df"))
    exp = (
        tdf.where(F.col("term").rlike(f"^(?:{pattern})$"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .select("term")
    )
    return (
        w.join(F.broadcast(exp), "term")
        .groupBy("id")
        .agg(F.sum("weight").alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(top_k)
    )
