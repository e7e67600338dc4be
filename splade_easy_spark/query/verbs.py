"""The full-text verbs, each written once over a scoring source.

A *scoring source* hides where BM25 weights come from, as the reference's
one kernel scores ``(token_ids, weights)`` vectors whatever encoder made
them (``src/splade_easy/retriever.py:158-202``).  ``Searcher`` is one
source (the persisted index) and ``adhoc`` the other (a raw corpus, the
frames derived lazily), so the verbs users call on an index and the ones
the DuckDB gates check are the same code.  A verb returns unranked
``(key, score)`` rows (score > 0, tombstones and ``doc_filter`` applied);
each front end finishes them (``top``/``rank_many`` plus its own
columns).  The WAND fast path reads packed postings, so it stays in
``Searcher``; the plans here are the SQL path, the oracle path of both.
"""

from __future__ import annotations

import re
from typing import Protocol

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from splade_easy_spark.config import IndexConfig
from splade_easy_spark.functions.bm25 import bm25_weight_expr
from splade_easy_spark.functions.predicates import case_weight, in_list
from splade_easy_spark.functions.text import tokenize
from splade_easy_spark.session import local_frame


class ScoringSource(Protocol):
    """Where the weights come from, and nothing else: the doc ``key``
    column (``doc_int`` on the index, ``id`` in adhoc), the analyzer and
    BM25 ``config`` the weights were made with, ``docs`` (key, stored
    columns, ``text``), the tombstoned keys ``dead`` (or ``None``) and the
    corpus ``avgdl``."""

    key: str
    config: IndexConfig
    docs: DataFrame
    dead: DataFrame | None
    avgdl: Column | float

    def weights(self, terms: list[str], norm: bool = False) -> DataFrame:
        """``(key, term, weight[, norm])`` of ``terms`` only; ``norm`` is
        the L2 norm of the doc's whole weight vector."""

    def dictionary(self) -> DataFrame:
        """``(term, df, idf)``, one row per term."""


# ---------------------------------------------------------------- analysis
def query_tokens(text: str, config: IndexConfig | None = None) -> list[str]:
    """Ordered analyzer tokens of a query string, duplicates kept (a
    phrase needs every position) — the driver's one tokenizer, with the
    same rules as the build's ``functions.text.tokenize``."""
    a = (config or IndexConfig()).analyzer
    s = text.lower() if a.lowercase else text
    return [
        t
        for t in re.findall(a.token_pattern, s)
        if a.min_token_len <= len(t) <= a.max_token_len
    ]


def analyze_query(
    text: str, config: IndexConfig | None = None, weights: dict[str, float] | None = None
) -> list[tuple[str, float]]:
    """Driver-side query analysis with the *same* analyzer rules as the
    build (the model-identity seam; mismatch is what the reference warns
    about at ``src/splade_easy/retriever.py:137-145``).

    Duplicate terms keep the **max** weight, mirroring the reference's
    vector normalization (``src/splade_easy/scoring.py:102-114``).
    """
    out: dict[str, float] = {}
    for t in query_tokens(text, config):
        w = (weights or {}).get(t, 1.0)
        out[t] = max(out.get(t, w), w)
    return sorted(out.items())


def _analyzed(words: list[str] | None, config: IndexConfig) -> list[str]:
    """Sorted distinct analyzer terms of a word list."""
    return sorted(set(query_tokens(" ".join(words or []), config)))


def _need_text(src: ScoringSource, verb: str) -> None:
    if "text" not in src.docs.columns:
        raise ValueError(
            f"{verb} needs stored text; this index has none (vector-mode build)"
        )


# ---------------------------------------------------------------- scoring
def no_scores(src: ScoringSource) -> DataFrame:
    """An empty ``(key, score)`` frame (folds to an empty relation)."""
    return src.docs.select(src.key, F.lit(0.0).alias("score")).where(F.lit(False))


def eligible(scores: DataFrame, src: ScoringSource, doc_filter: Column | None = None) -> DataFrame:
    """``scores`` without tombstoned docs and, with ``doc_filter``, only
    the docs it admits — before any top-k cut, which taken over ineligible
    docs would evict eligible ones.  The filter narrows candidates, never
    statistics (Lucene filter semantics: idf stays full-corpus); its
    selectivity is unknown, so the join strategy is left to AQE."""
    k = src.key
    dead = src.dead
    if dead is not None:
        scores = scores.join(F.broadcast(dead.select(k)), k, "left_anti")
    if doc_filter is not None:
        scores = scores.join(src.docs.where(doc_filter).select(k), k, "left_semi")
    return scores


def _cosine(dot: Column, qnorm: Column | float) -> Column:
    """``dot / (‖d‖·‖q‖)``, 0 for an empty doc vector."""
    return F.when(F.col("norm") == 0.0, F.lit(0.0)).otherwise(dot / (F.col("norm") * qnorm))


def search(
    src: ScoringSource,
    terms: list[tuple[str, float]],
    use_cosine: bool = False,
    doc_filter: Column | None = None,
) -> DataFrame:
    """``(key, score)`` of the OR query ``terms`` = [(term, qweight)]:
    Σ weight·qweight over the doc's query terms (BM25 dot), or that dot
    over ‖d‖·‖q‖ (cosine).  One term-pruned weights scan joined to the
    broadcast query table, one hash aggregate."""
    if not terms:
        return no_scores(src)
    k = src.key
    qdf = local_frame(src.docs.sparkSession, terms, "term STRING, qweight DOUBLE")
    joined = src.weights([t for t, _ in terms], norm=use_cosine).join(F.broadcast(qdf), "term")
    dot = F.sum(F.col("weight") * F.col("qweight"))
    if use_cosine:
        qnorm = sum(qw * qw for _, qw in terms) ** 0.5
        if qnorm == 0.0:
            return no_scores(src)
        scores = joined.groupBy(k).agg(dot.alias("dot"), F.first("norm").alias("norm"))
        scores = scores.select(k, _cosine(F.col("dot"), F.lit(qnorm)).alias("score"))
    else:
        scores = joined.groupBy(k).agg(dot.alias("score"))
    return eligible(scores.where(F.col("score") > 0), src, doc_filter)  # cf. retriever.py:186


def search_many(
    src: ScoringSource,
    rows: list[tuple[str, str, float]],
    use_cosine: bool = False,
    doc_filter: Column | None = None,
) -> DataFrame:
    """``(query_id, key, score)`` for a batch of OR queries given as
    (query_id, term, qweight) rows: one weights scan over the union of
    the batch's terms, one aggregate keyed by (query_id, key)."""
    if not rows:
        return no_scores(src).select(F.lit(None).cast("string").alias("query_id"), "*")
    k = src.key
    sp = src.docs.sparkSession
    qdf = local_frame(sp, rows, "query_id STRING, term STRING, qweight DOUBLE")
    joined = src.weights(sorted({r[1] for r in rows}), norm=use_cosine).join(
        F.broadcast(qdf), "term"
    )
    dot = F.sum(F.col("weight") * F.col("qweight"))
    if use_cosine:
        qnorms = qdf.groupBy("query_id").agg(F.sqrt(F.sum(F.col("qweight") ** 2)).alias("qnorm"))
        scores = (
            joined.groupBy("query_id", k)
            .agg(dot.alias("dot"), F.first("norm").alias("norm"))
            .join(F.broadcast(qnorms), "query_id")
            .select(
                "query_id", k,
                F.when(F.col("qnorm") == 0.0, F.lit(0.0))
                .otherwise(_cosine(F.col("dot"), F.col("qnorm")))
                .alias("score"),
            )
        )
    else:
        scores = joined.groupBy("query_id", k).agg(dot.alias("score"))
    return eligible(scores.where(F.col("score") > 0), src, doc_filter)


def top(scores: DataFrame, key: str, top_k: int) -> DataFrame:
    """The ``top_k`` best rows, (score DESC, key ASC): sort+limit, which
    plans as a TakeOrderedAndProject (partial top-k per partition plus a
    driver merge), never a sampled range sort."""
    return scores.orderBy(F.desc("score"), F.asc(key)).limit(top_k)


def rank_many(scores: DataFrame, key: str, top_k: int) -> DataFrame:
    """Per query, the ``top_k`` best (query_id, key, score) rows with
    their ``rank`` (score DESC, key ASC).  The ``rank <= top_k`` filter
    lets Spark's ``InferWindowGroupLimit`` plan a partial
    ``WindowGroupLimit`` below the query_id exchange, so at most
    (partitions × k) rows per query are shuffled (while ``top_k`` ≤
    ``spark.sql.optimizer.windowGroupLimitThreshold``, default 1000)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(key))
    return scores.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= top_k)


def facet_counts(
    src: ScoringSource,
    terms: list[tuple[str, float]],
    facet_col: str,
    doc_filter: Column | None = None,
) -> DataFrame:
    """(facet, n_docs) — Lucene/Solr-style faceting: the count of
    matching docs (BM25 score > 0, tombstones excluded) per value of a
    stored doc column, desc count / asc facet.  The match set joins back
    to the docs scan pruned to (key, facet); the facet agg itself is tiny
    (|facets| ≪ |docs|), so the cost is a search without the top-k."""
    k = src.key
    d = src.docs if doc_filter is None else src.docs.where(doc_filter)
    # the counts are one row per facet value: sort them in one task
    # (a global orderBy would add a range-sampling job and a shuffle)
    return (
        search(src, terms)
        .join(d.select(k, F.col(facet_col).alias("facet")), k)
        .groupBy("facet")
        .agg(F.count("*").alias("n_docs"))
        .coalesce(1)
        .sortWithinPartitions(F.desc("n_docs"), F.asc("facet"))
    )


# ---------------------------------------------------------------- clauses
def clause_scores(
    src: ScoringSource,
    weights: dict[str, float],
    must: list[str] = (),
    must_not: list[str] = (),
) -> DataFrame:
    """``(key, score)`` of a Lucene BooleanQuery: a hit contains EVERY
    ``must`` term and NO ``must_not`` term; score = Σ weight·qweight over
    its ``weights`` terms (must ∪ should), score > 0.

    One term-pruned weights scan and one aggregate serve all three
    clauses: the conjunction is a count-distinct over the must terms, the
    exclusion a count of must_not rows that has to be 0, and the query
    weights are one CASE expression (no query-table join)."""
    if not weights:
        return no_scores(src)
    k = src.key
    aggs = [F.sum(F.col("weight") * case_weight("term", weights)).alias("score")]
    keep = F.col("score") > 0
    if must:
        aggs.append(F.count_distinct(F.when(in_list("term", must), F.col("term"))).alias("_nm"))
        keep = keep & (F.col("_nm") == len(set(must)))
    if must_not:
        aggs.append(F.count(F.when(in_list("term", must_not), 1)).alias("_nn"))
        keep = keep & (F.col("_nn") == 0)
    dt = src.weights(sorted(set(weights) | set(must_not)))
    return dt.groupBy(k).agg(*aggs).where(keep).select(k, "score")


def _with_phrases(src: ScoringSource, scores: DataFrame, phrases: list[list[str]]) -> DataFrame:
    """``scores`` restricted to docs whose token stream contains every
    phrase as a contiguous sequence.  Only the candidate rows' text is
    re-tokenized (|candidates| ≪ |corpus| for selective phrases)."""
    k = src.key
    hay = F.concat(
        F.lit(" "), F.array_join(tokenize(F.col("text"), src.config.analyzer), " "), F.lit(" ")
    )
    cond = None
    for ph in phrases:
        c = F.instr(hay, " " + " ".join(ph) + " ") > 0
        cond = c if cond is None else (cond & c)
    return scores.join(src.docs.select(k, "text"), k).where(cond).select(k, "score")


def boolean_search(
    src: ScoringSource,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    doc_filter: Column | None = None,
) -> DataFrame:
    """Lucene BooleanQuery over analyzed word lists: score = Σ weight over
    the doc's (must ∪ should) terms (see :func:`clause_scores`)."""
    cfg = src.config
    m = _analyzed(must, cfg)
    scored = m + sorted(set(_analyzed(should, cfg)) - set(m))
    return eligible(
        clause_scores(src, dict.fromkeys(scored, 1.0), m, _analyzed(must_not, cfg)),
        src, doc_filter,
    )


def _all_of(src: ScoringSource, terms: list[str], doc_filter: Column | None) -> DataFrame:
    """Eligible docs holding every one of ``terms``, scored Σ weight."""
    distinct = sorted(set(terms))
    return eligible(clause_scores(src, dict.fromkeys(distinct, 1.0), distinct), src, doc_filter)


def phrase_search(src: ScoringSource, phrase: str, doc_filter: Column | None = None) -> DataFrame:
    """Exact phrase search without a positional index: CANDIDATE
    GENERATION (a must over the phrase's distinct terms, straight off the
    term-pruned weights), then token-sequence VERIFICATION on just those
    docs' text.  Ranked by BM25 over the phrase's distinct terms."""
    _need_text(src, "phrase_search")
    ordered = query_tokens(phrase, src.config)
    if not ordered:
        return no_scores(src)
    return _with_phrases(src, _all_of(src, ordered, doc_filter), [ordered])


def near_search(
    src: ScoringSource,
    term_a: str,
    term_b: str,
    slop: int = 5,
    ordered: bool = False,
    doc_filter: Column | None = None,
) -> DataFrame:
    """Lucene SpanNearQuery for a term pair: docs where the two terms
    occur within ``slop`` token positions (``ordered=True`` also requires
    a before b), ranked by BM25 over both.  The candidates are a must over
    {a, b}; only their text is re-tokenized, and the position stream is
    filtered to the two terms before the per-doc self-join."""
    _need_text(src, "near_search")
    a_terms = query_tokens(term_a, src.config)
    b_terms = query_tokens(term_b, src.config)
    if len(a_terms) != 1 or len(b_terms) != 1:
        raise ValueError("near_search takes exactly one term per side")
    ta, tb = a_terms[0], b_terms[0]
    distinct = sorted({ta, tb})
    k = src.key
    cand = _all_of(src, distinct, doc_filter)
    pos = (
        cand.join(src.docs.select(k, "text"), k)
        .select(k, F.posexplode(tokenize(F.col("text"), src.config.analyzer)).alias("pos", "tok"))
        .where(in_list("tok", distinct))
    )
    pa = pos.where(F.col("tok") == ta).select(k, F.col("pos").alias("pa"))
    pb = pos.where(F.col("tok") == tb).select(k, F.col("pos").alias("pb"))
    gap = (
        (F.col("pb") - F.col("pa")).between(1, slop)
        if ordered
        else F.abs(F.col("pa") - F.col("pb")).between(1, slop)
    )
    near_keys = pa.join(pb, k).where(gap).select(k).distinct()
    return cand.join(near_keys, k, "left_semi")


def query(src: ScoringSource, qs: str, doc_filter: Column | None = None) -> DataFrame:
    """A Lucene-style query string (see ``query.parser``: quoted phrases,
    +must, -must_not, field:value filters, fuzzy~N, prefix*) as ONE
    clause aggregate: phrase terms join the musts, fuzzy and prefix
    clauses expand over the dictionary into weighted shoulds, field
    filters join ``doc_filter`` (full-corpus idf), and phrase sequences
    are verified on candidate rows only."""
    from splade_easy_spark.query.parser import parse_query

    p = parse_query(qs)
    cfg = src.config
    phrases = [ph for ph in (query_tokens(x, cfg) for x in p.phrases) if ph]
    if phrases:
        _need_text(src, "a phrase clause")
    must = sorted(set(_analyzed(p.must, cfg)) | {t for ph in phrases for t in ph})
    weights: dict[str, float] = dict.fromkeys(must, 1.0)
    expansions = [(t, 1.0) for t in _analyzed(p.should, cfg)]
    for term, dist in p.fuzzy:
        expansions += fuzzy_terms(src, term, dist, 50)
    for pre in p.prefixes:
        expansions += prefix_terms(src, pre, 64)
    for t, w in expansions:
        weights[t] = max(weights.get(t, 0.0), w)
    flt = doc_filter
    for name, val in p.filters:
        rhs = int(val) if val.lstrip("-").isdigit() else val
        flt = (F.col(name) == rhs) if flt is None else (flt & (F.col(name) == rhs))
    scored = eligible(
        clause_scores(src, weights, must, _analyzed(p.must_not, cfg)), src, flt
    )
    return _with_phrases(src, scored, phrases) if phrases else scored


# ---------------------------------------------------------------- expansions
def _by_df(src: ScoringSource, cond: Column, n: int) -> DataFrame:
    """(term, df) of the ``n`` dictionary terms matching ``cond``, df desc
    / term asc (a TakeOrderedAndProject)."""
    return (
        src.dictionary()
        .where(cond)
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(n)
    )


def suggest_terms(src: ScoringSource, prefix: str, n: int = 10) -> DataFrame:
    """(term, df) — autocomplete: dictionary terms starting with
    ``prefix`` (a range predicate on a sorted dictionary), by df."""
    return _by_df(src, F.col("term").startswith(prefix), n)


def prefix_terms(src: ScoringSource, prefix: str, max_expansions: int) -> list[tuple[str, float]]:
    """Lucene PrefixQuery expansion: at most ``max_expansions`` dictionary
    terms (df desc, term asc — the highest-signal ones when the cap
    binds), unit query weights."""
    return [(r["term"], 1.0) for r in suggest_terms(src, prefix, max_expansions).collect()]


def regex_terms(src: ScoringSource, pattern: str, max_expansions: int) -> list[tuple[str, float]]:
    """Lucene RegexpQuery expansion: dictionary terms the pattern FULLY
    matches (anchored: 'sc.n' matches 'scan', never a substring), df desc
    / term asc, capped; unit query weights.  A general regex cannot push
    down, so this scans the dictionary (|dictionary| ≪ |corpus|)."""
    cond = F.col("term").rlike(f"^(?:{pattern})$")
    return [(r["term"], 1.0) for r in _by_df(src, cond, max_expansions).collect()]


def fuzzy_terms(
    src: ScoringSource, query_term: str, max_dist: int, max_expansions: int
) -> list[tuple[str, float]]:
    """Lucene FuzzyQuery expansion: dictionary terms within ``max_dist``
    Levenshtein edits (closest first, then df desc / term asc, capped),
    query weight = the closeness boost ``1 − dist/max(|q|,|term|)``.  The
    levenshtein test runs only inside the LENGTH BAND ``|q| ± max_dist``
    (the distributed analog of Lucene's automaton walk over its FST).
    The query term gets the dictionary's casing: an unconditional lower()
    against a case-preserving analyzer would add the casing edits."""
    q = query_term.lower() if src.config.analyzer.lowercase else query_term
    lq = len(q)
    rows = (
        src.dictionary()
        .where(F.length("term").between(lq - max_dist, lq + max_dist))
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(q)))
        .where(F.col("dist") <= max_dist)
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .select("term", "dist")
        .collect()
    )
    return [(r["term"], 1.0 - r["dist"] / max(len(r["term"]), lq)) for r in rows]


def more_like_this_terms(
    src: ScoringSource, source: Column, query_terms: int
) -> list[tuple[str, float]]:
    """Lucene More-Like-This query vector: the top ``query_terms`` BM25
    terms of the doc ``source`` selects (desc weight, asc term), each with
    its weight as the query weight.  Empty when the doc is missing or has
    no dictionary term.

    One job, with no doc-grain lookup in the weights (on the index that
    would scan every term bucket): tokenize the doc, count its terms,
    broadcast those few rows against the dictionary's idf and weigh them
    with the build's own ``bm25_weight_expr`` over the corpus ``avgdl``.
    The cut ranks on round(weight, 9): raw doubles can differ in the last
    ulps between engines, and a flip at the LIMIT boundary would swap a
    query term; rounded ties fall to the term order everywhere."""
    _need_text(src, "more_like_this")
    toks = tokenize(F.col("text"), src.config.analyzer)
    tf = (
        src.docs.where(source)
        .select("text")
        .limit(1)
        .select(F.explode(toks).alias("term"), F.size(toks).alias("_dl"))
        .groupBy("term")
        .agg(F.count("*").cast("int").alias("tf"), F.first("_dl").alias("_dl"))
    )
    rows = (
        src.dictionary()
        .select("term", "idf")
        .join(F.broadcast(tf), "term")
        .select(
            "term",
            bm25_weight_expr(
                F.col("tf"), F.col("_dl"), src.avgdl, F.col("idf"), src.config.bm25
            ).alias("w"),
        )
        .orderBy(F.desc(F.round("w", 9)), F.asc("term"))
        .limit(query_terms)
        .collect()
    )
    return [(r["term"], float(r["w"])) for r in rows]


# ---------------------------------------------------------------- snippets
def snippets(
    src: ScoringSource,
    hits: DataFrame,
    terms: list[tuple[str, float]],
    top_k: int,
    before: int,
    width: int,
    order_key: str,
) -> DataFrame:
    """KWIC highlighting for ranked ``hits``: ``pos`` is the earliest
    1-based character position of any query term in the text (cased as
    the analyzer cases its tokens, so every hit has one: tokens are
    substrings of the text they were cut from), ``snippet`` the
    ``width``-char window starting ``before`` chars earlier.  Runs on the
    k result rows only; their text is joined in unless ``hits`` carries
    it.  Ordered (score DESC, ``order_key`` ASC)."""
    _need_text(src, "search_snippets")
    k = src.key
    if "text" not in hits.columns:
        hits = hits.join(src.docs.select(k, "text"), k)
    if terms:
        hay = F.lower(F.col("text")) if src.config.analyzer.lowercase else F.col("text")
        sentinel = 1 << 30
        cands = [F.coalesce(F.nullif(F.instr(hay, t), F.lit(0)), F.lit(sentinel)) for t, _ in terms]
        # F.least requires >=2 columns — a one-term query indexes directly
        pos_raw = cands[0] if len(cands) == 1 else F.least(*cands)
        # never surface the internal sentinel (a pre-analyzed term list may
        # hold terms that are no substring of the text)
        pos = F.when(pos_raw < sentinel, pos_raw.cast("int"))
        snippet = F.when(
            F.col("pos").isNotNull(),
            F.expr(f"substring(text, greatest(pos - {before}, 1), {width})"),
        )
    else:
        pos, snippet = F.lit(None).cast("int"), F.lit(None).cast("string")
    keep = [c for c in hits.columns if c != "text"]
    return (
        hits.withColumn("pos", pos)
        .withColumn("snippet", snippet)
        .select(*keep, "pos", "snippet")
        .orderBy(F.desc("score"), F.asc(order_key))
        .limit(top_k)
    )
