"""Read path: BM25 top-k search over the inverted index.

Restates the reference's query lifecycle (SURVEY.md §3.1) Spark-first:

  reference                                  this engine
  ---------                                  -----------
  encode + sparsify query                    analyze_query: tokenize + qweights
  normalize (dedup max, sort)                dedup keeping max qweight
  shard list as physical plan                term-bucket partition pruning
  per-shard scan-score-heap (ALL docs)       postings ⨝ broadcast(query terms)
                                             → groupBy(doc).sum  (only docs
                                             sharing ≥1 term are ever touched)
  heapq.nlargest merge                       orderBy(desc score).limit(k)
                                             = TakeOrderedAndProject (partial
                                             per-partition top-k + driver merge
                                             — the same topology, built in)

Scale notes: a weighted query's table is broadcast (a query has dozens
of terms) and a unit-weight query needs none; tombstones are a broadcast
anti-join *before* the limit; the docs join for metadata/text happens
*after* the k-row cut, which is broadcast against a scan of the docs
table.  Tie-break is pinned to (score DESC, doc_id ASC) — the reference
leaves tie order arbitrary (``src/splade_easy/retriever.py:122,202``), so
the parity harness compares tie groups as sets (SURVEY.md §7).

Per-call job shape (a warm searcher, no tombstones): the tables read on
every call (``postings``, ``term_stats``, ``deleted``) are read with the
schema pinned at open, so no footer-inference job runs, while their
files are still listed afresh on each call (see ``_postings``); the docs
join ends in sort+limit, a TakeOrderedAndProject over at most k rows
rather than a sampled range sort; and each call has one top-k
(``_top_hits``), which also computes ``search_snippets``' columns and
drops ``more_like_this``'s source doc.  ``search`` is then three jobs on
the SQL path (scoring map stage, top-k, docs join) and three on the WAND
path (postings exchange, kernel top-k, docs join), cosine included.  A
unit-weight query (an analyzed string, a prefix or regex expansion)
scores Σ weight, bit-identical to Σ weight·1.0, so it has no query table;
a weighted list (fuzzy boosts, more-like-this, caller vectors) adds the
broadcast of a ``LocalRelation`` query table (``session.local_frame``, a
JVM-only job).  Plans are built from SQL text (``F.expr``,
``selectExpr``, ``where(str)``): a ``search`` plan takes about 70 py4j
commands, where ``F.col`` alone costs 13 and each analyzed DataFrame step
a few milliseconds.

The SQL path of ``search``/``search_many`` and every full-text verb
(phrase, boolean, query string, fuzzy, prefix, regex, near, facets,
more-like-this, snippets, suggest) is the shared body in ``query.verbs``,
run over this index as a scoring source (``_IndexSource``); ``adhoc``
runs the same bodies over a raw corpus.  What stays here is what only an
index has: the WAND fast path over packed postings (one branch,
``_wand_scores``, shared by ``search`` and ``search_many``), tombstones
and the snapshot bound, and the finishing step that cuts on ``doc_int``
and joins the docs columns (``_top_hits``, ``_ranked_many``).  No
vocabulary is kept on the driver: a query's terms reach the postings scan
as given, and an out-of-vocabulary term selects no block.

Opening a searcher runs the format gate (``Manifest.require_current``) and
reads the recorded layout (segment width, term buckets, cosine stream,
term_id seed) and the snapshot watermark from the manifest once; no
search call inspects a table's columns to find out which layout it is
reading.
"""

from __future__ import annotations

import zlib
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from splade_easy_spark.config import IndexConfig
from splade_easy_spark.functions.predicates import case_weight, in_list, in_sql, sql_literal
from splade_easy_spark.index.catalog import IndexCatalog
from splade_easy_spark.query import verbs
from splade_easy_spark.query.verbs import analyze_query
from splade_easy_spark.session import local_frame

def _check_method(method: str) -> None:
    if method not in ("sql", "wand"):
        raise ValueError(f"unknown search method {method!r}: use 'sql' or 'wand'")


class _IndexSource:
    """The index as a scoring source (``verbs.ScoringSource``): weights
    from the snapshot-bounded ``doc_terms``, the dictionary from
    ``term_stats``, ``avgdl`` as of open."""

    key = "doc_int"

    def __init__(self, searcher: "Searcher"):
        self._s = searcher
        self.config = searcher.config
        self.docs = searcher.docs
        self.avgdl = float(searcher.stats["avgdl"] or 1.0)

    @property
    def dead(self) -> DataFrame | None:
        return self._s._deleted()

    def weights(self, terms: list[str], norm: bool = False) -> DataFrame:
        """Bucket- and term-pruned doc_terms scan: driver-side crc32
        bucket computation (same hash as term_bucket_expr, no Spark job)
        prunes partitions on ``tb``, and the term IN-filter prunes row
        groups (``builder._doc_terms_layout`` sorts every file by term)."""
        buckets = sorted(
            {zlib.crc32(t.encode()) % self.config.term_buckets for t in terms}
        )
        dt = self._s.doc_terms.where(f"{in_sql('tb', buckets)} AND {in_sql('term', terms)}")
        return dt.selectExpr("doc_int", "term", "weight", *(["norm"] if norm else []))

    def dictionary(self) -> DataFrame:
        return self._s._read("term_stats")


class Searcher:
    """Read-only view over an index directory, as of open.  Every call
    scans the parquet tables and the searcher caches none of them (a
    caller that wants one in memory can ``persist()`` its own frame).
    """

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        config: IndexConfig | None = None,
    ):
        self.spark = spark
        self.cat = IndexCatalog(index_dir, config)
        # a crash inside optimize_postings' per-partition swap leaves a
        # `seg=N__old` dir that breaks Hive partition inference for every
        # query on the table — heal (rename-only, one listdir per table,
        # no-op in the common case) before opening any table
        from splade_easy_spark.index.maintenance import heal_interrupted_swaps

        #: partition dirs this open restored or removed (usually empty)
        self.healed: list[str] = heal_interrupted_swaps(index_dir)
        man = self.cat.manifest
        man.require_current()
        #: per-call tables' schemas, pinned at their first read (see _read)
        self._schemas: dict[str, StructType] = {}
        # SNAPSHOT BOUND: this searcher serves the index as of open.
        # doc_ints are assigned densely from the manifest's next_doc_int
        # watermark, so every doc_int ≥ the watermark at open belongs to a
        # batch that was not yet acknowledged then: a crashed append's
        # orphans (pending_append journal present — next_doc_int still
        # points at the journaled lo), an append in flight RIGHT NOW, or
        # one that starts after open (whose files a same-session reader
        # could otherwise pick up mid-write via refreshByPath relisting).
        # A pushed `doc_int < watermark` predicate on every read path
        # excludes all three uniformly — no writes, no repair race with a
        # healthy writer, works on read-only replicas.  The writer's own
        # _repair_pending remains the sole healer.
        self._snapshot_max = int(man.data["next_doc_int"])
        # the caller's analyzer and BM25 settings over the layout recorded
        # at build: doc segment width, term buckets, whether the cosine
        # stream is packed, and the seed of the postings term_id hash
        self.config = man.layout_config(self.cat.config)
        self.term_id_seed = self.config.term_id_seed
        man_identity = man.data.get("identity", {})
        ours = self.cat.config.identity()
        if man_identity and man_identity.get("analyzer_hash") != ours["analyzer_hash"]:
            raise ValueError(
                f"analyzer mismatch: index built with {man_identity.get('analyzer_hash')}, "
                f"query configured {ours['analyzer_hash']}"
            )
        self.stats = self.cat.corpus_stats(spark)
        self.doc_terms = self.cat.read(spark, "doc_terms")
        self.docs = self.cat.read(spark, "docs")
        # one consistent as-of-open view for ALL read paths (search, point
        # get, doc_vector): un-acknowledged rows never score, never occupy
        # a top-k slot, never surface in lookups
        self.doc_terms = self.doc_terms.where(F.col("doc_int") < self._snapshot_max)
        self.docs = self.docs.where(F.col("doc_int") < self._snapshot_max)
        for name in ("postings", "term_stats"):
            if Path(self.cat.table_dir(name)).exists():
                self._read(name)
        # the docs side of every single-query result (``_top_hits``):
        # transcript-mode docs carry (conv_id..ts), vector-mode docs carry
        # (metadata) — project whatever exists (reference SearchResult
        # shape: doc_id, score, metadata, text?, retriever.py:20-25)
        meta = [c for c in ("conv_id", "turn_idx", "role", "tool", "ts", "metadata")
                if c in self.docs.columns]
        text = ["text"] if "text" in self.docs.columns else []
        self._hit_cols = {False: ["doc_id", "score", *meta], True: ["doc_id", "score", *meta, *text]}
        self._hit_docs = {
            False: self.docs.select("doc_int", "doc_id", *meta),
            True: self.docs.select("doc_int", "doc_id", *meta, *text),
        }
        #: a ``build_vector_index`` index: caller-supplied weights, no idf
        self._vector = man_identity.get("mode") == "vector"
        #: this index as the scoring source of the shared verbs
        self.source = _IndexSource(self)

    # ------------------------------------------------------------------
    def _read(self, name: str) -> DataFrame:
        """A table read on every call, with its schema pinned.

        The first read infers the schema (a Spark job over a parquet
        footer): at open for ``postings`` and ``term_stats``, at the first
        delete for ``deleted``.  Later reads pass the pinned schema, so
        they start no job but still list the table's files afresh."""
        if name not in self._schemas:
            df = self.cat.read(self.spark, name)
            self._schemas[name] = df.schema
            return df
        return self.cat.read(self.spark, name, self._schemas[name])

    def _deleted(self) -> DataFrame | None:
        return self._read("deleted") if self.cat.has_deleted() else None

    def _postings(self) -> DataFrame:
        # the snapshot bound at block grain, ROW-EXACT overall: drop blocks
        # whose every doc is post-watermark (`doc_min >= W` — fresh append
        # runs always open past the previous max, so an in-flight/crashed
        # batch's runs are excluded here, pushed to parquet row-group
        # stats), keep every block containing ANY pre-watermark doc, and
        # let the kernel mask `doc_int >= W` after decode for blocks that
        # SPAN the watermark.  Spanning blocks are legal: a concurrent
        # optimize_postings merges the tail segment's runs — including
        # runs appended after this reader opened — into blocks with
        # doc_min < W <= doc_max, and `_postings()` relists files per
        # search, so a long-lived reader does see them (round-4 used
        # `doc_max < W` here and silently dropped those blocks' committed
        # pre-snapshot postings; round-5 ADVICE high).
        return self._read("postings").where(f"doc_min < {self._snapshot_max}")

    def _top_hits(
        self,
        scores: DataFrame,
        top_k: int,
        return_text: bool = False,
        extra: list[str] = (),
        drop_doc: str | None = None,
    ) -> DataFrame:
        """The ``top_k`` best (doc_int, score) rows with their docs columns,
        then ``extra`` (SQL projections over them and ``text``).

        Both ends are sort+limit, so both plan as TakeOrderedAndProject:
        the cut before the docs join, and the final (score DESC, doc_id
        ASC) order of the joined rows.  A bare ``orderBy`` there would plan
        a range-partition sampling job plus a shuffle.  The join itself
        scans the whole docs table (pruned to the projected columns) with
        the k cut rows as its broadcast side.  ``drop_doc`` (a doc_id)
        cuts one row more and drops that doc after the join."""
        cut = top_k + (drop_doc is not None)
        hits = verbs.top(scores, "doc_int", cut).join(
            self._hit_docs[return_text or bool(extra)], "doc_int"
        )
        if drop_doc is not None:
            hits = hits.where(f"doc_id <> {sql_literal(drop_doc)}")
        return (
            hits.selectExpr(*self._hit_cols[return_text], *extra)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(top_k)
        )

    def _no_hits(self, return_text: bool = False, extra: list[str] = ()) -> DataFrame:
        """An empty result with the search result columns."""
        empty = local_frame(self.spark, [], "doc_int LONG, score DOUBLE")
        return self._top_hits(empty, 0, return_text, extra)

    def _ranked_many(self, scores: DataFrame, top_k: int) -> DataFrame:
        """The batch tail shared by every ``search_many`` path: the
        ``top_k`` best (query_id, doc_int, score) rows per query
        (``verbs.rank_many``), joined to their docs columns (conv_id and
        turn_idx on a transcript index, metadata on a vector index) and
        sorted by (query_id, rank).  The final sort runs in one task over
        at most Q·k rows: a global ``orderBy`` would plan a range-partition
        sampling job for them."""
        meta = [c for c in ("conv_id", "turn_idx", "metadata") if c in self.docs.columns]
        return (
            verbs.rank_many(scores, "doc_int", top_k)
            .join(self.docs.select("doc_int", "doc_id", *meta), "doc_int")
            .select("query_id", "rank", "doc_id", "score", *meta)
            .repartition(1)
            .sortWithinPartitions("query_id", "rank")
        )

    def _terms(self, query: str | list[tuple[str, float]]) -> list[tuple[str, float]]:
        """A query string's analyzed terms, or a pre-analyzed (term,
        qweight) list through ``verbs.dedup_max``, so that the SQL path
        (which sums over the list) and WAND (which maps term to weight)
        score the same query."""
        if isinstance(query, str):
            return analyze_query(query, self.config)
        return verbs.dedup_max(query)

    def _scores(
        self,
        terms: list[tuple[str, float]],
        top_k: int,
        use_cosine: bool,
        method: str,
        doc_filter: Column | None,
    ) -> DataFrame | None:
        """(doc_int, score) of the OR query ``terms`` on the chosen path:
        every scored doc on SQL, each segment's ``top_k`` on WAND; None
        when nothing can match."""
        _check_method(method)
        if not terms:
            return None
        if use_cosine and not self.config.pack_cosine:
            method = "sql"  # no normalized weight stream: cosine via SQL
        if method == "sql":
            return verbs.search(self.source, terms, use_cosine, doc_filter)
        scores = self._wand_scores({"": terms}, top_k, use_cosine, doc_filter)
        return None if scores is None else scores.selectExpr("doc_int", "score")

    # ------------------------------------------------------------------
    def search(
        self,
        query: str | list[tuple[str, float]],
        top_k: int = 10,
        use_cosine: bool = False,
        return_text: bool = False,
        method: str = "sql",
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Top-k search.  ``use_cosine=False`` is BM25 (dot) — the parity
        mode vs the reference's ``compute_splade_score(use_cosine=False)``.

        ``method='sql'``: postings join + hash agg (Catalyst end to end,
        ``verbs.search``).  ``method='wand'``: packed-postings MaxScore
        kernel — identical results, pruned physical work (see
        query/wand.py).  Cosine mode runs the same kernel over the
        normalized weight stream packed at build time (an index built with
        ``pack_cosine=False`` answers cosine through the SQL path).  A warm
        call is three Spark jobs on either path, cosine included, plus the
        query-table broadcast for a weighted list on SQL (see the module
        docstring).  A pre-analyzed list keeps each repeated term once, at
        its max qweight (``_terms``).

        ``doc_filter``: filtered retrieval — a predicate over the stored
        doc columns (conv_id, turn_idx, role, tool, ts, doc_len) that
        restricts the CANDIDATE set while idf stays full-corpus (Lucene
        filter semantics: the filter narrows what may be returned, never
        what the corpus is).  On the SQL path it is a doc-grain semi-join
        between the scored candidates and the pushed-down filtered docs
        scan — right-sized for BROAD filters.  On the WAND path the
        allowed doc_ints reach the kernel as mask rows, masked BEFORE the
        pruning threshold (see wand._tombstone_blocks); the mask grows
        with |allowed|, so this is the path for SELECTIVE filters.
        """
        scores = self._scores(self._terms(query), top_k, use_cosine, method, doc_filter)
        if scores is None:
            return self._no_hits(return_text)
        return self._top_hits(scores, top_k, return_text)

    def search_many(
        self,
        queries: list[dict],
        top_k: int = 10,
        use_cosine: bool = False,
        method: str = "sql",
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Batch evaluation of many queries in one plan (the bulk path
        the reference lacks entirely): explode all query terms, join
        postings once, window top-k per query_id.  A warm call runs a
        handful of Spark jobs (5 on the WAND path, cosine included, and 6
        on SQL: the scoring stages, the window, the docs join and a
        one-task final sort, plus the query-table broadcast on SQL), one
        Python stage at most (the WAND kernel, the same driver as
        ``search``'s), and a number of py4j round trips that does not grow
        with the batch's terms (``functions.in_list``).  Each query is
        analyzed once.

        ``queries``: [{"query_id": ..., "text": ...}, ...]
        Returns (query_id, rank, doc_id, score, conv_id, turn_idx).

        ``doc_filter`` as in :func:`search`, one semi-join (SQL) or one
        set of mask rows (WAND) for the whole batch.
        """
        _check_method(method)
        analyzed = [(q["query_id"], analyze_query(q["text"], self.config)) for q in queries]
        rows = [(qid, term, qw) for qid, ts in analyzed for term, qw in ts]
        if not rows:
            return self._ranked_many(verbs.search_many(self.source, rows), top_k)
        if use_cosine and not self.config.pack_cosine:
            method = "sql"  # no normalized weight stream: cosine via SQL
        if method == "sql":
            scores = verbs.search_many(self.source, rows, use_cosine, doc_filter)
        else:
            qt = {k: v for k, v in analyzed if v}
            scores = self._wand_scores(qt, top_k, use_cosine, doc_filter)
        return self._ranked_many(scores, top_k)

    def _wand_scores(
        self,
        queries: dict[str, list[tuple[str, float]]],
        top_k: int,
        use_cosine: bool,
        doc_filter: Column | None,
    ) -> DataFrame | None:
        """The WAND branch of ``search`` and ``search_many``: (query_id,
        doc_int, score) per-segment top-k candidates of the one WAND
        driver, or None when no query is left to scan.

        Every query term is scanned as given: an out-of-vocabulary term
        has no postings, so its ``term_id`` selects no block and the
        kernel never scores it.  Cosine scores are divided by the norm of
        the full query, as on the SQL path (OOV terms count in ‖q‖ though
        never in the dot); queries whose norm is 0 match nothing and are
        dropped first."""
        from splade_easy_spark.query.wand import wand_search_many_scores

        if use_cosine:
            qnorms = {q: sum(w * w for _, w in ts) ** 0.5 for q, ts in queries.items()}
            queries = {q: ts for q, ts in queries.items() if qnorms[q] > 0.0}
        if not queries:
            return None
        allowed = None if doc_filter is None else self.docs.where(doc_filter).select("doc_int")
        scores = wand_search_many_scores(
            self.spark, self._postings(), queries, self.config.segment_docs, top_k,
            self._deleted(), use_cosine, term_id_seed=self.term_id_seed,
            snapshot_max=self._snapshot_max, allowed=allowed,
        )
        if use_cosine:
            # kernel scores are Σ qw·(w/‖d‖): divide the monotone query-norm
            # factor out so values equal the SQL path's
            qn = case_weight("query_id", {q: qnorms[q] for q in queries})
            scores = scores.select("query_id", "doc_int", (F.col("score") / qn).alias("score"))
        return scores

    # ------------------------------------------------------------------
    # the full-text verbs: each is its ``verbs`` body over this index's
    # source, finished by ``_top_hits`` (or run through ``search``, so an
    # expansion composes with both query paths and ``doc_filter``)
    def phrase_search(
        self,
        phrase: str,
        top_k: int = 10,
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Exact phrase search over the index, no positional postings
        (``verbs.phrase_search``): docs containing ALL distinct phrase
        terms, verified by re-tokenizing only those docs' text.  Ranked by
        BM25 over the phrase's distinct terms, desc score / asc doc_id."""
        return self._top_hits(verbs.phrase_search(self.source, phrase, doc_filter), top_k)

    def boolean_search(
        self,
        must: list[str] | None = None,
        should: list[str] | None = None,
        must_not: list[str] | None = None,
        top_k: int = 10,
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Lucene BooleanQuery over the index (``verbs.boolean_search``):
        a hit contains EVERY ``must`` term, gains score from ``should``
        terms, and is excluded by ANY ``must_not`` term.  Score = Σ weight
        over the doc's (must ∪ should) terms.  One bucket-pruned doc_terms
        scan and one aggregate serve all three clauses."""
        scores = verbs.boolean_search(self.source, must, should, must_not, doc_filter)
        return self._top_hits(scores, top_k)

    def fuzzy_search(
        self,
        query_term: str,
        max_dist: int = 2,
        top_k: int = 10,
        max_expansions: int = 50,
        use_cosine: bool = False,
        method: str = "sql",
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Lucene FuzzyQuery over the index: expand to dictionary terms
        within ``max_dist`` edits (``verbs.fuzzy_terms``: closest first,
        then df desc / term asc, capped), then a regular OR search with
        the closeness boost ``1 − dist/max(|q|,|term|)`` as the query
        weight — composing with both query paths and ``doc_filter``."""
        terms = verbs.fuzzy_terms(self.source, query_term, max_dist, max_expansions)
        return self.search(
            terms, top_k=top_k, use_cosine=use_cosine, method=method, doc_filter=doc_filter
        )

    def query(
        self,
        qs: str,
        top_k: int = 10,
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Execute a Lucene-style query string (see ``query.parser`` for
        the grammar: quoted phrases, +must, -must_not, field:value
        filters, fuzzy~N, prefix*) as ONE plan (``verbs.query``): one
        bucket-pruned doc_terms scan scores every clause's terms,
        field filters land on the pushed docs scan with full-corpus idf,
        and phrase constraints verify token sequences on candidate rows
        only."""
        return self._top_hits(verbs.query(self.source, qs, doc_filter), top_k)

    def suggest_terms(self, prefix: str, n: int = 10) -> DataFrame:
        """(term, df) — autocomplete off the index's term dictionary
        (``verbs.suggest_terms``): the prefix predicate is pushed to the
        sorted term_stats scan, ranked df desc / term asc via
        TakeOrderedAndProject (no dictionary collect)."""
        return verbs.suggest_terms(self.source, prefix, n)

    def prefix_search(
        self,
        prefix: str,
        top_k: int = 10,
        max_expansions: int = 64,
        use_cosine: bool = False,
        method: str = "sql",
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Lucene PrefixQuery over the index: expand the prefix to at most
        ``max_expansions`` dictionary terms (``verbs.prefix_terms``, one
        tiny bounded job), then a regular OR search with unit weights —
        composing with BOTH query paths (WAND pruning included) and with
        ``doc_filter``."""
        terms = verbs.prefix_terms(self.source, prefix, max_expansions)
        return self.search(
            terms, top_k=top_k, use_cosine=use_cosine, method=method, doc_filter=doc_filter
        )

    def near_search(
        self,
        term_a: str,
        term_b: str,
        slop: int = 5,
        top_k: int = 10,
        ordered: bool = False,
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Lucene SpanNearQuery over the index (``verbs.near_search``):
        docs where the two terms occur within ``slop`` token positions
        (``ordered=True`` requires a before b), ranked by BM25 over the
        pair; only candidate docs' text is re-tokenized."""
        scores = verbs.near_search(self.source, term_a, term_b, slop, ordered, doc_filter)
        return self._top_hits(scores, top_k)

    def regex_search(
        self,
        pattern: str,
        top_k: int = 10,
        max_expansions: int = 64,
        use_cosine: bool = False,
        method: str = "sql",
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Lucene RegexpQuery over the index: anchored full-term pattern
        expanded against the term dictionary (``verbs.regex_terms``: df
        desc / term asc, capped), then a regular OR search with unit
        weights."""
        terms = verbs.regex_terms(self.source, pattern, max_expansions)
        return self.search(
            terms, top_k=top_k, use_cosine=use_cosine, method=method, doc_filter=doc_filter
        )

    def facet_counts(
        self,
        query: str | list[tuple[str, float]],
        facet_col: str,
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """(facet, n_docs) — Lucene/Solr-style faceting
        (``verbs.facet_counts``): matching-doc counts (score > 0,
        tombstones excluded) per value of a stored doc column, desc count
        / asc facet."""
        return verbs.facet_counts(self.source, self._terms(query), facet_col, doc_filter)

    def more_like_this(
        self,
        doc_id: str,
        query_terms: int = 10,
        top_k: int = 10,
        use_cosine: bool = False,
        method: str = "sql",
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Lucene-style More-Like-This: seed a search from the source
        doc's top ``query_terms`` BM25-weighted terms (desc weight, asc
        term), query weight = source weight, source doc excluded.

        The source vector is one driver-synchronous collect
        (``verbs.more_like_this_terms``), never a doc-grain lookup in
        doc_terms (which would scan every term bucket); ``avgdl`` is the
        searcher's as-of-open value, so no per-call corpus_stats job.  The
        search's one top-k cuts ``top_k + 1`` rows and drops the source
        doc after the docs join (``_top_hits``)."""
        source = F.expr(f"doc_id = {sql_literal(doc_id)}")
        terms = verbs.more_like_this_terms(self.source, source, query_terms)
        if not terms:
            # empty expansion: either the doc is missing (KeyError) or it
            # has no in-vocabulary terms (empty result) — disambiguate on
            # the rare path only
            if self.docs.where(source).limit(1).count() == 0:
                raise KeyError(f"doc_id not in index: {doc_id!r}")
            return self._no_hits()
        # the cut takes one row more: the source doc is typically the top
        # hit, and is dropped after the docs join
        scores = self._scores(self._terms(terms), top_k + 1, use_cosine, method, doc_filter)
        if scores is None:
            return self._no_hits()
        return self._top_hits(scores, top_k, drop_doc=doc_id)

    def search_snippets(
        self,
        query: str | list[tuple[str, float]],
        top_k: int = 10,
        before: int = 30,
        width: int = 80,
        use_cosine: bool = False,
        method: str = "sql",
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """(doc_id, score, …, pos, snippet) — KWIC highlighting over the
        index: the regular top-k search plus, per hit, the earliest
        1-based character position of any query term in its text and a
        ``width``-char window starting ``before`` chars earlier
        (``verbs.snippet_columns``, computed in the top-k's final
        projection, on the k result rows only)."""
        terms = self._terms(query)
        snippet = verbs.snippet_columns(self.source, terms, before, width)
        scores = self._scores(terms, top_k, use_cosine, method, doc_filter)
        if scores is None:
            return self._no_hits(extra=snippet)
        return self._top_hits(scores, top_k, extra=snippet)

    def get(self, doc_id: str, load_text: bool = True) -> dict | None:
        """Point lookup.  The reference scans every shard until hit
        (``src/splade_easy/retriever.py:204-213``); here the doc_id
        predicate pushes down to the parquet scan.
        """
        cols = ["doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "doc_len", "doc_int"]
        if load_text:
            cols.append("text")
        out = self.docs.where(F.col("doc_id") == doc_id).select(*cols)
        deleted = self._deleted()
        if deleted is not None:
            # ONE Spark job per lookup: the tombstone check rides the fetch
            # plan as a broadcast left_anti (mirrors get_batch) instead of a
            # separate existence-count job — the pushed doc_id predicate on
            # the tombstone scan keeps the broadcast side a handful of rows
            out = out.join(
                F.broadcast(
                    deleted.where(F.col("doc_id") == doc_id).select("doc_id")
                ),
                "doc_id",
                "left_anti",
            )
        rows = out.limit(1).collect()
        return rows[0].asDict() if rows else None

    def get_batch(self, doc_ids: list[str], load_text: bool = True) -> DataFrame:
        cols = ["doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "doc_len"]
        if load_text:
            cols.append("text")
        out = self.docs.where(in_list("doc_id", doc_ids)).select(*cols)
        deleted = self._deleted()
        if deleted is not None:
            out = out.join(F.broadcast(deleted.select("doc_id")), "doc_id", "left_anti")
        return out

    def doc_vector(self, doc_id: str) -> list[tuple[str, float]]:
        """A document's BM25 sparse vector (term, weight), sorted by term —
        the analog of the reference returning token_ids/weights from
        ``get`` (``src/splade_easy/retriever.py:204-219``)."""
        rows = (
            self.doc_terms.join(
                F.broadcast(self.docs.where(F.col("doc_id") == doc_id).select("doc_int")),
                "doc_int",
            )
            .select("term", "weight")
            .collect()
        )
        return sorted((r["term"], r["weight"]) for r in rows)
