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

Scale notes: the query side is always broadcast (a query has dozens of
terms); tombstones are a broadcast anti-join *before* the limit; the docs
table join for metadata/text happens *after* the limit, on k rows only.
Tie-break is pinned to (score DESC, doc_id ASC) — the reference leaves tie
order arbitrary (``src/splade_easy/retriever.py:122,202``), so the parity
harness compares tie groups as sets (SURVEY.md §7).

Per-call job shape (a warm searcher, no tombstones): the query table is
a ``LocalRelation`` built through Arrow (``session.local_frame``), so its
broadcast is a small JVM-only job with no Python worker; the tables read
on every call (``postings``, ``term_stats``, ``deleted``) are read with
the schema pinned at open, so no footer-inference job runs, while their
files are still listed afresh on each call (see ``_postings``); and the
docs join ends in sort+limit, a TakeOrderedAndProject over at most k
rows rather than a sampled range sort.  ``search`` is then four jobs on
the SQL path (query broadcast, scoring map stage, top-k, docs join) and
three on the WAND path (postings exchange, kernel top-k, docs join); a
cosine query's norm is a literal in the plan, no query table.

The SQL path of ``search``/``search_many`` and every full-text verb
(phrase, boolean, query string, fuzzy, prefix, regex, near, facets,
more-like-this, snippets, suggest) is the shared body in ``query.verbs``,
run over this index as a scoring source (``_IndexSource``); ``adhoc``
runs the same bodies over a raw corpus.  What stays here is what only an
index has: the WAND fast path over packed postings (one branch,
``_wand_scores``, shared by ``search`` and ``search_many``), tombstones
and the snapshot bound, and the finishing step that cuts on ``doc_int``
and joins the docs columns (``_top_hits``, ``_ranked_many``).

Opening a searcher runs the format gate (``Manifest.require_current``) and
reads the recorded layout (segment width, term buckets, cosine stream,
term_id seed) and the snapshot watermark from the manifest once; no
search call inspects a table's columns to find out which layout it is
reading.
"""

from __future__ import annotations

import math
import zlib
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from splade_easy_spark.config import IndexConfig
from splade_easy_spark.functions.predicates import case_weight, in_list
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
        dt = self._s.doc_terms.where(in_list("tb", buckets) & in_list("term", terms))
        return dt.select("doc_int", "term", "weight", *(["norm"] if norm else []))

    def dictionary(self) -> DataFrame:
        return self._s._read("term_stats")


class Searcher:
    """Read-only view over an index directory.

    ``mode='disk'`` streams parquet per query; ``mode='memory'`` persists
    the snapshot-bounded ``doc_terms`` and ``docs`` tables (the reference's
    two retriever modes, ``src/splade_easy/retriever.py:31-67``).  Nothing
    unpersists them, and Spark's cache manager also serves a later
    disk-mode reader's plans over the same files from them.
    """

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        config: IndexConfig | None = None,
        mode: str = "disk",
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
        self.mode = mode
        #: driver-side {term: global doc-weight upper bound}; "unset" until
        #: the first batch search materializes it (see ``_term_bounds``)
        self._tb_cache: dict[str, float] | str | None = "unset"
        if mode == "memory":
            self.doc_terms = self.doc_terms.persist()
            self.docs = self.docs.persist()
            self.doc_terms.count()
            self.docs.count()
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
        return self._read("postings").where(F.col("doc_min") < self._snapshot_max)

    #: skip the driver-side vocabulary map past this many distinct terms —
    #: at web scale term_stats can hold 10^8+ rows and a driver collect of
    #: it would be the exact anti-pattern this repo bans; below it the map
    #: is a one-time vocab-sized collect amortized over the searcher's life
    TERM_BOUNDS_MAX_VOCAB = 5_000_000

    def _term_bounds(self) -> dict[str, float] | None:
        """Driver-side ``{term: global BM25 doc-weight upper bound}`` from
        ``term_stats`` (round-4 VERDICT #5).

        The bound is exact from recorded stats: the BM25 tf component
        ``tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))`` increases in ``tf`` and
        decreases in ``dl``, so ``idf · max_tf·(k1+1)/(max_tf + k1·(1−b))``
        (dl→0) dominates every packed weight of the term.  Used for (a) the
        EXACT out-of-vocabulary drop — a query term with no ``term_stats``
        row has no postings anywhere (append registers new vocabulary,
        ``append.py:348``), so removing it from the pushed IN-list changes
        no result — and (b) the opt-in approximate tail cut in
        ``search_many``.  Orphan registrations from a crashed append and
        terms whose postings are all post-snapshot stay in the map: keeping
        a term is always exact, pruning is what needs proof.

        On a vector index every registered term gets an unknown (``inf``)
        bound: its weights are caller-supplied, and an append registers
        only batch-new terms, so the recorded ``max_weight`` is not raised
        when a batch brings a heavier weight for a known term.  The OOV drop
        stays exact and ``prune_below`` never cuts a vector term.

        Returns ``None`` (pruning disabled, behavior unchanged) when the
        vocabulary exceeds ``TERM_BOUNDS_MAX_VOCAB`` — the footer-based row
        count costs no Spark job.
        """
        if self._tb_cache != "unset":
            return self._tb_cache  # type: ignore[return-value]
        if self.cat.table_rows("term_stats") > self.TERM_BOUNDS_MAX_VOCAB:
            self._tb_cache = None
            return None
        if self._vector:
            ub = F.lit(None).cast("double")
        else:
            p = self.config.bm25
            # append registers batch-new terms with max_tf=NULL, and migrate
            # adds a NULL max_tf to older stats: the tf→∞ limit k1+1 is
            # always an upper bound, so a NULL row falls back to it
            mtf = F.col("max_tf").cast("double")
            comp = F.coalesce(
                mtf * (p.k1 + 1.0) / (mtf + p.k1 * (1.0 - p.b)), F.lit(p.k1 + 1.0)
            )
            ub = F.col("idf") * comp
        rows = self._read("term_stats").select("term", ub.alias("ub")).collect()
        # a null bound must KEEP the term (keeping is always exact)
        self._tb_cache = {
            r["term"]: (float("inf") if r["ub"] is None else float(r["ub"]))
            for r in rows
        }
        return self._tb_cache

    def _top_hits(
        self, scores: DataFrame, top_k: int, return_text: bool = False
    ) -> DataFrame:
        """The ``top_k`` best (doc_int, score) rows with their docs columns.

        Both ends are sort+limit, so both plan as TakeOrderedAndProject:
        the cut before the docs join, and the final (score DESC, doc_id
        ASC) order over at most k joined rows.  A bare ``orderBy`` there
        would plan a range-partition sampling job plus a shuffle."""
        # transcript-mode docs carry (conv_id..ts); vector-mode docs carry
        # (metadata) — project whatever exists (reference SearchResult shape:
        # doc_id, score, metadata, text?, retriever.py:20-25)
        available = set(self.docs.columns)
        cols = ["doc_id", "score"] + [
            c for c in ["conv_id", "turn_idx", "role", "tool", "ts", "metadata"] if c in available
        ]
        if return_text and "text" in available:
            cols.append("text")
        return (
            verbs.top(scores, "doc_int", top_k)
            .join(self.docs, "doc_int")
            .select(*cols)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(top_k)
        )

    def _no_hits(self, return_text: bool = False) -> DataFrame:
        """An empty result with the search result columns."""
        empty = local_frame(self.spark, [], "doc_int LONG, score DOUBLE")
        return self._top_hits(empty, 0, return_text)

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
        return analyze_query(query, self.config) if isinstance(query, str) else query

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
        ``verbs.search``).  ``method='wand'``: packed-postings block-max
        kernel — identical results, pruned physical work (see
        query/wand.py).  Cosine mode runs the same kernel over the
        normalized weight stream packed at build time (an index built with
        ``pack_cosine=False`` answers cosine through the SQL path).  A warm
        call is four Spark jobs on the SQL path and three on the WAND path,
        cosine included (see the module docstring).

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
        _check_method(method)
        terms = self._terms(query)
        if not terms:
            return self._no_hits(return_text)
        if use_cosine and not self.config.pack_cosine:
            method = "sql"  # no normalized weight stream: cosine via SQL
        if method == "sql":
            scores = verbs.search(self.source, terms, use_cosine, doc_filter)
            return self._top_hits(scores, top_k, return_text)
        # the exact OOV drop uses the vocabulary map only once a batch call
        # has paid for it: one short IN-list is not worth a vocab collect
        bounds = self._tb_cache if isinstance(self._tb_cache, dict) else None
        scores = self._wand_scores({"": terms}, top_k, use_cosine, doc_filter, bounds)
        if scores is None:
            return self._no_hits(return_text)
        return self._top_hits(scores.select("doc_int", "score"), top_k, return_text)

    def search_many(
        self,
        queries: list[dict],
        top_k: int = 10,
        use_cosine: bool = False,
        method: str = "sql",
        prune_below: float = 0.0,
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

        Term pruning (round-4 VERDICT #5): batch calls load a driver-side
        per-term global weight bound once (``_term_bounds``) and always
        apply the EXACT out-of-vocabulary drop — query terms with no
        ``term_stats`` row have no postings, so the pushed IN-list and the
        shipped postings shrink with zero result change and zero extra jobs
        per batch.  ``prune_below > 0`` additionally drops, per query, the
        terms whose bound falls under ``prune_below × (that query's best
        term bound)`` — **APPROXIMATE**: a dropped in-vocabulary term's
        contribution to matching docs is simply lost (scores shrink by at
        most the dropped bounds' sum; ranks near ties can flip), the
        standard quality/cost knob for SPLADE-style expansion queries whose
        tail terms carry weights orders of magnitude below the head.  A
        driver-side drop can never be exact for in-vocab terms — any doc
        in the true top-k may contain one, and with its postings never
        shipped the kernel's repair pass has nothing to repair with — so
        exactness-preserving cuts live in the kernel (MaxScore + repair)
        and this knob defaults off.  Pruning applies to ``method='wand'``
        only; ``method='sql'`` stays the untouched oracle path.  On a
        vector index every bound is unknown (see ``_term_bounds``), so
        only the OOV drop applies there.

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
            return self._ranked_many(scores, top_k)
        qt = {k: v for k, v in dict(analyzed).items() if v}
        scores = self._wand_scores(
            qt, top_k, use_cosine, doc_filter, self._term_bounds(), prune_below
        )
        if scores is None:
            return self._ranked_many(verbs.search_many(self.source, []), top_k)
        return self._ranked_many(scores, top_k)

    def _wand_scores(
        self,
        queries: dict[str, list[tuple[str, float]]],
        top_k: int,
        use_cosine: bool,
        doc_filter: Column | None,
        bounds: dict[str, float] | None,
        prune_below: float = 0.0,
    ) -> DataFrame | None:
        """The WAND branch of ``search`` and ``search_many``: (query_id,
        doc_int, score) per-segment top-k candidates of the one WAND
        driver, or None when no query has a term left to scan.

        With ``bounds`` (``_term_bounds``) each query drops its
        out-of-vocabulary terms, which is exact: a term absent from
        ``term_stats`` has no postings.  ``prune_below`` is the
        approximate tail cut of ``search_many``.  Cosine scores are
        divided by the norm of the FULL analyzed query, as on the SQL path
        (OOV terms count in ‖q‖ though never in the dot); queries whose
        norm is 0 match nothing and are dropped first."""
        from splade_easy_spark.query.wand import wand_search_many_scores

        if use_cosine:
            qnorms = {q: sum(w * w for _, w in ts) ** 0.5 for q, ts in queries.items()}
            queries = {q: ts for q, ts in queries.items() if qnorms[q] > 0.0}
        scan: dict[str, list[tuple[str, float]]] = {}
        for qid, ts in queries.items():
            kept = ts if bounds is None else [(t, w) for t, w in ts if t in bounds]
            if kept and bounds is not None and prune_below > 0.0:
                # per-query relative cut on qweight·global-bound (in cosine
                # mode the BM25 bounds order terms heuristically).  Terms
                # with an unknown (inf) bound never set the threshold and
                # are never cut: one NULL-stat term must not make thr=inf
                finite = [w * bounds[t] for t, w in kept if math.isfinite(bounds[t])]
                if finite:
                    thr = prune_below * max(finite)
                    kept = [
                        (t, w)
                        for t, w in kept
                        if not math.isfinite(bounds[t]) or w * bounds[t] >= thr
                    ]
            if kept:
                scan[qid] = kept
        if not scan:
            return None
        allowed = None if doc_filter is None else self.docs.where(doc_filter).select("doc_int")
        scores = wand_search_many_scores(
            self.spark, self._postings(), scan, self.config.segment_docs, top_k,
            self._deleted(), use_cosine, term_id_seed=self.term_id_seed,
            snapshot_max=self._snapshot_max, allowed=allowed,
        )
        if use_cosine:
            # kernel scores are Σ qw·(w/‖d‖): divide the monotone query-norm
            # factor out so values equal the SQL path's
            qn = case_weight("query_id", {q: qnorms[q] for q in scan})
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

        The source vector is one driver-synchronous job
        (``verbs.more_like_this_terms``), never a doc-grain lookup in
        doc_terms (which would scan every term bucket); ``avgdl`` is the
        searcher's as-of-open value, so no per-call corpus_stats job."""
        terms = verbs.more_like_this_terms(self.source, F.col("doc_id") == doc_id, query_terms)
        if not terms:
            # empty expansion: either the doc is missing (KeyError) or it
            # has no in-vocabulary terms (empty result) — disambiguate on
            # the rare path only
            if self.docs.where(F.col("doc_id") == doc_id).limit(1).count() == 0:
                raise KeyError(f"doc_id not in index: {doc_id!r}")
            return self._no_hits()
        # overfetch by one: the source doc itself is typically the top hit
        out = self.search(
            terms, top_k=top_k + 1, use_cosine=use_cosine, method=method,
            doc_filter=doc_filter,
        )
        return (
            out.where(F.col("doc_id") != doc_id)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(top_k)
        )

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
        (``verbs.snippets``, on the k result rows only)."""
        hits = self.search(
            query, top_k=top_k, use_cosine=use_cosine, return_text=True,
            method=method, doc_filter=doc_filter,
        )
        return verbs.snippets(
            self.source, hits, self._terms(query), top_k, before, width, "doc_id"
        )

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
