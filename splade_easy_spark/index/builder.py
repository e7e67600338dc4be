"""Index build pipeline: transcripts → docs / term_stats / doc_terms /
packed postings / corpus_stats, committed stage-by-stage through the
manifest for resumability.

Replaces the reference's per-document serial encode+append write path
(``src/splade_easy/index.py:133-205``, ``ingest/datasets.py:72-82`` — the
acknowledged bottleneck) with three bulk Spark jobs:

  stage docs:     tokenize (JVM regexp, map-side) + deterministic doc_int
                  assignment (one hash-bucket shuffle) → docs table; corpus
                  aggregates observed on the write job
  stage stats:    map-side per-doc tf (JVM tokenize + Arrow pandas count
                  kernel — NO token-grain shuffle) → term DF aggregation
                  (the single term-keyed shuffle) → term_stats + corpus_stats;
                  hot-term threshold observed on the write job
  stage postings: tf rows ⨝ term_stats (broadcast when small) → BM25
                  weights → ``_write_weighted``: one materialized doc-norm
                  agg, then ``_write_tables``: the hot-term-salted
                  tb-bucketed doc_terms write and the seg-partitioned
                  streaming mapInArrow block pack, run concurrently

The build, ``append.refresh_stats``, both appenders and the vector build
write new weights through ``_write_weighted``, so every row's norm follows
one rule.  This module alone decides how doc_terms and postings lie on
disk: every write of either table ends in ``_doc_terms_layout`` (by
``tb``, rows sorted by ``(term, doc_int)`` in each file) and
``_postings_layout`` (by ``seg``, sorted by ``(term_id, block_id)``) —
through ``_write_tables`` for ``_write_weighted``, ``compact`` and
``reshard``, directly for ``migrate_postings`` and ``optimize_postings``.

Shuffle budget at scale: one doc-id shuffle, one term-stats agg, one
doc-keyed norms agg (materialized once, read by both writes), and per
write one doc-keyed exchange for the norms join plus one layout exchange
((tb, hot-term salt) for doc_terms, (seg, term) for the pack).
Everything else is map-side, and the tokenize+tf kernel runs once per
build (its output is cached from the stats stage through the postings
stage).
Driver-synchronous actions are minimized (they are the Amdahl serial term
in N→4N scaling): corpus stats and the hot-term threshold ride existing
writes as observed metrics instead of separate agg actions, n_docs/n_terms
come from parquet footers, and the doc-int assigner needs no
range-sampling pass.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from splade_easy_spark.config import IndexConfig
from splade_easy_spark.functions.bm25 import bm25_weight_expr, idf_expr
from splade_easy_spark.functions.text import doc_id_expr, term_tf_frame, tokenize
from splade_easy_spark.index.catalog import IndexCatalog, term_bucket_expr
from splade_easy_spark.index.docids import assign_doc_ints
from splade_easy_spark.index.manifest import FORMAT_VERSION
from splade_easy_spark.session import local_frame

#: packed postings block schema.  The term key is a 60-bit content hash
#: (``catalog.term_id_py``) rather than the term string: a block row is a
#: ~block_size-posting run, and carrying the string per row cost parquet
#: dictionary pages, seg-exchange bytes, Arrow-hop bytes and a Python
#: object per row in every pandas groupby along the query path.  The
#: reference's wire format stores uint32 token ids for the same reason
#: (``src/splade_easy/schema.fbs:14``).  doc_terms (the SQL path's table)
#: keeps real term strings — the id is internal to the WAND layout.
POSTINGS_SCHEMA = (
    "seg LONG, term_id LONG, block_id INT, n INT, doc_min LONG, "
    "doc_max LONG, max_weight DOUBLE, docs BINARY, wts BINARY, "
    "max_nweight DOUBLE, nwts BINARY"
)


@dataclass
class BuildResult:
    index_dir: str
    n_docs: int
    n_terms: int
    avgdl: float
    elapsed_sec: float
    stages_run: list[str]
    stages_skipped: list[str]


def _term_tf(docs: DataFrame, config: IndexConfig) -> DataFrame:
    """(doc_int, doc_len, term, tf) — JVM tokenize + Arrow-batched pandas
    count kernel, fully map-side (no token-grain shuffle); see
    functions.text.term_tf_frame for the measured rationale."""
    return term_tf_frame(docs, ["doc_int", "doc_len"], "text", config.analyzer)


def _turn_rows(transcripts: DataFrame) -> DataFrame:
    """Transcript turns as docs-table rows (without ``doc_len`` and
    ``doc_int``) — the build's docs stage and the text append share it."""
    return transcripts.select(
        doc_id_expr().alias("doc_id"),
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
    )


def _stage_docs(spark: SparkSession, transcripts: DataFrame, cat: IndexCatalog) -> dict:
    cfg = cat.config
    base = _turn_rows(transcripts)
    # doc_len AFTER the id exchange so tokenize() runs once, downstream of
    # the shuffle.  Corpus aggregates (n_docs, total_tokens) ride the write
    # job as observed metrics — the stats stage then needs NO separate
    # full-scan agg action (each driver-synchronous job is a fixed serial
    # term in the N→4N scaling efficiency).
    from pyspark.sql import Observation

    obs = Observation()
    docs = (
        assign_doc_ints(base, "doc_id", cfg.build_partitions)
        .withColumn("doc_len", F.size(tokenize(F.col("text"), cfg.analyzer)))
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_len").alias("total_tokens"),
        )
    )
    cat.write(docs, "docs")
    got = obs.get
    return {
        "rows": int(got["n_docs"]),
        "total_tokens": int(got["total_tokens"] or 0),
    }


def _corpus_aggregates(spark: SparkSession, cat: IndexCatalog) -> tuple[int, float, int]:
    """(n_docs, avgdl, total_tokens) — free from the docs-stage observed
    metrics when they are current; one column-pruned agg job otherwise
    (older index, or the docs table grew via appends since the build)."""
    dm = cat.manifest.data.get("stages", {}).get("docs", {}).get("metrics", {})
    n_physical = cat.table_rows("docs")  # parquet footers, no job
    if dm.get("total_tokens") is not None and dm.get("rows") == n_physical:
        n_docs, total = int(dm["rows"]), int(dm["total_tokens"])
        return n_docs, (total / n_docs if n_docs else 0.0), total
    agg = (
        cat.read(spark, "docs")
        .agg(
            F.count("*").alias("n_docs"),
            F.avg("doc_len").alias("avgdl"),
            F.sum("doc_len").alias("total_tokens"),
        )
        .collect()[0]
    )
    return int(agg["n_docs"]), float(agg["avgdl"] or 0.0), int(agg["total_tokens"] or 0)


def _write_corpus_stats(
    spark: SparkSession, cat: IndexCatalog, n_docs: int, avgdl: float, total_tokens: int,
    n_terms: int,
) -> None:
    """Write the one-row ``corpus_stats`` table.  The row is a
    ``session.local_frame``: ``createDataFrame(list)`` would make it a
    pickled Python RDD, whose write starts Python workers."""
    row = (n_docs, avgdl, total_tokens, n_terms)
    schema = "n_docs LONG, avgdl DOUBLE, total_tokens LONG, n_terms LONG"
    cat.write(local_frame(spark, [row], schema), "corpus_stats")


def _stage_stats(spark: SparkSession, cat: IndexCatalog, ctx: dict | None = None) -> dict:
    cfg = cat.config
    docs = cat.read(spark, "docs")
    n_docs, avgdl, total_tokens = _corpus_aggregates(spark, cat)
    term_tf = _term_tf(docs, cfg)
    if ctx is not None:
        # one tokenize+tf pass serves both stats and postings stages
        from pyspark import StorageLevel

        term_tf = term_tf.persist(StorageLevel.MEMORY_AND_DISK)
        ctx["term_tf"] = term_tf
    # DF per term (term_tf is one row per (doc, term), so count(*) == df)
    # plus max tf — used later for a per-term score upper bound.
    tstats = term_tf.groupBy("term").agg(
        F.count("*").alias("df"), F.max("tf").alias("max_tf")
    )
    from splade_easy_spark.index.catalog import term_id_expr

    tstats = (
        tstats.withColumn("idf", idf_expr(F.col("df"), n_docs))
        .withColumn("tb", term_bucket_expr(F.col("term"), cfg.term_buckets))
        # the packed postings' 60-bit key (catalog.term_id_py); carried in
        # term_stats so the collision gate below and append-time checks can
        # verify id uniqueness without recomputing the vocabulary
        .withColumn("term_id", term_id_expr(F.col("term"), cfg.term_id_seed))
    )
    # hot-term df threshold (Zipfian head detection for the salted postings
    # exchange) observed on the SAME write job — replaces round 1's separate
    # approxQuantile driver action in the postings stage
    from pyspark.sql import Observation

    obs = Observation()
    tstats = tstats.observe(
        obs,
        F.percentile_approx("df", cfg.hot_term_df_quantile, 10_000).alias("thr"),
    )
    cat.write(tstats, "term_stats")
    hot_thr = float(obs.get["thr"] or 1.0)
    _assert_no_term_id_collisions(cat.read(spark, "term_stats"), cfg.term_id_seed)
    n_terms = cat.table_rows("term_stats")  # footers, no job
    _write_corpus_stats(spark, cat, n_docs, avgdl, total_tokens, n_terms)
    return {
        "n_docs": n_docs,
        "avgdl": avgdl,
        "n_terms": n_terms,
        "hot_df_threshold": hot_thr,
    }


def _assert_no_term_id_collisions(tstats: DataFrame, seed: int) -> None:
    """Exact uniqueness gate for the 60-bit postings term ids: a collision
    would merge two terms' posting lists under one key and silently
    mis-score both, so the engine refuses to exist in that state.  Cost is
    one vocabulary-sized aggregation (O(n_terms), never O(corpus)) per
    build/refresh; probability of ever firing is ~n²/2^61 (≈1e-5 at 5M
    terms).  The remedy — a different ``term_id_seed`` — rehashes every id.
    """
    dup = (
        tstats.groupBy("term_id")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") > 1)
        .limit(5)
        .collect()
    )
    if dup:
        ids = [int(r["term_id"]) for r in dup]
        terms = [
            r["term"]
            for r in tstats.where(F.col("term_id").isin(ids)).select("term").collect()
        ]
        raise ValueError(
            f"term_id collision (seed={seed}) between terms {terms!r}: "
            f"rebuild with a different IndexConfig.term_id_seed"
        )


def _group_starts(rb) -> "object":
    """int ndarray of row indices (>= 1) that start a new (seg, term) group
    — a row starts a group iff its ``term_first`` is non-null (the JVM lag
    window upstream nulls the term except on each group's first row)."""
    import numpy as np
    import pyarrow.compute as pc

    valid = pc.is_valid(rb.column("term_first")).to_numpy(zero_copy_only=False)
    return np.flatnonzero(valid[1:]) + 1


def _pack_batch(
    rb, block_size: int, segment_docs: int, pack_cosine: bool, term_id_seed: int, schema
):
    """Pack an Arrow batch of (term_first, doc_int, weight[, nweight]) rows
    SORTED by (seg, term, doc_int) into block records.  The batch carries
    neither a ``seg`` column (derived in-kernel from ``doc_int``) nor a
    per-row term string: ``term_first`` holds the term only on each group's
    first row and is null elsewhere, so the posting-grain Arrow hop ships
    ~4 bytes/row of string offsets instead of a full string per posting —
    the hop's bytes were the measured cap on build scaling (round 2).
    Term strings materialize once per GROUP (``.as_py()``), never per row,
    and so does the emitted key, the 60-bit content hash
    (``catalog.term_id_py``).
    With ``pack_cosine``, ``nweight`` = weight/‖doc‖ rides along so cosine
    scoring is the same dot-product kernel over the normalized stream (its
    block max is the cosine block-max bound); otherwise the nwts columns
    are written empty and cosine stays available through the SQL path.
    ``schema`` is ``POSTINGS_SCHEMA`` as Arrow, derived on the driver
    (executors have no session to parse DDL with)."""
    import numpy as np
    import pyarrow as pa

    from splade_easy_spark.index.catalog import term_id_py
    from splade_easy_spark.index.postings import varbyte_encode_with_sizes

    term_col = rb.column("term_first")
    doc = rb.column("doc_int").to_numpy(zero_copy_only=False).astype(np.int64)
    wt = rb.column("weight").to_numpy(zero_copy_only=False).astype(np.float64)
    nwt = (
        rb.column("nweight").to_numpy(zero_copy_only=False).astype(np.float64)
        if pack_cosine
        else None
    )
    change = _group_starts(rb)
    gstarts = np.concatenate(([0], change))
    gends = np.concatenate((change, [rb.num_rows]))

    # one term materialization per GROUP (never per row or per block)
    tvals = [term_id_py(term_col[int(s)].as_py(), term_id_seed) for s in gstarts]

    # block tiling of the batch: every group [s, e) splits at s, s+bs, …;
    # consecutive block starts tile the whole batch, so every per-block
    # statistic below is a reduceat / gather over the full arrays — the
    # round-5 per-block loop (argsort + diff + encode per ≤128-posting
    # block, ~64k blocks per build) was the postings stage's Python floor.
    nblk = (gends - gstarts + block_size - 1) // block_size
    bstarts = np.concatenate(
        [np.arange(s, e, block_size, dtype=np.int64) for s, e in zip(gstarts, gends)]
    )
    bends = np.minimum(bstarts + block_size, np.repeat(gends, nblk))
    block_id = np.concatenate([np.arange(k, dtype=np.int64) for k in nblk])

    # delta stream with an absolute value at each block start, encoded ONCE
    deltas = np.empty(len(doc), dtype=np.uint64)
    deltas[0] = doc[0]
    if len(doc) > 1:
        deltas[1:] = (doc[1:] - doc[:-1]).astype(np.uint64)
    deltas[bstarts] = doc[bstarts].astype(np.uint64)
    enc, nbytes = varbyte_encode_with_sizes(deltas)
    enc_b = enc.tobytes()
    byte_off = np.zeros(len(doc) + 1, dtype=np.int64)
    np.cumsum(nbytes, out=byte_off[1:])

    w32 = wt.astype(np.float32).tobytes()
    maxw = np.maximum.reduceat(wt, bstarts)
    segs = np.repeat(doc[gstarts] // segment_docs, nblk)
    if nwt is not None:
        max_nw = np.maximum.reduceat(nwt, bstarts)
        n32 = nwt.astype(np.float32).tobytes()
        nwts = [n32[4 * s : 4 * e] for s, e in zip(bstarts, bends)]
    else:
        max_nw = np.zeros(len(bstarts), dtype=np.float64)
        nwts = [b""] * len(bstarts)
    arrays = [
        pa.array(segs),
        pa.array(np.repeat(np.asarray(tvals, dtype=np.int64), nblk)),
        pa.array(block_id.astype(np.int32)),
        pa.array((bends - bstarts).astype(np.int32)),
        pa.array(doc[bstarts]),
        pa.array(doc[bends - 1]),
        pa.array(maxw),
        pa.array([enc_b[byte_off[s] : byte_off[e]] for s, e in zip(bstarts, bends)]),
        pa.array([w32[4 * s : 4 * e] for s, e in zip(bstarts, bends)]),
        pa.array(max_nw),
        pa.array(nwts),
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def pack_doc_terms(
    dt: DataFrame,
    segment_docs: int,
    block_size: int,
    pack_cosine: bool = True,
    term_ids: bool = True,
    term_id_seed: int = 0,
) -> DataFrame:
    """doc_terms → packed posting blocks via a STREAMING ``mapInArrow``
    packer: rows are seg-colocated and (seg, term, doc_int)-sorted by the
    lag window's own exchange+sort; the kernel splits each Arrow batch at
    group boundaries and carries the trailing partial group into the next
    batch.

    Replaces ``groupBy(seg, term).applyInPandas``: at 10^6 turns that is
    ~310k pandas groups whose per-group machinery dominated the postings
    stage (measured 179s → the pack itself is ~100µs/group); the streaming
    packer pays per-batch, not per-group.  Arrow (not pandas) because the
    input is posting-grain: converting 60M term strings to Python objects
    per build was a measured bandwidth term; here they stay columnar.

    The Arrow hop's INPUT is slimmed to the bytes the kernel actually
    needs (round-2 scaling verdict: the pack hop's bytes, not its plan
    shape, capped build efficiency):

    * ``term`` ships only on each group's first row (``term_first``,
      computed by a JVM ``lag`` window over the same (seg → term, doc_int)
      sort the packer needs anyway — no extra exchange, no extra sort);
    * ``seg`` is not shipped at all (derived in-kernel from ``doc_int``);
    * ``nweight`` ships only when ``pack_cosine`` is on.

    ``term_ids`` stays in the signature for callers that pass
    ``term_id_seed`` positionally; postings keyed by the term string are a
    retired layout (``maintenance.migrate_postings``), so it must be True.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType
    from pyspark.sql.window import Window

    if not term_ids:
        raise ValueError("string-keyed postings are a retired layout: term_ids must be True")
    schema = to_arrow_schema(StructType.fromDDL(POSTINGS_SCHEMA))

    cols = [
        (F.col("doc_int") / F.lit(segment_docs)).cast("long").alias("seg"),
        F.col("term"),
        F.col("doc_int"),
        F.col("weight"),
    ]
    if pack_cosine:
        cols.append(
            F.when(F.col("norm") > 0, F.col("weight") / F.col("norm"))
            .otherwise(F.lit(0.0))
            .alias("nweight")
        )
    # the window's required clustering is satisfied by the explicit
    # repartition; its sort spec (seg, term, doc_int) IS the packer's input
    # order — one exchange + one sort total.  Partitioning is (seg, term),
    # NOT seg alone: a packing group is a (seg, term) posting run, so the
    # exchange only needs group-grain colocation, and seg-only partitioning
    # caps pack parallelism at the segment count (6 tasks on a 98k-doc
    # corpus with 2^14-doc segments — measured as the postings stage's
    # straggler) while (seg, term) spreads the same groups over every core
    # with a tighter per-partition skew bound.
    w = Window.partitionBy("seg", "term").orderBy("doc_int")
    slim = (
        dt.select(*cols)
        .repartition(F.col("seg"), F.col("term"))
        .withColumn(
            "term_first",
            F.when(F.lag("term").over(w) == F.col("term"), F.lit(None).cast("string"))
            .otherwise(F.col("term")),
        )
        .select(
            ["term_first", "doc_int", "weight"] + (["nweight"] if pack_cosine else [])
        )
    )

    def packer(batches):
        carry: pa.RecordBatch | None = None
        for rb in batches:
            if carry is not None and carry.num_rows:
                rb = pa.Table.from_batches([carry, rb]).combine_chunks().to_batches()[0]
            if rb.num_rows == 0:
                continue
            idx = _group_starts(rb)
            if len(idx) == 0:
                carry = rb  # whole batch is one (possibly continuing) group
                continue
            last_start = int(idx[-1])
            complete, carry = rb.slice(0, last_start), rb.slice(last_start)
            yield _pack_batch(
                complete, block_size, segment_docs, pack_cosine, term_id_seed, schema
            )
        if carry is not None and carry.num_rows:
            yield _pack_batch(carry, block_size, segment_docs, pack_cosine, term_id_seed, schema)

    return slim.mapInArrow(packer, schema=POSTINGS_SCHEMA)


def pack_for(dt: DataFrame, cfg: IndexConfig) -> DataFrame:
    """``pack_doc_terms`` with ``cfg``'s layout (writers pass the recorded
    one, ``Manifest.layout_config``)."""
    return pack_doc_terms(
        dt, cfg.segment_docs, cfg.block_size,
        pack_cosine=cfg.pack_cosine, term_id_seed=cfg.term_id_seed,
    )


def _doc_terms_layout(dt: DataFrame, parts: int, salt: Column | None = None) -> DataFrame:
    """``doc_terms`` as it lies on disk: ``parts`` tasks hashed on ``(tb,
    salt)``, the five table columns, each task sorted by ``(tb, term,
    doc_int)``, so every file is term-sorted and ``term IN (...)`` prunes
    row groups by min/max statistics.  The sort must lead with the
    ``partitionBy`` column: Spark's planned write
    (``spark.sql.optimizer.plannedWrite.enabled``, on by default) silently
    replaces a sort that does not by its own ``Sort [tb]``."""
    return (
        dt.repartition(parts, F.col("tb"), F.lit(0) if salt is None else salt)
        .select("tb", "term", "doc_int", "weight", "norm")
        .sortWithinPartitions("tb", "term", "doc_int")
    )


def _postings_layout(packed: DataFrame) -> DataFrame:
    """``postings`` as it lies on disk: each task's blocks sorted by
    ``(seg, term_id, block_id)`` (``seg`` first: see ``_doc_terms_layout``)."""
    return packed.sortWithinPartitions("seg", "term_id", "block_id")


def _write_tables(
    cat: IndexCatalog,
    rows: DataFrame,
    names: tuple[str, str],
    parts: int,
    cfg: IndexConfig,
    hot: DataFrame | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``(term, doc_int, weight, norm)`` rows as the tables ``names``
    = (doc_terms, postings), concurrently so each job's tasks back-fill
    the slots the other's straggler tails free (guide §2.6).
    ``_write_weighted`` writes the live tables; ``compact`` and ``reshard``
    stage ``<t>__rewrite`` from the stored rows and norms.  doc_terms is
    partitioned by term bucket ``tb`` (query-time partition pruning) in
    ``parts`` tasks; ``hot`` (the build's Zipfian-head ``term`` frame)
    salts them by ``pmod(doc_int, hot_term_salt)`` so a head term is not
    one task.  postings is ``pack_for`` with ``cfg``'s layout, partitioned
    by document segment ``seg = doc_int // segment_docs`` (the reference's
    shard fan-out, ``src/splade_easy/retriever.py:105-122``): a
    per-segment kernel scores exactly and only top-k rows cross the
    network."""
    from concurrent.futures import ThreadPoolExecutor

    dt = rows.withColumn("tb", term_bucket_expr(F.col("term"), cfg.term_buckets))
    salt = None
    if hot is not None:
        dt = dt.join(F.broadcast(hot.select("term", F.lit(1).alias("_hot"))), "term", "left")
        salt = F.when(
            F.col("_hot") == 1, F.pmod(F.col("doc_int"), F.lit(cfg.hot_term_salt))
        ).otherwise(F.lit(0))
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(cat.write, _doc_terms_layout(dt, parts, salt), names[0], ["tb"], mode),
            pool.submit(cat.write, _postings_layout(pack_for(rows, cfg)), names[1], ["seg"], mode),
        ]
        for f in futs:
            f.result()


def _write_weighted(
    cat: IndexCatalog,
    weighted: DataFrame,
    hot: DataFrame | None = None,
    append: bool = False,
) -> None:
    """The one writer of new weights into ``doc_terms`` and ``postings``:
    the build, ``refresh_stats``, ``build_vector_index`` and both
    appenders hand it a ``(term, doc_int, weight)`` frame.

    The doc norm (L2 of the doc's weight vector) is computed here and
    nowhere else: one doc-grain ``groupBy`` agg, materialized once before
    the writes and released after them, so ``doc_terms.norm`` and the
    packed cosine stream (``nwts`` = weight / norm) read the same value
    bit for bit.  The agg is cheap (rows are doc-contiguous, so the partial
    agg emits one row per doc per partition and the exchange ships
    doc-grain rows only).  On a build the join back is hinted
    SHUFFLE_HASH: a sort-merge join would sort the postings-grain frame
    for nothing.  An append's norms are batch-sized and materialized, so
    the planner is left to broadcast them (with the hint every append
    paid a doc-keyed exchange of its postings).  A
    zero-shuffle Arrow norm kernel was measured as a loss (the full frame
    through Python IPC, 23 s over 62M rows at 8 cores, more than the
    exchange it saved).

    ``_write_tables`` lays the rows out.  A build writes
    ``build_partitions`` doc_terms tasks over fresh tables; an ``append``
    adds batch-sized files (at most 8 tasks) to the live tables."""
    from pyspark import StorageLevel

    cfg = cat.config
    norms = weighted.groupBy("doc_int").agg(
        F.sqrt(F.sum(F.col("weight") * F.col("weight"))).alias("norm")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    norms.count()
    rows = weighted.join(norms if append else norms.hint("SHUFFLE_HASH"), "doc_int")
    parts = min(cfg.build_partitions, 8) if append else cfg.build_partitions
    try:
        _write_tables(
            cat, rows, ("doc_terms", "postings"), parts, cfg, hot,
            "append" if append else "overwrite",
        )
    finally:
        norms.unpersist()


def _stage_postings(spark: SparkSession, cat: IndexCatalog, ctx: dict | None = None) -> dict:
    """BM25-weight every (doc, term) and write ``doc_terms`` + ``postings``
    through ``_write_weighted``.  ``tf`` is NOT kept: weight folds it in
    and no query or maintenance path reads it.

    One tokenize+tf pass per build: the stats stage hands its cached
    ``term_tf`` over in ``ctx``; a resumed build that skipped that stage
    caches its own here, so the norms agg and both writes read one cache.
    ``weighted`` itself is deliberately NOT persisted: each consumer
    re-derives it from the term_tf cache with one broadcast join and a
    codegen'd weight expression, cheaper than a second postings-grain
    cache (round-6 A/B: dropping the weighted persist took the full build
    27.8 → 21.7 s)."""
    from pyspark import StorageLevel

    cfg = cat.config
    tstats = cat.read(spark, "term_stats")
    stats = cat.corpus_stats(spark)
    avgdl = stats["avgdl"] or 1.0

    term_tf = (ctx or {}).pop("term_tf", None)
    if term_tf is None:
        term_tf = _term_tf(cat.read(spark, "docs"), cfg).persist(StorageLevel.MEMORY_AND_DISK)

    # Hot-term df threshold: observed during the stats stage's term_stats
    # write (Zipfian head — roles/tool names by construction); the hot set
    # is tiny by construction (top (1-quantile) of terms by df)
    df_threshold = cat.manifest.data["stages"]["stats"]["metrics"]["hot_df_threshold"]
    hot = tstats.where(F.col("df") >= F.lit(df_threshold)).select("term")
    tstats_sel = tstats.select("term", "idf")
    small_vocab = stats["n_terms"] < 2_000_000
    tstats_b = F.broadcast(tstats_sel) if small_vocab else tstats_sel
    weighted = term_tf.join(tstats_b, "term").select(
        "term",
        "doc_int",
        bm25_weight_expr(
            F.col("tf"), F.col("doc_len"), float(avgdl), F.col("idf"), cfg.bm25
        ).alias("weight"),
    )
    try:
        _write_weighted(cat, weighted, hot)
    finally:
        term_tf.unpersist()

    n_postings = cat.table_rows("doc_terms")
    n_blocks = cat.table_rows("postings")
    return {
        "n_postings": n_postings,
        "n_blocks": n_blocks,
        "hot_df_threshold": float(df_threshold),
        "segment_docs": cfg.segment_docs,
    }


_STAGES = {
    "docs": _stage_docs,
    "stats": _stage_stats,
    "postings": _stage_postings,
}
_STAGE_TABLES = {
    "docs": {"docs": "docs"},
    "stats": {"term_stats": "term_stats", "corpus_stats": "corpus_stats"},
    "postings": {"doc_terms": "doc_terms", "postings": "postings"},
}


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    config: IndexConfig | None = None,
    resume: bool = False,
) -> BuildResult:
    """Build (or resume) the full index at ``index_dir``.

    With ``resume=True``, stages already committed in the manifest with
    intact files are skipped — the restart-from-checkpoint contract (the
    reference's analog is reopening an append-only index,
    ``src/splade_easy/ingest/datasets.py:63-68``; ours is stronger: partial
    work is either committed-and-valid or invisible).
    """
    cat = IndexCatalog(index_dir, config or IndexConfig())
    man = cat.manifest
    if resume and man.path.exists():
        from splade_easy_spark.index.maintenance import writer_prologue

        writer_prologue(spark, cat)
    else:
        # a full build rewrites every table in the current format
        man.data["format_version"] = FORMAT_VERSION
    man.set_identity(cat.config.identity())
    t0 = time.time()
    run, skipped = [], []
    ctx: dict = {}
    for stage, fn in _STAGES.items():
        if resume and man.stage_complete(stage) and all(
            man.verify_table(t) for t in _STAGE_TABLES[stage]
        ):
            skipped.append(stage)
            continue
        s0 = time.time()
        if stage == "docs":
            metrics = fn(spark, transcripts, cat)
        else:
            metrics = fn(spark, cat, ctx)
        metrics["elapsed_sec"] = round(time.time() - s0, 3)
        man.record_stage(stage, {t: t for t in _STAGE_TABLES[stage]}, metrics)
        run.append(stage)
    man.stamp_current(cat.config)
    stats = cat.corpus_stats(spark)
    # appends continue after the densely-assigned build ids (0..n_docs-1);
    # when the docs stage was skipped (resume), keep the appended watermark
    if "docs" in run:
        man.data["next_doc_int"] = int(stats["n_docs"])
    else:
        man.data.setdefault("next_doc_int", int(stats["n_docs"]))
    man.save()
    return BuildResult(
        index_dir=str(index_dir),
        n_docs=int(stats["n_docs"]),
        n_terms=int(stats["n_terms"]),
        avgdl=float(stats["avgdl"] or 0.0),
        elapsed_sec=round(time.time() - t0, 3),
        stages_run=run,
        stages_skipped=skipped,
    )
