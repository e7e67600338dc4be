"""Per-layer metrics for a traced run (``--trace 1``).

Every layer is measured from outside, through the package's public
functions, on the run's own index and inputs.  Each traced run reports
every metric, whichever workload it ran: after the loop, one unit of the
other workload's loop runs on the same index (checked like the loop's
own), and append and maintenance run on a small side index (on the run's
own index the write path took about 90 s: ``optimize_postings`` rewrites
each fragmented seg partition in turn).

Spark figures come from :mod:`tracing`: ``spark.<kind>.*`` is the mean
per call of one kind of call (``build`` is the set-up build, ``append``
the side-index append, ``verbs`` every full-text verb).
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

import workloads as wl
from tracing import FIELDS, summarize
from splade_easy_spark.index import Manifest, build_index
from splade_easy_spark.index.append import append_documents
from splade_easy_spark.index.builder import pack_doc_terms
from splade_easy_spark.index.docids import assign_doc_ints
from splade_easy_spark.index.maintenance import delete, optimize_postings
from splade_easy_spark.index.postings import pack_postings, unpack_block
from splade_easy_spark.query import Searcher, analyze_query
from splade_easy_spark.query import wand

#: call kinds with their own ``spark.<kind>.*`` figures
KINDS = ("build", "append", "batch_wand", "batch_filtered", "batch_sql", "adhoc",
         "search_sql", "search_wand", "verbs")

UNITS = {
    **{f"spark.{g}.{k}": u for g in KINDS for k, (_, u) in FIELDS.items()},
    "builder.stage_docs_s": "s",
    "builder.stage_stats_s": "s",
    "builder.stage_postings_s": "s",
    "builder.pack_rows_per_s": "1/s",
    "docids.assign_s": "s",
    "postings.bytes_per_posting": "bytes",
    "postings.encode_ns_per_posting": "ns",
    "postings.decode_ns_per_posting": "ns",
    "append.s_per_batch": "s",
    "append.files_added": "count",
    "maintenance.optimize_s": "s",
    "maintenance.files_removed": "count",
    "searcher.open_s": "s",
    "searcher.analyze_us_per_query": "us",
    "searcher.rank_attach_s": "s",
    "searcher.batch_rank_attach_s": "s",
    "wand.single_kernel_s": "s",
    "wand.batch_kernel_s": "s",
    "wand.block_skip_ratio": "ratio",
    "wand.batch_decode_ratio": "ratio",
    "adhoc.s_per_call": "s",
    **{f"verbs.{v}_p50_ms": "ms" for v in wl.VERB_NAMES},
    "trace.read_ms_per_call": "ms",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_s(fn, reps: int = 3) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def _parquet_files(path: str) -> int:
    return sum(n.endswith(".parquet") for _, _, names in os.walk(path) for n in names)


def builder_metrics(ctx: wl.Ctx, c: wl.Corpus) -> dict[str, float]:
    stages = Manifest(c.index_dir).data["stages"]
    m = {f"builder.stage_{s}_s": float(stages[s]["metrics"]["elapsed_sec"])
         for s in ("docs", "stats", "postings")}
    cfg = wl.CONFIG
    dt = c.searcher.cat.read(ctx.spark, "doc_terms")
    rows = dt.count()
    t = _median_s(lambda: _noop(pack_doc_terms(
        dt, cfg.segment_docs, cfg.block_size, cfg.pack_cosine, True, cfg.term_id_seed)), 2)
    m["builder.pack_rows_per_s"] = rows / t
    keys = c.tx.select(wl.doc_id_expr().alias("doc_id"))
    m["docids.assign_s"] = _median_s(
        lambda: _noop(assign_doc_ints(keys, "doc_id", cfg.build_partitions)), 2)
    return m


def postings_metrics(ctx: wl.Ctx, c: wl.Corpus) -> dict[str, float]:
    post = c.searcher.cat.read(ctx.spark, "postings")
    total = post.agg(F.sum("n")).collect()[0][0]
    size = wl.index_bytes(c.index_dir)["postings"][0]
    blocks = post.select("n", "docs", "wts").orderBy(F.rand(ctx.seed)).limit(500).collect()
    n = sum(b["n"] for b in blocks)
    t0 = time.perf_counter()
    decoded = [unpack_block(b["docs"], b["wts"], b["n"]) for b in blocks]
    dec = time.perf_counter() - t0
    t0 = time.perf_counter()
    for d, w in decoded:
        pack_postings(d, w, wl.CONFIG.block_size)
    enc = time.perf_counter() - t0
    return {
        "postings.bytes_per_posting": size / total,
        "postings.encode_ns_per_posting": enc / n * 1e9,
        "postings.decode_ns_per_posting": dec / n * 1e9,
    }


def query_metrics(ctx: wl.Ctx, c: wl.Corpus) -> dict[str, float]:
    """Searcher open and analysis; the WAND kernels alone against the
    searcher calls that wrap them (rank, tombstones, doc attach)."""
    sp, s, cfg = ctx.spark, c.searcher, wl.CONFIG
    m = {"searcher.open_s": _median_s(lambda: Searcher(sp, c.index_dir, cfg))}
    texts = [q["text"] for q in c.queries]
    t0 = time.perf_counter()
    for _ in range(10):
        for q in texts:
            analyze_query(q, cfg)
    m["searcher.analyze_us_per_query"] = (time.perf_counter() - t0) / (10 * len(texts)) * 1e6
    post = s.cat.read(sp, "postings")
    seed = s.term_id_seed
    hit = [q for q in c.queries if analyze_query(q["text"], cfg)][:3]
    qterms = {q["query_id"]: analyze_query(q["text"], cfg) for q in c.queries}
    qterms = {k: v for k, v in qterms.items() if v}
    single, kernel = [], []
    for q in hit:
        terms = analyze_query(q["text"], cfg)
        single.append(_median_s(lambda: s.search(q["text"], top_k=wl.TOP_K, method="wand").collect(), 1))
        kernel.append(_median_s(lambda: wand.wand_search_scores(
            sp, post, terms, cfg.segment_docs, wl.TOP_K, term_id_seed=seed).count(), 1))
    m["wand.single_kernel_s"] = statistics.median(kernel)
    m["searcher.rank_attach_s"] = statistics.median(a - b for a, b in zip(single, kernel))
    batch = _median_s(lambda: s.search_many(c.queries, top_k=wl.TOP_K, method="wand").collect(), 1)
    bkern = _median_s(lambda: wand.wand_search_many_scores(
        sp, post, qterms, cfg.segment_docs, wl.TOP_K, term_id_seed=seed).count(), 1)
    m["wand.batch_kernel_s"] = bkern
    m["searcher.batch_rank_attach_s"] = batch - bkern
    # block counters: the profile kernels may be retired; skip them then
    if hasattr(wand, "wand_profile"):
        prof = wand.wand_profile(sp, post, analyze_query(hit[0]["text"], cfg),
                                 cfg.segment_docs, wl.TOP_K, term_id_seed=seed).collect()
        total = sum(r["blocks_total"] for r in prof)
        m["wand.block_skip_ratio"] = 1 - sum(r["blocks_decoded"] for r in prof) / total
    if hasattr(wand, "wand_batch_profile"):
        prof = wand.wand_batch_profile(sp, post, qterms, cfg.segment_docs, wl.TOP_K,
                                       term_id_seed=seed).collect()
        total = sum(r["blocks_total"] for r in prof)
        m["wand.batch_decode_ratio"] = sum(r["blocks_decoded"] for r in prof) / total
    return m


def sweep(ctx: wl.Ctx, c: wl.Corpus) -> None:
    """One unit of the other workload's loop, so that every call kind has
    Spark figures whichever workload ran."""
    if ctx.workload == "batch":
        state = {"q": 0, "round": 0, "args": wl.verb_args(c, ctx.seed, 1)}
        wl.interactive_unit(ctx, c, state, pairs=1)
    else:
        wl.batch_unit(ctx, c, c.queries)


def spark_metrics(ctx: wl.Ctx) -> dict[str, float]:
    m = {}
    for g in KINDS:
        calls = [x for x in ctx.tracer.calls
                 if x.kind == g or (g == "verbs" and x.kind.startswith("verb."))]
        m.update(summarize(calls, f"spark.{g}"))
    return m


def verb_metrics(ctx: wl.Ctx) -> dict[str, float]:
    return {
        f"verbs.{v}_p50_ms": statistics.median(
            x.wall_s for x in ctx.samples if x.kind == f"verb.{v}") * 1000.0
        for v in wl.VERB_NAMES
    }


def write_path_metrics(ctx: wl.Ctx) -> dict[str, float]:
    """Append a batch, delete two docs, reopen and optimize on a small
    5k-term side index, with the ingest checks: tombstoned docs never come
    back, and appended docs are found after the reopen."""
    sp, cfg = ctx.spark, wl.CONFIG
    base_turns, batch_turns = ctx.size["side_turns"]
    index = os.path.join(ctx.work, "side")
    vocab = wl.VOCAB["interactive"]
    tx = wl.stage(ctx, "side_input", base_turns, ctx.seed + 1, vocab)
    # a fresh conv_id prefix, or append's dedupe would drop the batch
    batch = wl.stage(ctx, "side_append", batch_turns, ctx.seed + 2, vocab, prefix=f"s{ctx.seed}_")
    if ctx.call("side_build", lambda: build_index(sp, tx, index, cfg), timed=False) is None:
        raise RuntimeError("side index build failed")
    rows = {r["doc_id"]: r["text"] for r in wl.as_docs(tx).collect()}
    dead = sorted(rows)[3:5]
    before = _parquet_files(index)
    if ctx.call("append", lambda: append_documents(sp, index, batch, cfg), timed=False) is None:
        raise RuntimeError("append failed")
    append = ctx.tracer.calls[-1]
    files_added = _parquet_files(index) - before
    ctx.call("delete", lambda: delete(sp, index, dead), timed=False)
    s = Searcher(sp, index, cfg)
    new_id = wl.as_docs(batch).orderBy("doc_id").first()["doc_id"]
    found = ctx.call("check.appended_get", lambda: s.get(new_id), timed=False)
    ctx.check(found is not None, f"appended doc {new_id} not found after reopen")
    for t in [rows[d] for d in dead if wl.tokens(rows[d])]:
        # a doc's own text would rank it first
        hits = ctx.call("check.tombstone_search", lambda t=t: s.search(t, top_k=wl.TOP_K)
                        .collect(), timed=False)
        ctx.check(hits is not None and not {r["doc_id"] for r in hits} & set(dead),
                  "tombstoned doc returned by search")
    before = _parquet_files(index)
    t0 = time.perf_counter()
    ctx.call("optimize", lambda: optimize_postings(sp, index, cfg), timed=False)
    opt_s = time.perf_counter() - t0
    return {
        "append.s_per_batch": append.wall_s,
        "append.files_added": files_added,
        "maintenance.optimize_s": opt_s,
        "maintenance.files_removed": before - _parquet_files(index),
    }


def per_layer(ctx: wl.Ctx, c: wl.Corpus) -> dict[str, float]:
    sweep(ctx, c)
    m = verb_metrics(ctx)
    m["adhoc.s_per_call"] = statistics.median(
        x.wall_s for x in ctx.tracer.calls if x.kind == "adhoc")
    m.update(builder_metrics(ctx, c))
    m.update(postings_metrics(ctx, c))
    m.update(query_metrics(ctx, c))
    m.update(write_path_metrics(ctx))
    m.update(spark_metrics(ctx))
    m["trace.read_ms_per_call"] = ctx.tracer.read_s / len(ctx.tracer.calls) * 1000.0
    return m
