"""Benchmark harness: headline engine operations at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "extra": {...}}

Headline suite:
  build_index      — synthetic transcript corpus (~10k turns per lineitem-sf
                     unit → 100k turns at sf0.1) through the full build
                     (tokenize → stats → weighted postings, both layouts)
  search_batch50   — the reference query set in ONE batch job (decode-once
                     batch WAND kernel); search_batch_sql20 = SQL batch path
  search_single    — one cold single-query search (SQL path)
  search_wand      — same query through the packed/WAND path
  bm25_docs_topk   — ad-hoc BM25 top-k over the sf documents table
  dedup_minhash    — MinHash-LSH candidate pairs over documents
  ann_topk         — brute-force cosine top-k over embeddings
  quality_langid   — quality + language-id scan over documents
  search_batch_widevocab100 — 100-query batch over a 50k-term corpus
                     (realistic Zipf tail; decode ratio in extras)
  prep_*           — round-5 training-prep ops (pii, chunk, vocab,
                     unigram-lm, pack, sample over the same 100k-turn
                     corpus; int8 quantize over 200k synthetic
                     embeddings) — new rows in round 5, excluded from
                     cross-round like-for-like totals

Extra metrics: build turns/sec (the BASELINE.json headline), index sizes.
A default 120 s cooldown rests the box first (SPARK_GRAFT_COOLDOWN=0 to
skip): the recorded artifact must be a rested-box number (BENCH.md
§envelope drift; the round-3 artifact was hot-box-skewed).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1

    # Rest the box before measuring.  This sandbox VM throttles with load
    # HISTORY, not just concurrent load: the same pure-JVM probe measures
    # 0.59 vs 0.78–0.81 2→8 efficiency depending on what ran in the
    # preceding minutes (BENCH.md §envelope drift), and the round-3 driver
    # bench — recorded at the end of a 40-minute marathon — read 26–54%
    # slower than round 2 on code paths that had not changed.  The default
    # cooldown makes the recorded artifact a rested-box number; set
    # SPARK_GRAFT_COOLDOWN=0 when iterating.
    cooldown = int(os.environ.get("SPARK_GRAFT_COOLDOWN", "120"))
    if cooldown:
        time.sleep(cooldown)

    from splade_easy_spark.config import IndexConfig
    from splade_easy_spark.data import generate_transcripts, generate_query_set
    from splade_easy_spark.index import build_index
    from splade_easy_spark.query import Searcher
    from splade_easy_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark("bench", cores=cpus, shuffle_partitions=max(cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")

    # ~36 turns/conv avg → 100k turns at sf0.1; SPARK_GRAFT_CONVS overrides
    # (the scaling-evidence harness uses 1M turns so parallel work dominates
    # fixed per-job overhead)
    num_convs = int(os.environ.get("SPARK_GRAFT_CONVS", max(30, int(28000 * sf))))
    cfg = IndexConfig(
        build_partitions=max(cpus, 16),
        term_buckets=64,
        segment_docs=1 << 14,
        block_size=128,
    )
    # BENCH_TMPDIR (e.g. /dev/shm/...) lets the scaling harness take the
    # single shared disk out of the measurement — a sandbox artifact real
    # clusters don't have (each executor owns its disks)
    tmp_root = os.environ.get("BENCH_TMPDIR")
    if tmp_root:
        os.makedirs(tmp_root, exist_ok=True)
    idx_dir = tempfile.mkdtemp(prefix="bench_index_", dir=tmp_root)
    timings: dict[str, float] = {}
    extra: dict = {"cpus": cpus, "num_convs": num_convs}

    tx_dir = tempfile.mkdtemp(prefix="bench_tx_", dir=tmp_root)
    try:
        # Box-day calibration probe (round-4 VERDICT #2): a fixed pure-JVM
        # whole-stage-codegen workload — sum(xxhash64(id) % 1000) over a
        # constant range — recorded UNTIMED in extras.  The sandbox VM's
        # throughput drifts ±25% across days/load-history (BENCH.md
        # §envelope drift), so cross-round comparisons of absolute suite
        # seconds conflate code with box: dividing any row by the ratio of
        # box_probe_sec values separates them arithmetically.  No Python,
        # no disk, no shuffle — the probe measures raw JVM compute only.
        from pyspark.sql import functions as F

        def _probe(n):
            spark.range(0, n, 1, cpus).select(
                F.sum(F.xxhash64("id") % 1000)
            ).collect()

        _probe(500_000_000)  # JIT warmup (first run measures the compiler)
        t0 = time.time()
        _probe(8_000_000_000)
        extra["box_probe_sec"] = round(time.time() - t0, 3)

        # Materialize the synthetic input UNTIMED: the engine's contract is
        # an existing Iceberg/Parquet transcript table — input synthesis is
        # not build work.
        generate_transcripts(spark, num_convs=num_convs, seed=42).write.mode(
            "overwrite"
        ).parquet(tx_dir)
        tx = spark.read.parquet(tx_dir)

        t0 = time.time()
        result = build_index(spark, tx, idx_dir, cfg)
        timings["build_index"] = round(time.time() - t0, 3)
        extra["n_docs"] = result.n_docs
        extra["n_terms"] = result.n_terms
        extra["build_turns_per_sec"] = round(result.n_docs / timings["build_index"], 1)

        searcher = Searcher(spark, idx_dir, cfg)
        qset = generate_query_set(int(os.environ.get("SPARK_GRAFT_QUERIES", "50")))

        t0 = time.time()
        n = searcher.search_many(qset, top_k=10, method="wand").count()
        timings["search_batch50"] = round(time.time() - t0, 3)
        extra["queries_in_batch"] = len(qset)
        extra["batch_hits"] = n

        t0 = time.time()
        searcher.search_many(qset[:20], top_k=10, method="sql").count()
        timings["search_batch_sql20"] = round(time.time() - t0, 3)

        q1 = qset[0]["text"]
        t0 = time.time()
        searcher.search(q1, top_k=10).collect()
        timings["search_single"] = round(time.time() - t0, 3)

        t0 = time.time()
        searcher.search(q1, top_k=10, method="wand").collect()
        timings["search_wand"] = round(time.time() - t0, 3)

        # fulltext extensions (round 5): filtered retrieval, phrase,
        # facets, more-like-this — all light query-side rows (no index
        # build), timed on the same index as the search rows above
        t0 = time.time()
        searcher.search(q1, top_k=10, doc_filter=F.col("role") == "user").collect()
        timings["search_filtered"] = round(time.time() - t0, 3)

        # filtered batch rides the in-kernel WAND mask (one pack per batch;
        # measured 3.7-7.6x over the filtered SQL batch, BENCH.md)
        t0 = time.time()
        searcher.search_many(
            qset, top_k=10, method="wand", doc_filter=F.col("role") == "user"
        ).count()
        timings["search_filtered_batch50"] = round(time.time() - t0, 3)

        t0 = time.time()
        searcher.phrase_search(" ".join(q1.split()[:2]), top_k=10).collect()
        timings["phrase_search"] = round(time.time() - t0, 3)

        t0 = time.time()
        searcher.facet_counts(q1, "role").collect()
        timings["facet_counts"] = round(time.time() - t0, 3)

        mlt_seed = searcher.docs.select("doc_id").orderBy("doc_id").first()["doc_id"]
        t0 = time.time()
        searcher.more_like_this(mlt_seed, query_terms=10, top_k=10).collect()
        timings["more_like_this"] = round(time.time() - t0, 3)

        # one query's share of matched blocks left packed (instrumented run
        # of the live kernel): the blocks of MaxScore-cut terms whose
        # ranges hold no surviving candidate, since a repair decodes only
        # the blocks that cover one
        from splade_easy_spark.query.searcher import analyze_query
        from splade_easy_spark.query.wand import wand_profile

        prof = wand_profile(
            spark,
            searcher.cat.read(spark, "postings"),
            analyze_query(q1, cfg),
            cfg.segment_docs,
            top_k=10,
        ).collect()
        bt = sum(r["blocks_total"] for r in prof)
        bd = sum(r["blocks_decoded"] for r in prof)
        extra["wand_blocks_total"] = bt
        extra["wand_blocks_decoded"] = bd
        extra["wand_block_skip_ratio"] = round(1 - bd / bt, 4) if bt else 0.0

        # the same kernel over the whole query set: blocks of terms no
        # query in the batch scattered or repaired through stay packed
        from splade_easy_spark.query.wand import wand_batch_profile

        qt = {q["query_id"]: analyze_query(q["text"], cfg) for q in qset}
        bprof = wand_batch_profile(
            spark,
            searcher.cat.read(spark, "postings"),
            {k: v for k, v in qt.items() if v},
            cfg.segment_docs,
            top_k=10,
        ).collect()
        bbt = sum(r["blocks_total"] for r in bprof)
        bbd = sum(r["blocks_decoded"] for r in bprof)
        extra["batch_blocks_total"] = bbt
        extra["batch_blocks_decoded"] = bbd
        extra["batch_block_decode_ratio"] = round(bbd / bbt, 4) if bbt else 0.0

        for name in ["bm25_topk", "lsh_candidates", "ann_topk", "quality_features", "language_id"]:
            fn = entry.queries()[name]
            t0 = time.time()
            fn(spark, sf_dir).count()
            key = {
                "bm25_topk": "bm25_docs_topk",
                "lsh_candidates": "dedup_minhash",
                "quality_features": "quality_scan",
                "language_id": "langid_scan",
            }.get(name, name)
            timings[key] = round(time.time() - t0, 3)

        # realistic-vocabulary regime (round-3 VERDICT #4): a 50k-term
        # corpus thins posting lists out like a real tail; a 100-query
        # batch through the same kernel, with its decode ratio.  (The
        # measured ratio stays ~0.99 in every regime — the round-4 basis
        # for simplifying the batch kernel to decode-once; this entry
        # keeps the honest number in the artifact of record.)
        wv_convs = max(200, num_convs // 4)
        wv_idx = tempfile.mkdtemp(prefix="bench_wv_", dir=tmp_root)
        try:
            wv_tx = generate_transcripts(
                spark, num_convs=wv_convs, seed=43, vocab_size=50_000
            )
            wv_res = build_index(spark, wv_tx, wv_idx, cfg)
            extra["widevocab_terms"] = wv_res.n_terms
            wv_search = Searcher(spark, wv_idx, cfg)
            wv_qset = generate_query_set(100, seed=77, vocab_size=50_000)
            t0 = time.time()
            wv_search.search_many(wv_qset, top_k=10, method="wand").count()
            timings["search_batch_widevocab100"] = round(time.time() - t0, 3)
            wv_qt = {
                q["query_id"]: analyze_query(q["text"], cfg) for q in wv_qset
            }
            wv_prof = wand_batch_profile(
                spark,
                wv_search.cat.read(spark, "postings"),
                {k: v for k, v in wv_qt.items() if v},
                cfg.segment_docs,
                top_k=10,
            ).collect()
            wt = sum(r["blocks_total"] for r in wv_prof)
            wd = sum(r["blocks_decoded"] for r in wv_prof)
            extra["widevocab_decode_ratio"] = round(wd / wt, 4) if wt else 0.0
        finally:
            shutil.rmtree(wv_idx, ignore_errors=True)

        # Round-5 training-prep ops, timed over the SAME ~100k-turn
        # generated corpus the build used (the sf documents table is a
        # fixed 500-row fixture — measuring it measures job overhead).
        # Added at the END of the suite (round-4 lesson: mid-suite index
        # builds inflate later entries); rows are new in round 5, so
        # cross-round like-for-like totals should exclude them.  The op
        # invocations come from tools/prep_common.prep_bench_ops — the
        # SAME suite tools/prep_scaling.py measures at two parallelism
        # levels, so the rows here and the scaling table stay in sync.
        from splade_easy_spark.data import synthetic_embeddings
        from tools.prep_common import prep_bench_ops

        prep_docs = tx.select(
            (
                F.regexp_extract("conv_id", r"\d+", 0).cast("long") * 1000
                + F.col("turn_idx")
            ).alias("doc_id"),
            F.col("text"),
            F.element_at(
                F.array(F.lit("en"), F.lit("de"), F.lit("fr"), F.lit("xx")),
                (F.pmod(
                    F.xxhash64(F.concat(F.col("conv_id"), F.col("turn_idx"))),
                    F.lit(4),
                ) + 1).cast("int"),
            ).alias("lang"),
        )
        # int8 quantization input: deterministic synthetic embeddings (the
        # sf embeddings fixture is 5k rows); generated and staged UNTIMED,
        # in its own dir (never inside another parquet dataset's root)
        n_emb = int(os.environ.get("SPARK_GRAFT_EMB", "200000"))
        emb_dir = tempfile.mkdtemp(prefix="bench_emb_", dir=tmp_root)
        try:
            synthetic_embeddings(spark, n_emb).write.mode("overwrite").parquet(
                emb_dir
            )
            emb_t = spark.read.parquet(emb_dir)
            for name, thunk in prep_bench_ops(prep_docs, emb_t):
                t0 = time.time()
                thunk()
                timings[f"prep_{name}"] = round(time.time() - t0, 3)
        finally:
            shutil.rmtree(emb_dir, ignore_errors=True)
        extra["prep_corpus_docs"] = result.n_docs
        extra["prep_emb_rows"] = n_emb

        total = round(sum(timings.values()), 3)
        print(
            json.dumps(
                {
                    "metric": "splade_easy_spark_headline_suite",
                    "value": total,
                    "unit": "sec",
                    "queries": timings,
                    "sf": sf,
                    "extra": extra,
                }
            )
        )
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        shutil.rmtree(tx_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
