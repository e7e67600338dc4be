"""Vector-index build: ingest PRE-WEIGHTED sparse vectors — the reference's
native input shape.

splade-easy's write path takes ``Document(doc_id, text, metadata,
token_ids uint32[], weights float32[])`` (``src/splade_easy/index.py:24-30``)
where the weights come from an external encoder; the store itself never
derives them.  This module is that path for our engine: a DataFrame of
``(doc_id STRING, text STRING?, metadata MAP<STRING,STRING>?,
token_ids ARRAY<INT>, weights ARRAY<FLOAT>)`` becomes the same two index
layouts the BM25 builder produces, so the Searcher (SQL and WAND paths,
both score modes) works unchanged — terms are the stringified token ids.

Vector normalization matches ``ensure_sorted_splade_vector``
(``src/splade_easy/scoring.py:79-127``): duplicate token ids keep the MAX
weight; ordering is irrelevant here (the build sorts structurally).
Searching with a raw query vector goes through ``vector_query_terms``.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splade_easy_spark.config import IndexConfig
from splade_easy_spark.index.append import _record_append, _register_new_terms
from splade_easy_spark.index.builder import pack_for
from splade_easy_spark.index.catalog import IndexCatalog, term_bucket_expr
from splade_easy_spark.index.docids import assign_doc_ints
from splade_easy_spark.index.maintenance import writer_prologue


def vector_query_terms(token_ids, weights) -> list[tuple[str, float]]:
    """Raw sparse query vector → engine query terms; dedup keeps max
    weight (``scoring.py:102-114``)."""
    out: dict[str, float] = {}
    for t, w in zip(token_ids, weights):
        k = str(int(t))
        out[k] = max(out.get(k, float(w)), float(w))
    return sorted(out.items())


def build_vector_index(
    spark: SparkSession,
    documents: DataFrame,
    index_dir: str,
    config: IndexConfig | None = None,
) -> dict:
    """Build both index layouts from pre-weighted sparse vectors."""
    cat = IndexCatalog(index_dir, config or IndexConfig())
    cfg = cat.config
    man = cat.manifest
    identity = cfg.identity()
    identity["mode"] = "vector"
    man.set_identity(identity)
    t0 = time.time()

    cols = documents.columns
    base = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        (F.col("text") if "text" in cols else F.lit(None).cast("string")).alias("text"),
        (
            F.col("metadata")
            if "metadata" in cols
            else F.lit(None).cast("map<string,string>")
        ).alias("metadata"),
        F.col("token_ids"),
        F.col("weights"),
        F.size("token_ids").alias("doc_len"),
    )
    docs = assign_doc_ints(base, "doc_id", cfg.build_partitions)
    cat.write(docs.drop("token_ids", "weights"), "docs")
    man.record_stage("docs", {"docs": "docs"}, {"rows": cat.table_rows("docs")})

    docs_v = docs.select("doc_int", F.explode(F.arrays_zip("token_ids", "weights")).alias("e")).select(
        "doc_int",
        F.col("e.token_ids").cast("string").alias("term"),
        F.col("e.weights").cast("double").alias("weight"),
    )
    # dedup keeping max weight — the reference's vector invariant; consumed
    # by term_stats, doc_terms (incl. its in-flight norms agg — no separate
    # doc_norms table, norm is denormalized into doc_terms), and the pack
    from pyspark import StorageLevel

    doc_terms_raw = docs_v.groupBy("doc_int", "term").agg(F.max("weight").alias("weight"))
    doc_terms_raw = doc_terms_raw.persist(StorageLevel.MEMORY_AND_DISK)

    from splade_easy_spark.index.builder import _assert_no_term_id_collisions
    from splade_easy_spark.index.catalog import term_id_expr

    tstats = (
        doc_terms_raw.groupBy("term")
        .agg(F.count("*").alias("df"), F.max("weight").alias("max_weight"))
        .withColumn("tb", term_bucket_expr(F.col("term"), cfg.term_buckets))
        .withColumn("term_id", term_id_expr(F.col("term"), cfg.term_id_seed))
    )
    cat.write(tstats, "term_stats")
    _assert_no_term_id_collisions(cat.read(spark, "term_stats"), cfg.term_id_seed)
    agg = docs.agg(F.count("*").alias("n"), F.avg("doc_len").alias("avgdl"), F.sum("doc_len").alias("t")).collect()[0]
    stats_df = spark.createDataFrame(
        [(int(agg["n"]), float(agg["avgdl"] or 0.0), int(agg["t"] or 0), cat.table_rows("term_stats"))],
        "n_docs LONG, avgdl DOUBLE, total_tokens LONG, n_terms LONG",
    )
    cat.write(stats_df, "corpus_stats")
    man.record_stage(
        "stats",
        {"term_stats": "term_stats", "corpus_stats": "corpus_stats"},
        {"n_docs": int(agg["n"])},
    )

    norms = doc_terms_raw.groupBy("doc_int").agg(
        F.sqrt(F.sum(F.col("weight") * F.col("weight"))).alias("norm")
    )
    doc_terms = (
        doc_terms_raw.join(norms, "doc_int")
        .withColumn("tb", term_bucket_expr(F.col("term"), cfg.term_buckets))
        .select("tb", "term", "doc_int", "weight", "norm")
    )
    cat.write(
        doc_terms.repartition(cfg.build_partitions, "tb").sortWithinPartitions("term", "doc_int"),
        "doc_terms",
        partition_by=["tb"],
    )
    packed = pack_for(
        doc_terms.select("term", "doc_int", "weight", "norm"), cfg
    ).sortWithinPartitions("term_id", "block_id")
    cat.write(packed, "postings", partition_by=["seg"])
    doc_terms_raw.unpersist()
    man.record_stage(
        "postings",
        {"doc_terms": "doc_terms", "postings": "postings"},
        {"n_postings": cat.table_rows("doc_terms")},
    )
    man.stamp_current(cfg)
    man.data["next_doc_int"] = int(agg["n"])
    man.save()
    return {
        "n_docs": int(agg["n"]),
        "elapsed_sec": round(time.time() - t0, 3),
        "index_dir": str(index_dir),
    }


def append_vector_documents(
    spark: SparkSession,
    index_dir: str,
    documents: DataFrame,
    config: IndexConfig | None = None,
    dedupe: bool = True,
) -> dict:
    """Incremental vector-mode append — the reference's ``add``/``add_batch``
    over pre-weighted documents (``src/splade_easy/index.py:133-205``).
    Vector weights are supplied by the caller, so unlike the BM25 text path
    there is NO statistics freeze/drift: appended docs carry exactly the
    scores they would get in a fresh build.  O(batch) per call: doc_ints
    continue from the manifest watermark, postings/doc_terms pack from the
    in-flight frame, and with ``dedupe`` a re-delivered batch appends
    nothing (idempotent at the doc_id grain, same contract as the text
    appender)."""
    from pyspark import StorageLevel

    cat = IndexCatalog(index_dir, config)
    man = cat.manifest
    t0 = time.time()
    if man.data.get("identity", {}).get("mode") != "vector":
        raise ValueError("append_vector_documents requires a vector-mode index")
    # the text appender's prologue: crashed swaps, the format gate, and a
    # previous crashed append (same docs-last protocol — see
    # index/append.py module docstring, crash atomicity)
    writer_prologue(spark, cat)
    cfg = cat.config
    next_int = int(man.data["next_doc_int"])

    cols = documents.columns
    base = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        (F.col("text") if "text" in cols else F.lit(None).cast("string")).alias("text"),
        (
            F.col("metadata")
            if "metadata" in cols
            else F.lit(None).cast("map<string,string>")
        ).alias("metadata"),
        F.col("token_ids"),
        F.col("weights"),
        F.size("token_ids").alias("doc_len"),
    )
    if dedupe:
        base = base.dropDuplicates(["doc_id"])
        existing = cat.read(spark, "docs").select("doc_id")
        base = base.join(
            F.broadcast(existing.join(F.broadcast(base.select("doc_id")), "doc_id", "left_semi")),
            "doc_id",
            "left_anti",
        )
    new_docs = assign_doc_ints(base, "doc_id", cfg.build_partitions).withColumn(
        "doc_int", F.col("doc_int") + F.lit(int(next_int))
    )
    # lineage truncation before touching the index (see index/append.py:
    # appending to a read path invalidates every cached plan referencing it)
    new_docs = new_docs.localCheckpoint(eager=True)
    n_new = new_docs.count()
    if n_new == 0:
        return {"appended_docs": 0, "elapsed_sec": round(time.time() - t0, 3)}
    # journal the range, then write docs LAST (the commit point) — same
    # crash-atomicity protocol as the text appender
    man.data["pending_append"] = {"lo": int(next_int), "hi": int(next_int) + n_new}
    man.save()

    docs_v = new_docs.select(
        "doc_int", F.explode(F.arrays_zip("token_ids", "weights")).alias("e")
    ).select(
        "doc_int",
        F.col("e.token_ids").cast("string").alias("term"),
        F.col("e.weights").cast("double").alias("weight"),
    )
    doc_terms_raw = docs_v.groupBy("doc_int", "term").agg(F.max("weight").alias("weight"))
    doc_terms_raw = doc_terms_raw.persist(StorageLevel.MEMORY_AND_DISK)
    norms = doc_terms_raw.groupBy("doc_int").agg(
        F.sqrt(F.sum(F.col("weight") * F.col("weight"))).alias("norm")
    )
    doc_terms = (
        doc_terms_raw.join(norms, "doc_int")
        .withColumn("tb", term_bucket_expr(F.col("term"), cfg.term_buckets))
        .select("tb", "term", "doc_int", "weight", "norm")
    )
    doc_terms.repartition(min(cfg.build_partitions, 8), "tb").sortWithinPartitions(
        "term", "doc_int"
    ).write.mode("append").partitionBy("tb").parquet(cat.table_dir("doc_terms"))
    packed = pack_for(doc_terms.select("term", "doc_int", "weight", "norm"), cfg)
    packed.write.mode("append").partitionBy("seg").parquet(cat.table_dir("postings"))

    # register batch-new terms (df/max_weight at batch grain)
    from splade_easy_spark.index.catalog import term_id_expr

    tstats_new = (
        doc_terms_raw.groupBy("term")
        .agg(F.count("*").alias("df"), F.max("weight").alias("max_weight"))
        .join(cat.read(spark, "term_stats").select("term"), "term", "left_anti")
        .withColumn("tb", term_bucket_expr(F.col("term"), cfg.term_buckets))
        .withColumn("term_id", term_id_expr(F.col("term"), cfg.term_id_seed))
    )
    n_new_terms = _register_new_terms(spark, cat, tstats_new, cfg.term_id_seed)
    # COMMIT POINT: docs last (crash before this line → the pending journal
    # tombstones the orphan range on the next append); same seam as the
    # text appender so crash tests can inject here
    from splade_easy_spark.index.append import _commit_docs

    _commit_docs(cat, new_docs.drop("token_ids", "weights"))
    doc_terms_raw.unpersist()
    new_docs.unpersist()
    return _record_append(man, next_int, n_new, n_new_terms, t0)
