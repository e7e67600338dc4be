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

Only the weighing is vector-specific (``_vector_weights``,
``_vector_terms``): the build writes doc_terms + postings through the
text build's writer (``builder._write_weighted``, which owns the doc-norm
rule), and the append runs the text appender's batch skeleton
(``append._append_batch``).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splade_easy_spark.config import IndexConfig
from splade_easy_spark.index.append import _append_batch
from splade_easy_spark.index.builder import (
    _assert_no_term_id_collisions,
    _write_corpus_stats,
    _write_weighted,
)
from splade_easy_spark.index.catalog import IndexCatalog, term_bucket_expr, term_id_expr
from splade_easy_spark.index.docids import assign_doc_ints


def vector_query_terms(token_ids, weights) -> list[tuple[str, float]]:
    """Raw sparse query vector → engine query terms; dedup keeps max
    weight (``verbs.dedup_max``)."""
    from splade_easy_spark.query.verbs import dedup_max

    return sorted(dedup_max((str(int(t)), float(w)) for t, w in zip(token_ids, weights)))


def _vector_rows(documents: DataFrame) -> DataFrame:
    """Pre-weighted documents as docs-table rows plus their vectors
    (without ``doc_len``/``doc_int``) — the vector build and the vector
    append share it."""
    cols = documents.columns
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        (F.col("text") if "text" in cols else F.lit(None).cast("string")).alias("text"),
        (
            F.col("metadata")
            if "metadata" in cols
            else F.lit(None).cast("map<string,string>")
        ).alias("metadata"),
        F.col("token_ids"),
        F.col("weights"),
    )


def _vector_weights(docs: DataFrame) -> DataFrame:
    """(term, doc_int, weight): one row per distinct (doc, token id),
    keeping the MAX weight — the reference's vector invariant."""
    e = docs.select("doc_int", F.explode(F.arrays_zip("token_ids", "weights")).alias("e"))
    return e.groupBy(
        F.col("e.token_ids").cast("string").alias("term"), "doc_int"
    ).agg(F.max(F.col("e.weights").cast("double")).alias("weight"))


def _vector_terms(weighted: DataFrame, cfg: IndexConfig) -> DataFrame:
    """term_stats rows of a vector index: df per term."""
    return (
        weighted.groupBy("term")
        .agg(F.count("*").alias("df"))
        .withColumn("tb", term_bucket_expr(F.col("term"), cfg.term_buckets))
        .withColumn("term_id", term_id_expr(F.col("term"), cfg.term_id_seed))
    )


def build_vector_index(
    spark: SparkSession,
    documents: DataFrame,
    index_dir: str,
    config: IndexConfig | None = None,
) -> dict:
    """Build both index layouts from pre-weighted sparse vectors."""
    from pyspark import StorageLevel

    cat = IndexCatalog(index_dir, config or IndexConfig())
    cfg = cat.config
    man = cat.manifest
    identity = cfg.identity()
    identity["mode"] = "vector"
    man.set_identity(identity)
    t0 = time.time()

    docs = assign_doc_ints(
        _vector_rows(documents).withColumn("doc_len", F.size("token_ids")),
        "doc_id",
        cfg.build_partitions,
    )
    cat.write(docs.drop("token_ids", "weights"), "docs")
    man.record_stage("docs", {"docs": "docs"}, {"rows": cat.table_rows("docs")})

    # consumed by term_stats, the norms agg and both writes
    weighted = _vector_weights(docs).persist(StorageLevel.MEMORY_AND_DISK)
    cat.write(_vector_terms(weighted, cfg), "term_stats")
    _assert_no_term_id_collisions(cat.read(spark, "term_stats"), cfg.term_id_seed)
    agg = docs.agg(F.count("*").alias("n"), F.avg("doc_len").alias("avgdl"), F.sum("doc_len").alias("t")).collect()[0]
    _write_corpus_stats(
        spark, cat, int(agg["n"]), float(agg["avgdl"] or 0.0), int(agg["t"] or 0),
        cat.table_rows("term_stats"),
    )
    man.record_stage(
        "stats",
        {"term_stats": "term_stats", "corpus_stats": "corpus_stats"},
        {"n_docs": int(agg["n"])},
    )

    _write_weighted(cat, weighted)
    weighted.unpersist()
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
    scores they would get in a fresh build.  The batch runs the text
    appender's skeleton (``append._append_batch``: dedupe, doc_ints from
    the manifest watermark, the pending journal, docs written last), so
    it is O(batch) per call and idempotent at the doc_id grain."""
    cat = IndexCatalog(index_dir, config)
    if cat.manifest.data.get("identity", {}).get("mode") != "vector":
        raise ValueError("append_vector_documents requires a vector-mode index")

    def weigh(new_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
        weighted = _vector_weights(new_docs)
        new_terms = _vector_terms(weighted, cat.config).join(
            cat.read(spark, "term_stats").select("term"), "term", "left_anti"
        )
        return weighted, new_terms

    return _append_batch(
        spark, cat, _vector_rows(documents), F.size("token_ids"), weigh, dedupe,
        drop=("token_ids", "weights"),
    )
