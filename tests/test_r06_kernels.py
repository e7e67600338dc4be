"""Focused tests for the round-6 kernel rewrites: the per-block gemm pair
scan, the Arrow term-tf kernel, and the Arrow quantize kernel must keep the
exact semantics of the Catalyst/pandas formulations they replaced."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from splade_easy_spark.ops.quant import quantize_embeddings
from splade_easy_spark.ops.similarity import cosine_expr, embedding_near_dup_pairs


def test_near_dup_pairs_ragged_null_zero_semantics(spark):
    """Mixed-dimension rows never pair (the HOF zip_with padded with null →
    null cosine → excluded), zero-norm and null vectors never pair, null
    blocks are dropped, and ids order each pair (id_a < id_b)."""
    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [1.0, 0.01], "a"),
        (3, [1.0, 0.0, 0.0], "a"),  # ragged: pairs with nobody
        (4, [0.0, 0.0], "a"),  # zero norm: cosine undefined
        (5, [1.0, 0.02], "a"),
        (6, [-1.0, 0.0], "a"),  # below threshold
        (7, [1.0, 0.0], None),  # null block
        (8, None, "a"),  # null vector
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label STRING")
    got = sorted(
        (r["id_a"], r["id_b"]) for r in embedding_near_dup_pairs(df, threshold=0.9).collect()
    )
    assert got == [(1, 2), (1, 5), (2, 5)]


def test_near_dup_pairs_matches_hof_join(spark):
    """The gemm kernel reproduces the blocked self-join + HOF cosine pair
    set (rounded comparison — summation order may differ in the last ulp)."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], f"b{i % 3}") for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label STRING")
    a = df.select(F.col("label").alias("_blk"), F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = df.select(F.col("label").alias("_blk"), F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    ref = (
        a.join(b, "_blk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_expr(F.col("_va"), F.col("_vb")).alias("cosine"))
        .where(F.col("cosine") >= 0.5)
    )
    want = sorted((r["id_a"], r["id_b"], round(r["cosine"], 9)) for r in ref.collect())
    got = sorted(
        (r["id_a"], r["id_b"], round(r["cosine"], 9))
        for r in embedding_near_dup_pairs(df, threshold=0.5).collect()
    )
    assert got == want


def test_quantize_null_and_empty_rows(spark):
    """Null vector → all-null derived columns; empty vector → empty codes,
    NULL scale/max_abs_err, NaN mse — the HOF formulation's semantics."""
    df = spark.createDataFrame(
        [(1, [0.5, -1.0]), (2, None), (3, [])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert got[1]["q_emb"] == [64, -127] and got[1]["scale"] == pytest.approx(1.0 / 127)
    assert got[2]["q_emb"] is None and got[2]["scale"] is None
    assert got[2]["max_abs_err"] is None and got[2]["mse"] is None
    assert got[3]["q_emb"] == [] and got[3]["scale"] is None
    assert got[3]["max_abs_err"] is None and math.isnan(got[3]["mse"])


def _quantize_hof(df):
    """The all-Catalyst higher-order-function form the kernel replaced.
    One change: its all-zero branch keeps a null element null (it mapped
    every element to 0)."""
    v = F.col("embedding")
    m = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    q = F.when(
        m == 0.0, F.transform(v, lambda x: F.when(x.isNotNull(), F.lit(0)))
    ).otherwise(
        F.transform(
            v, lambda x: F.floor(x.cast("double") * F.lit(127.0) / m + F.lit(0.5)).cast("int")
        )
    )
    out = df.select("vec_id", (m / F.lit(127.0)).alias("scale"), q.alias("q_emb"), v.alias("_v"))
    err = F.zip_with(
        "q_emb", "_v", lambda qi, vi: F.abs(qi.cast("double") * F.col("scale") - vi.cast("double"))
    )
    return out.select(
        "vec_id",
        "scale",
        "q_emb",
        F.array_max(err).alias("max_abs_err"),
        (F.aggregate(err, F.lit(0.0), lambda acc, e: acc + e * e) / F.size("q_emb")).alias("mse"),
    )


@pytest.mark.parametrize("ragged", [False, True])
def test_quantize_null_elements_match_hof(spark, ragged):
    """A null element inside a vector gets a null code and is skipped by
    the row's max (``array_max`` semantics), its error is null, and the
    row's mse is null — exactly the HOF form's output, on fixed-dimension
    and ragged batches."""
    import random

    rng = random.Random(17 + ragged)
    rows = [
        (1, [0.5, None, -1.0, 0.25]),
        (2, [None, None, None, None]),
        (3, [0.0, None, 0.0, 0.0]),
        (4, [None, 0.25, 0.0, -0.125]),
        (5, [0.3, -0.7, 0.1, 0.9]),
        (6, None),
    ]
    for i in range(7, 40):
        dim = rng.randint(1, 6) if ragged else 4
        rows.append(
            (i, [None if rng.random() < 0.2 else rng.uniform(-2, 2) for _ in range(dim)])
        )
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>").coalesce(1)
    want = {r["vec_id"]: r.asDict() for r in _quantize_hof(df).collect()}
    got = {r["vec_id"]: r.asDict() for r in quantize_embeddings(df).collect()}
    assert got == want


def test_term_tf_rows_doc_contiguous(spark):
    """The Arrow term-tf kernel keeps each doc's rows contiguous (the
    contract that lets the build's norms agg emit one partial row per doc
    per partition)."""
    from splade_easy_spark.functions.text import term_tf_frame

    df = spark.createDataFrame(
        [(i, "a b a c " * (i % 5 + 1)) for i in range(200)], "id LONG, text STRING"
    ).repartition(2)
    rows = term_tf_frame(df, ["id"], "text").collect()
    seen, prev = set(), None
    for r in rows[: len(rows)]:
        if r["id"] != prev:
            assert r["id"] not in seen, f"doc {r['id']} rows interleaved"
            seen.add(r["id"])
            prev = r["id"]
