"""``functions.in_list`` must select exactly the rows ``Column.isin`` does
(null handling, SQL-escape-looking strings, 60-bit ids, the empty list)
and must keep reaching the parquet scan's pushed filters."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from splade_easy_spark.functions.predicates import case_weight, in_list
from pyspark.sql import functions as F

#: strings the SQL parser would treat specially if they were pasted into a
#: quoted literal: quotes, backslashes, and the escape text ``\u0041``
_TRICKY = ["'", "\\", "\\u0041", "A", "a'b", "\\'", "''", "`", "\\\\", "%", "_"]
_strs = st.lists(
    st.one_of(st.sampled_from(_TRICKY), st.text(max_size=6)), max_size=10
)
_ints = st.lists(st.integers(-(2**60), 2**60), max_size=10)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows_s=_strs, rows_i=_ints, extra_s=_strs, extra_i=_ints, data=st.data())
def test_in_list_matches_isin(spark, rows_s, rows_i, extra_s, extra_i, data):
    n = max(len(rows_s), len(rows_i)) + 1  # +1: a row of nulls
    s_col = rows_s + [None] * (n - len(rows_s))
    i_col = rows_i + [None] * (n - len(rows_i))
    df = spark.createDataFrame(list(zip(s_col, i_col)), "t STRING, i LONG")
    # lists mixing values present in the table with absent ones; may be empty
    sv = data.draw(st.lists(st.sampled_from(rows_s), max_size=4)) if rows_s else []
    iv = data.draw(st.lists(st.sampled_from(rows_i), max_size=4)) if rows_i else []
    sv, iv = sv + extra_s, iv + extra_i
    got = df.select(
        in_list("t", sv).alias("a"),
        F.col("t").isin(sv).alias("b"),
        in_list("i", iv).alias("c"),
        F.col("i").isin(iv).alias("d"),
    ).collect()
    for r in got:
        assert r["a"] == r["b"] and r["c"] == r["d"], (r, sv, iv)


def test_in_list_pushes_to_parquet_scan(spark, tmp_path):
    """The ``term_id`` (int64) and legacy ``term`` (string) IN-lists reach
    ``PushedFilters``, both below and above the optimizer's InSet
    threshold (10 values)."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i * (2**40), f"t'{i}\\u0041") for i in range(30)], "term_id LONG, term STRING"
    ).write.parquet(path)
    df = spark.read.parquet(path)
    for n in (3, 25):
        ids = [i * (2**40) for i in range(n)]
        terms = [f"t'{i}\\u0041" for i in range(n)]
        for col, vals in (("term_id", ids), ("term", terms)):
            q = df.where(in_list(col, vals))
            plan = q._jdf.queryExecution().executedPlan().toString()
            pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
            assert f"In({col}," in pushed, plan
            assert q.count() == n


def test_case_weight_is_an_exact_lookup(spark):
    """``case_weight`` maps each listed value to its exact double (tricky
    strings included) and every other value, and NULL, to NULL."""
    weights = {t: 1.0 / (i + 3) for i, t in enumerate(_TRICKY)}
    weights["plain"] = 1.0
    weights["also_one"] = 1.0
    vals = [*weights, "absent", None]
    df = spark.createDataFrame([(v,) for v in vals], "t STRING")
    got = {r["t"]: r["w"] for r in df.select("t", case_weight("t", weights).alias("w")).collect()}
    assert got == {**weights, "absent": None, None: None}
    empty = df.select(case_weight("t", {}).alias("w")).collect()
    assert all(r["w"] is None for r in empty)
