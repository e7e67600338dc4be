"""Tokenization as pure Catalyst expressions.

The reference tokenizes implicitly through a neural encoder
(``src/splade_easy/utils.py:67-118``); our deterministic analog is a
regex analyzer that must behave identically at build and query time and be
re-expressible in DuckDB SQL for the correctness oracle.  Everything here is
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd, no UDFs — so
tokenization rides inside the same stage as the parquet scan (column-pruned,
predicate-pushed) at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from splade_easy_spark.config import AnalyzerConfig


def tokenize(col: Column | str, analyzer: AnalyzerConfig | None = None) -> Column:
    """``text -> ARRAY<STRING>`` of analyzer tokens.

    lower() + regexp_extract_all(pattern) + length bounds.  DuckDB oracle
    equivalent: ``regexp_extract_all(lower(text), '[a-z0-9]+')``.  A column
    given by name is the one ``F.expr`` of :func:`tokenize_sql`.
    """
    if isinstance(col, str):
        return F.expr(tokenize_sql(col, analyzer))
    analyzer = analyzer or AnalyzerConfig()
    c = F.lower(col) if analyzer.lowercase else col
    toks = F.regexp_extract_all(c, F.lit(analyzer.token_pattern), 0)
    lo, hi = analyzer.min_token_len, analyzer.max_token_len
    if lo > 1 or hi < 10_000:
        toks = F.filter(toks, lambda t: (F.length(t) >= lo) & (F.length(t) <= hi))
    return toks


def tokenize_sql(col: str, analyzer: AnalyzerConfig | None = None) -> str:
    """:func:`tokenize` of the column named ``col`` as SQL text, for plans
    built from expression strings (one parse instead of a py4j round trip
    per function)."""
    from splade_easy_spark.functions.predicates import sql_literal, sql_name

    analyzer = analyzer or AnalyzerConfig()
    c = f"lower({sql_name(col)})" if analyzer.lowercase else sql_name(col)
    toks = f"regexp_extract_all({c}, {sql_literal(analyzer.token_pattern)}, 0)"
    lo, hi = analyzer.min_token_len, analyzer.max_token_len
    if lo > 1 or hi < 10_000:
        toks = f"filter({toks}, t -> length(t) >= {lo} AND length(t) <= {hi})"
    return toks


def term_tf_frame(
    df: DataFrame,
    id_cols: list[str],
    text_col: str = "text",
    analyzer: AnalyzerConfig | None = None,
) -> DataFrame:
    """``(*id_cols, term, tf)`` per-document term frequencies, computed
    entirely map-side.

    Tokenization stays a JVM Catalyst expression (``tokenize``); the
    count-per-(doc, term) step is a columnar ``mapInArrow`` kernel: the
    token lists arrive as one flat Arrow string array plus offsets, terms
    are integer-coded with ``pyarrow.compute.dictionary_encode`` (C speed,
    no Python string objects), and the (doc, term) pair counts come from
    one ``np.unique`` over packed ``doc_idx<<32 | code`` int64 keys.
    Measured on a 98k-turn corpus (9.8M output rows, 32 cores): 0.6s vs
    2.2s for the previous pandas explode+groupby kernel, 8.3s for
    ``explode→groupBy`` (which also pays a token-grain exchange — the
    shuffle this design must avoid at 10^12 turns) and 30s for per-row
    array HOFs.  Output rows stay doc-contiguous (keys sort doc-major).
    Docs with no tokens produce no rows (BM25 ignores them; doc_len is
    carried separately)."""
    analyzer = analyzer or AnalyzerConfig()
    toks = tokenize(F.col(text_col), analyzer)
    src_schema = df.select(*id_cols).schema
    out_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in src_schema.fields)
    out_schema = f"{out_fields}, term STRING, tf INT"

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            col = rb.column(rb.num_columns - 1)  # _toks is always last
            n = len(col)
            if n == 0:
                continue
            lens = (
                pc.list_value_length(col)
                .fill_null(0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            flat = pc.list_flatten(col)
            if len(flat) == 0:
                continue
            enc = pc.dictionary_encode(flat)
            codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            doc_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
            keys = (doc_idx << 32) | codes
            uk, counts = np.unique(keys, return_counts=True)
            ud = pa.array(uk >> 32)
            uc = pa.array(uk & 0xFFFFFFFF)
            arrs = [rb.column(i).take(ud) for i in range(rb.num_columns - 1)]
            arrs.append(enc.dictionary.take(uc))
            arrs.append(pa.array(counts.astype(np.int32)))
            yield pa.RecordBatch.from_arrays(arrs, names=[*id_cols, "term", "tf"])

    return df.select(*id_cols, toks.alias("_toks")).mapInArrow(kernel, schema=out_schema)


def doc_id_expr(conv_id: Column | str = "conv_id", turn_idx: Column | str = "turn_idx") -> Column:
    """Stable document key: ``conv_id || '#' || turn_idx``.

    Matches the reference's string ``Document.doc_id``
    (``src/splade_easy/index.py:24-30``) while keeping the transcript's
    composite key recoverable; the ``(conv_id, turn_idx)`` ordering invariant
    is what the driver's per-turn text-equality check keys on.
    """
    ci = F.col(conv_id) if isinstance(conv_id, str) else conv_id
    ti = F.col(turn_idx) if isinstance(turn_idx, str) else turn_idx
    return F.concat_ws("#", ci, ti.cast("string"))
