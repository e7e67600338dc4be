"""IN-list predicates, weight lookups and literals as SQL text, built in
a constant number of py4j round trips.

``Column.isin(values)`` sends every value to the JVM as its own literal:
about four py4j commands per value, so a 300-term query batch pays ~1,200
driver round trips before Spark plans anything.  ``in_list`` renders the
whole list into ONE SQL expression string instead.  The parser yields the
same ``In(col, literals)`` node (``InSet`` past the optimizer's threshold),
so the predicate still reaches the parquet scan's ``PushedFilters`` and
partition pruning.  The ``*_sql`` forms return the text itself, for plans
built from expression strings (``F.expr``, ``selectExpr``, ``where``):
one parse on the JVM instead of a py4j round trip per function call.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_literal(v: int | str) -> str:
    """A SQL literal for ``v``.  Strings travel as UTF-8 hex
    (``CAST(X'…' AS STRING)``, folded to a plain string literal by the
    optimizer), so no quote, backslash or ``\\uXXXX`` text in a value can
    be reinterpreted by the parser, whatever
    ``spark.sql.parser.escapedStringLiterals`` says."""
    if isinstance(v, str):
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)  # INT or BIGINT by size; widened to the column
    raise TypeError(f"in_list takes int or str values, got {type(v).__name__}")


def sql_name(col: str) -> str:
    """A column name as a quoted SQL identifier (any name works)."""
    return "`" + col.replace("`", "``") + "`"


def sql_double(x: float) -> str:
    """An exact double as SQL text: its shortest repr, cast (folded to a
    literal by the optimizer)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def in_sql(col: str, values) -> str:
    """``col IN (values)`` as SQL text; ``false`` when ``values`` is empty.

    ``col`` is a column name (quoted here, so any name works); ``values``
    are ints or strs."""
    vals = list(values)
    if not vals:
        return "false"
    return f"{sql_name(col)} IN ({', '.join(map(sql_literal, vals))})"


def in_list(col: str, values) -> Column:
    """``in_sql`` as one ``F.expr``: selects the same rows as
    ``F.col(col).isin(list(values))``."""
    return F.expr(in_sql(col, values))


def case_weight_sql(col: str, weights: dict[str, float]) -> str:
    """The weight of ``col``'s value under ``weights`` ({value: weight}),
    NULL for any other value, as one SQL ``CASE``: one ``IN`` arm per
    distinct weight, each weight an exact double (``sql_double``)."""
    by_weight: dict[float, list[str]] = {}
    for v, w in weights.items():
        by_weight.setdefault(float(w), []).append(v)
    arms = " ".join(
        f"WHEN {in_sql(col, sorted(vs))} THEN {sql_double(w)}"
        for w, vs in sorted(by_weight.items())
    )
    return f"CASE {arms} END" if arms else "CAST(NULL AS DOUBLE)"


def case_weight(col: str, weights: dict[str, float]) -> Column:
    """``case_weight_sql`` as one ``F.expr``.  Replaces a join against a
    small weight table (query ids' norms)."""
    return F.expr(case_weight_sql(col, weights))
