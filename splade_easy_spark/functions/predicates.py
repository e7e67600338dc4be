"""IN-list predicates built in a constant number of py4j round trips.

``Column.isin(values)`` sends every value to the JVM as its own literal:
about four py4j commands per value, so a 300-term query batch pays ~1,200
driver round trips before Spark plans anything.  ``in_list`` renders the
whole list into ONE SQL expression string instead.  The parser yields the
same ``In(col, literals)`` node (``InSet`` past the optimizer's threshold),
so the predicate still reaches the parquet scan's ``PushedFilters`` and
partition pruning.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sql_literal(v: int | str) -> str:
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


def in_list(col: str, values) -> Column:
    """``col IN (values)`` as one ``F.expr``; ``lit(False)`` when empty.

    ``col`` is a column name (quoted here, so any name works); ``values``
    are ints or strs.  Selects the same rows as
    ``F.col(col).isin(list(values))``."""
    vals = list(values)
    if not vals:
        return F.lit(False)
    name = "`" + col.replace("`", "``") + "`"
    return F.expr(f"{name} IN ({', '.join(map(_sql_literal, vals))})")


def case_weight(col: str, weights: dict[str, float]) -> Column:
    """The weight of ``col``'s value under ``weights`` ({value: weight}),
    NULL for any other value, as one ``CASE`` ``F.expr``: one ``IN`` arm
    per distinct weight, each weight an exact double (its shortest repr,
    cast).  Replaces a join against a query-weight table."""
    by_weight: dict[float, list[str]] = {}
    for v, w in weights.items():
        by_weight.setdefault(float(w), []).append(v)
    name = "`" + col.replace("`", "``") + "`"
    arms = " ".join(
        f"WHEN {name} IN ({', '.join(map(_sql_literal, sorted(vs)))}) "
        f"THEN CAST('{w!r}' AS DOUBLE)"
        for w, vs in sorted(by_weight.items())
    )
    return F.expr(f"CASE {arms} END") if arms else F.lit(None).cast("double")
