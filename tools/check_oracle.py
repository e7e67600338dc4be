"""Local mimic of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet dir, compare
row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

import __spark_entry__ as entrymod
from splade_easy_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in sorted(cols):
            v = r[c]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            vals.append(repr(v))
        out.append("|".join(vals))
    return sorted(out)


def open_oracle(sf_dir: str):
    """A DuckDB connection with one view per gate table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_gate(spark, con, sf_dir: str, name: str) -> tuple[bool | None, str]:
    """Run gate ``name`` on Spark and its oracle SQL on DuckDB; compare row
    count, column names and order-insensitive values (floats at 6 dp).
    Returns (True, …) on a match, (False, why) on a mismatch or error, and
    (None, …) when the gate has no oracle."""
    sql = entrymod.oracle_sql().get(name)
    try:
        sdf = entrymod.queries()[name](spark, sf_dir)
        scols = sdf.columns
        srows = [r.asDict() for r in sdf.collect()]
    except Exception as e:
        return False, f"spark error: {e}"
    if sql is None:
        return None, f"no oracle (rows={len(srows)})"
    try:
        ddf = con.execute(sql).df()
    except Exception as e:
        return False, f"duckdb error: {str(e)[:300]}"
    dcols = list(ddf.columns)
    drows = ddf.to_dict("records")
    if sorted(scols) != sorted(dcols):
        return False, f"columns spark={sorted(scols)} duckdb={sorted(dcols)}"
    if len(srows) != len(drows):
        return False, f"rows spark={len(srows)} duckdb={len(drows)}"
    sn, dn = normalize(srows, scols), normalize(drows, dcols)
    if sn != dn:
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b]
        return False, f"value mismatch ({len(diffs)} rows); first: {diffs[:2]}"
    return True, f"{len(srows)} rows"


def main():
    # default: the sf0.01 gate tables (TESTDATA.md), beside the checkout
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else str(
        Path(__file__).resolve().parents[2] / "testdata" / "sf0.01"
    )
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    con = open_oracle(sf_dir)
    failures = 0
    for name in entrymod.queries():
        if only and name not in only:
            continue
        ok, msg = check_gate(spark, con, sf_dir, name)
        print(f"{'OK  ' if ok else 'SKIP' if ok is None else 'FAIL'} {name}: {msg}")
        failures += ok is False
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
