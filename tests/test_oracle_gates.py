"""The retrieval gates of ``__spark_entry__`` against their DuckDB oracle.

These gates run the ``adhoc`` verbs, which are the shared ``query.verbs``
bodies ``Searcher`` serves, so every Tier-1 run checks that code against
an independent SQL engine.  The compare is ``tools/check_oracle.py``'s
own.  The gate tables (TESTDATA.md) sit beside the checkout; the tests
skip when they are absent.
"""

from __future__ import annotations

from pathlib import Path

import pytest

import __spark_entry__ as entrymod

SF_DIR = Path(__file__).resolve().parents[2] / "testdata" / "sf0.001"

#: the gates from ``bm25_topk`` through ``point_get``
_names = list(entrymod.queries())
RETRIEVAL_GATES = _names[_names.index("bm25_topk") : _names.index("point_get") + 1]


@pytest.fixture(scope="module")
def oracle():
    if not (SF_DIR / "documents.parquet").exists():
        pytest.skip(f"gate tables not found at {SF_DIR}")
    pytest.importorskip("duckdb")
    from tools.check_oracle import open_oracle

    con = open_oracle(str(SF_DIR))
    yield con
    con.close()


def test_retrieval_gates_are_sixteen():
    assert len(RETRIEVAL_GATES) == 16, RETRIEVAL_GATES


@pytest.mark.parametrize("name", RETRIEVAL_GATES)
def test_retrieval_gate_matches_duckdb(spark, oracle, name):
    from tools.check_oracle import check_gate

    ok, msg = check_gate(spark, oracle, str(SF_DIR), name)
    assert ok, f"{name}: {msg}"
