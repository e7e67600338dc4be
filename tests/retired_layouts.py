"""Turn a freshly built (format 2) index into the retired format-1 shapes
that ``migrate_postings`` upgrades, with plain Spark/parquet rewrites of
the tables and an edit of the manifest — never through the engine's own
writers, which only write the current format.

Shapes (any combination):

- ``string_keys``: postings keyed by the term string (``term_id`` swapped
  for ``term`` through ``term_stats``), ``term_stats`` without
  ``term_id``, and no recorded ``term_id_seed``;
- ``no_nwts``: postings without the ``nwts``/``max_nweight`` columns;
- ``no_term_id``: ``term_stats`` without ``term_id``, the postings still
  keyed by it;
- ``no_next_doc_int``: a manifest without the ``next_doc_int`` watermark.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import functions as F

SHAPES = ("string_keys", "no_nwts", "no_term_id", "no_next_doc_int")


def _rewrite(spark, idx: str, table: str, fn, partition_by: str | None = None) -> None:
    live = Path(idx) / table
    staging = Path(idx).parent / f"{Path(idx).name}.{table}.retired"
    w = fn(spark.read.parquet(str(live))).write
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(str(staging))
    shutil.rmtree(live)
    shutil.move(str(staging), str(live))


def retire(spark, idx: str, shapes) -> None:
    """Rewrite ``idx`` in place into format 1 with the retired ``shapes``."""
    shapes = set(shapes)
    assert shapes <= set(SHAPES), shapes
    if "string_keys" in shapes:
        names = spark.read.parquet(f"{idx}/term_stats").select("term_id", "term")

        def to_strings(post):
            cols = ["term" if c == "term_id" else c for c in post.columns]
            return post.join(F.broadcast(names), "term_id").select(*cols)

        _rewrite(spark, idx, "postings", to_strings, "seg")
    if "no_nwts" in shapes:
        _rewrite(spark, idx, "postings", lambda p: p.drop("nwts", "max_nweight"), "seg")
    if shapes & {"string_keys", "no_term_id"}:
        _rewrite(spark, idx, "term_stats", lambda t: t.drop("term_id"))
    path = Path(idx) / "_manifest.json"
    man = json.loads(path.read_text())
    man["format_version"] = 1
    if "string_keys" in shapes:
        man["layout"].pop("term_id_seed", None)
    if "no_next_doc_int" in shapes:
        man.pop("next_doc_int", None)
    path.write_text(json.dumps(man))


def tree_state(idx: str) -> dict:
    """Every file and directory under ``idx`` with its size and mtime:
    equal before and after a call means the call wrote nothing."""
    return {
        str(p): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in sorted(Path(idx).rglob("*"))
    }
