"""Index manifest: the Parquet-fallback analog of an Iceberg snapshot log.

Mirrors the reference's durability contract (SURVEY.md §1.4): the reference
finalizes a shard by flush → SHA-256 → atomic ``os.replace`` → append hash to
``metadata.json`` (``src/splade_easy/index.py:103-122``), so readers only ever
see fully-committed shards.  Here the unit of commit is a build *stage*
(docs / stats / postings): each stage's output files are content-hashed and
recorded with per-file lineage (rows, bytes, sha256) plus stage metrics
(elapsed seconds, input rows), and the manifest itself is swapped atomically
via temp-file + ``os.replace``.  A crashed build leaves at most Spark
``_temporary`` dirs (cleaned by the output committer) and a manifest that
still describes only complete stages — which is exactly what makes the build
**resumable**: re-running skips stages already present and valid.

On a real cluster with Iceberg jars this module is replaced by snapshot
commits; the seam is ``IndexCatalog`` in ``catalog.py``.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import time
from pathlib import Path
from typing import Any

import pyarrow.parquet as pq

from splade_easy_spark.config import IndexConfig

MANIFEST_NAME = "_manifest.json"
#: on-disk format the readers and writers understand.  Format 2: postings
#: keyed by ``term_id`` and always carrying the ``nwts``/``max_nweight``
#: columns (empty when the index packs no cosine stream); ``term_stats``
#: with ``term_id``; a manifest with ``next_doc_int`` and the build's
#: ``layout`` (``IndexConfig.layout``).  ``term_stats`` columns that older
#: builds and appends wrote and no reader reads (a per-term max tf or max
#: weight) may be present in some files and absent in others.  Older
#: indexes are upgraded by ``migrate_postings``, the only code that knows
#: the retired layouts.
FORMAT_VERSION = 2
#: the layout fields that decide how the tables are laid out on disk
#: (``IndexConfig.layout`` also records ``build_partitions``, which only
#: sets a writer's parallelism)
PHYSICAL_LAYOUT = ("segment_docs", "block_size", "term_buckets", "pack_cosine", "term_id_seed")


def _hash_file(path: Path, chunk: int = 1 << 20) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        while True:
            b = f.read(chunk)
            if not b:
                break
            h.update(b)
    return h.hexdigest()


def file_lineage(table_dir: Path, checksum: bool = True) -> list[dict]:
    """Per-file lineage for every parquet data file under ``table_dir``
    (recursive — hive-partitioned tables have ``tb=.../part-*.parquet``).
    Hashed with a thread pool: sha256 releases the GIL, so lineage cost
    scales with cores instead of being a serial commit tail.

    ``checksum=False`` records sizes/rows only (parquet footers + stat,
    no data read): the right mode for FREQUENT maintenance commits like
    ``optimize_postings`` — re-hashing a whole table per periodic merge
    is O(table bytes) through one machine, while resume validation
    (``verify_table``) only consults existence + size anyway; full sha256
    stays on the one-time build/compact/reshard commits (the reference's
    hash-per-shard-finalize analog, ``src/splade_easy/index.py:108-112``)."""
    from concurrent.futures import ThreadPoolExecutor

    files = sorted(table_dir.rglob("*.parquet"))

    def entry(p: Path) -> dict:
        meta = pq.read_metadata(p)
        out = {
            "file": str(p.relative_to(table_dir)),
            "bytes": p.stat().st_size,
            "rows": meta.num_rows,
        }
        if checksum:
            out["sha256"] = _hash_file(p)
        return out

    if len(files) <= 2:
        return [entry(p) for p in files]
    with ThreadPoolExecutor(max_workers=min(16, len(files))) as ex:
        return list(ex.map(entry, files))


class Manifest:
    """Load/commit cycle for ``<index_dir>/_manifest.json``."""

    def __init__(self, index_dir: str | Path):
        self.index_dir = Path(index_dir)
        self.path = self.index_dir / MANIFEST_NAME
        self.data: dict[str, Any] = {
            "format_version": FORMAT_VERSION,
            "identity": {},
            "stages": {},
            "tables": {},
        }
        if self.path.exists():
            self.data = json.loads(self.path.read_text())

    # -- format ----------------------------------------------------------
    @property
    def format_version(self) -> int:
        """The recorded format (manifests written before the field
        existed are format 1)."""
        return int(self.data.get("format_version", 1))

    def require_current(self) -> None:
        """The format gate: every reader and writer entry point except
        ``migrate_postings`` runs it, so no other code path ever sees an
        older layout."""
        v = self.format_version
        if v > FORMAT_VERSION:
            raise RuntimeError(
                f"index {self.index_dir} is format {v}, newer than this "
                f"engine's format {FORMAT_VERSION}: upgrade splade_easy_spark"
            )
        if v < FORMAT_VERSION:
            raise RuntimeError(
                f"index {self.index_dir} is format {v}; this engine reads "
                f"format {FORMAT_VERSION}. Upgrade it in place with: "
                f"python -m splade_easy_spark.cli migrate --index {self.index_dir}"
            )

    def stamp_current(self, config: IndexConfig) -> None:
        """Record the layout the tables were packed with (``config``'s) and
        mark the index as the current format (the caller saves)."""
        self.data["layout"] = config.layout()
        self.data["format_version"] = FORMAT_VERSION

    def layout_config(self, config: IndexConfig) -> IndexConfig:
        """``config`` with the physical layout the index was built with —
        segment width, block size, term buckets, cosine stream, term_id
        seed — so every reader and rewrite follows the recorded layout,
        whatever the caller's config says.  A build that has not finished
        yet has recorded none: its config is the layout."""
        lay = self.data.get("layout", {})
        return dataclasses.replace(
            config, **{k: lay[k] for k in PHYSICAL_LAYOUT if k in lay}
        )

    def normalize_format1(self) -> None:
        """Bring a format-1 manifest's journal to the current shape, in
        memory (``migrate_postings`` runs it, then saves).

        * Stage and append entries without a ``seq`` get one, in the
          order of their ``committed_at``/``at`` (a stage first at a tie, so
          the tie reads as stale lineage).  They predate every entry that
          has a ``seq``, so those seqs move up past them.
        * A dict ``pending_maintenance`` (the single-marker journal) becomes
          a one-entry list naming every recorded table, all of which the
          marker distrusted."""
        d = self.data
        stages = list(d.get("stages", {}).values())
        appends = d.get("appends", [])
        if isinstance(d.get("pending_maintenance"), dict):
            d["pending_maintenance"] = [
                {"tables": sorted(d.get("tables", {})), **d["pending_maintenance"]}
            ]
        legacy = sorted(
            [(s.get("committed_at", 0.0), 0, s) for s in stages if "seq" not in s]
            + [(a.get("at", 0.0), 1, a) for a in appends if "seq" not in a],
            key=lambda x: x[:2],
        )
        for e in [*stages, *appends, *d.get("pending_maintenance", [])]:
            if "seq" in e:
                e["seq"] += len(legacy)
        for seq, (*_, e) in enumerate(legacy, start=1):
            e["seq"] = seq
        d["seq"] = int(d.get("seq", 0)) + len(legacy)

    # -- queries ---------------------------------------------------------
    def stage_complete(self, stage: str) -> bool:
        return stage in self.data["stages"]

    def verify_table(self, name: str) -> bool:
        """Check every recorded file still exists with the recorded size
        (cheap validation, like ``get_shard_paths`` strict mode,
        ``src/splade_easy/utils.py:12-31``; full sha check is opt-in)."""
        info = self.data["tables"].get(name)
        if not info:
            return False
        root = self.index_dir / info["dir"]
        for f in info["files"]:
            p = root / f["file"]
            if not p.exists() or p.stat().st_size != f["bytes"]:
                return False
        return True

    # -- commits ---------------------------------------------------------
    def set_identity(self, identity: dict) -> None:
        self.data["identity"] = identity

    def next_seq(self) -> int:
        """Monotonic manifest sequence number, bumped by every append /
        repair / stage commit.  Freshness comparisons (``_fresh_lineage``)
        order events by this instead of wall-clock timestamps — equal or
        skewed clocks (coarse mtime granularity, a writer on another host,
        an append landing the same second as a stage commit) could order
        timestamps wrongly and mark stale lineage fresh (round-5 ADVICE).
        The caller's ``save()`` persists the bump atomically with the event
        that consumed it."""
        self.data["seq"] = int(self.data.get("seq", 0)) + 1
        return self.data["seq"]

    # -- maintenance journal --------------------------------------------
    def pending_maintenance_entries(self) -> list[dict]:
        """The pending-maintenance journal's entries."""
        return list(self.data.get("pending_maintenance", []))

    def journal_maintenance(self, op: str, tables: list[str]) -> int:
        """Append a durable journal entry declaring which tables' lineage
        the op's imminent dir swaps will invalidate.  A crash AFTER a swap
        lands but BEFORE ``record_stage`` re-records lineage would
        otherwise leave per-file lineage describing the pre-rewrite files
        with nothing marking it stale (``stats()`` would report
        just-compacted rows, ``optimize_postings`` would size partitions
        from ghosts).  ``maintenance._fresh_lineage`` treats a table in any
        entry as lineage-stale.  Entries are per-op (a second op crashing
        cannot be healed by a first op's commit): each lives until every
        one of its tables has fresh post-swap lineage recorded
        (``record_stage``), or until its owner withdraws it
        (``clear_maintenance`` — no swaps happened).  Returns the entry's
        seq (the owner's handle)."""
        entries = self.pending_maintenance_entries()
        seq = self.next_seq()
        entries.append(
            {"op": op, "tables": sorted(tables), "at": time.time(), "seq": seq}
        )
        self.data["pending_maintenance"] = entries
        self.save()
        return seq

    def clear_maintenance(self, seq: int) -> None:
        """Withdraw ONE journal entry by its seq — only the op that created
        it may call this (its swaps were all skipped, so the lineage it
        declared at-risk was never touched).  Foreign entries from other
        crashed ops stay: their tables remain stale until re-recorded."""
        entries = [
            e for e in self.pending_maintenance_entries() if e.get("seq") != seq
        ]
        if entries:
            self.data["pending_maintenance"] = entries
        else:
            self.data.pop("pending_maintenance", None)
        self.save()

    def record_stage(
        self,
        stage: str,
        tables: dict[str, str],
        metrics: dict | None = None,
        checksum: bool = True,
    ) -> None:
        """Commit a completed stage: hash all its table files, record
        lineage + metrics, atomically swap the manifest.  ``checksum=False``
        for frequent maintenance commits (see ``file_lineage``)."""
        for name, rel in tables.items():
            tdir = self.index_dir / rel
            self.data["tables"][name] = {
                "dir": rel,
                "files": file_lineage(tdir, checksum=checksum),
            }
        self.data["stages"][stage] = {
            "tables": list(tables),
            "committed_at": time.time(),
            "seq": self.next_seq(),
            "metrics": metrics or {},
        }
        # The stage commit just recorded CURRENT on-disk lineage for its
        # tables, so those tables leave every pending-maintenance entry —
        # including a foreign crashed op's (the fresh recording supersedes
        # whatever that op's swaps did to the same table).  Tables the
        # commit did NOT cover stay journaled: a completed optimize must
        # not re-trust the docs lineage a crashed compact invalidated.
        entries = []
        for e in self.pending_maintenance_entries():
            left = [t for t in e["tables"] if t not in tables]
            if left:
                entries.append({**e, "tables": left})
        if entries:
            self.data["pending_maintenance"] = entries
        else:
            self.data.pop("pending_maintenance", None)
        self.save()

    def save(self) -> None:
        self.index_dir.mkdir(parents=True, exist_ok=True)
        tmp = self.path.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(self.data, indent=1, sort_keys=True))
        os.replace(tmp, self.path)  # atomic commit, cf. index.py:110-117
