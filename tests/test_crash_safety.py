"""Crash-window tests for the append commit protocol and the optimize
per-partition swap (round-3 ADVICE items).

The reference's durability story is shard-level: flush → hash → atomic
rename (``src/splade_easy/index.py:103-122``) — a crash loses at most the
in-flight shard.  Our analogs are (a) the append docs-last commit point
with a pending-range journal and tombstone repair, and (b) the optimize
swap heal.  Both must leave the index queryable and score-identical to a
never-crashed run.
"""

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from splade_easy_spark.config import IndexConfig
from splade_easy_spark.data import generate_transcripts
from splade_easy_spark.index import build_index
from splade_easy_spark.index.append import append_documents, refresh_stats
from splade_easy_spark.index.catalog import IndexCatalog
from splade_easy_spark.index.maintenance import (
    compact,
    delete,
    heal_interrupted_swaps,
    migrate_postings,
    optimize_postings,
    reshard,
    stats,
)
from splade_easy_spark.query import Searcher
from tests.oracle import assert_files_ordered
from tests.retired_layouts import SHAPES, retire, tree_state

CFG = IndexConfig(build_partitions=4, term_buckets=8, segment_docs=128, block_size=32)
QUERIES = ["baba0 ceba1", "diba2 foba3 baba0"]


def _snapshot(spark, idx):
    s = Searcher(spark, idx, CFG)
    out = {}
    for q in QUERIES:
        for m in ("sql", "wand"):
            out[(q, m)] = [
                (r["doc_id"], round(r["score"], 6))
                for r in s.search(q, 15, method=m).collect()
            ]
    return out


def test_append_crash_before_commit_is_repaired(spark, tmp_path, monkeypatch):
    """Crash between the postings write and the docs write (the commit
    point): the orphaned doc_int range must be tombstoned, the re-delivered
    batch must append cleanly under fresh ids, and results must equal a
    never-crashed index's — no silent loss (the round-3 docs-first bug) and
    no double-scoring."""
    import splade_easy_spark.index.append as ap

    base = generate_transcripts(spark, num_convs=8, seed=11)
    batch = generate_transcripts(spark, num_convs=3, seed=12)

    # one build, two copies (the build is deterministic)
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    build_index(spark, base, clean, CFG)
    shutil.copytree(clean, crashed)
    clean_out = append_documents(spark, clean, batch, CFG)
    assert clean_out["appended_docs"] > 0

    def boom(cat, new_docs):
        raise RuntimeError("injected crash at the docs commit point")

    monkeypatch.setattr(ap, "_commit_docs", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        append_documents(spark, crashed, batch, CFG)
    monkeypatch.undo()

    man = IndexCatalog(crashed).manifest
    pend = man.data.get("pending_append")
    assert pend is not None and pend["hi"] > pend["lo"]
    # orphan postings exist but docs for the range do not (docs-last order)
    lo, hi = pend["lo"], pend["hi"]
    docs = spark.read.parquet(f"{crashed}/docs")
    assert docs.where(F.col("doc_int").between(lo, hi - 1)).count() == 0
    orphan_postings = (
        spark.read.parquet(f"{crashed}/postings")
        .where((F.col("doc_min") < hi) & (F.col("doc_max") >= lo))
        .count()
    )
    assert orphan_postings > 0, "crash fixture produced no orphans"

    # re-delivery: repair (tombstone the range) + clean append
    out = append_documents(spark, crashed, batch, CFG)
    assert out["appended_docs"] == clean_out["appended_docs"]
    man2 = IndexCatalog(crashed).manifest
    assert "pending_append" not in man2.data
    assert man2.data["next_doc_int"] > hi  # range skipped, fresh ids after

    # results identical to the never-crashed index (scores don't depend on
    # doc_int; tombstoned orphans are masked in both kernels)
    assert _snapshot(spark, crashed) == _snapshot(spark, clean)
    # no doc surfaces twice
    for rows in _snapshot(spark, crashed).values():
        ids = [d for d, _ in rows]
        assert len(ids) == len(set(ids))
    # doc accounting: orphan tombstones must not deflate num_docs
    st = stats(spark, crashed)
    assert st["num_docs"] == stats(spark, clean)["num_docs"]
    assert st["num_deleted"] == 0

    # compact physically removes the orphan rows and clears the flag
    # (blocks repacked after compact may legitimately SPAN the skipped id
    # range, so assert at posting grain: no doc_int inside the orphan range)
    compact(spark, crashed, CFG)
    dt = spark.read.parquet(f"{crashed}/doc_terms")
    assert dt.where(F.col("doc_int").between(lo, hi - 1)).count() == 0
    assert "orphan_tombstones" not in IndexCatalog(crashed).manifest.data
    assert _snapshot(spark, crashed) == _snapshot(spark, clean)


def test_append_crash_after_commit_finishes_bookkeeping(spark, tmp_path):
    """Crash between the docs write and the manifest save: the batch is
    fully committed; repair must only finish the bookkeeping (advance
    next_doc_int, clear the journal) — no tombstones, no re-append."""
    idx = str(tmp_path / "idx")
    build_index(spark, generate_transcripts(spark, num_convs=8, seed=21), idx, CFG)
    batch = generate_transcripts(spark, num_convs=2, seed=22)
    out = append_documents(spark, idx, batch, CFG)
    n = out["appended_docs"]
    before = _snapshot(spark, idx)

    # rewind the manifest to the pre-save state of that append
    man = IndexCatalog(idx).manifest
    hi = int(man.data["next_doc_int"])
    lo = hi - n
    man.data["pending_append"] = {"lo": lo, "hi": hi}
    man.data["next_doc_int"] = lo
    man.save()

    out2 = append_documents(spark, idx, batch, CFG)  # re-delivered epoch
    assert out2["appended_docs"] == 0  # dedupe anti-join sees committed docs
    man2 = IndexCatalog(idx).manifest
    assert "pending_append" not in man2.data
    assert int(man2.data["next_doc_int"]) == hi
    assert not Path(idx, "deleted").exists()  # no tombstones written
    assert _snapshot(spark, idx) == before


def _fragmented_index(spark, tmp_path, name, pack_cosine=True):
    cfg = IndexConfig(
        build_partitions=4, term_buckets=8, segment_docs=128, block_size=32,
        pack_cosine=pack_cosine,
    )
    idx = str(tmp_path / name)
    build_index(spark, generate_transcripts(spark, num_convs=8, seed=31), idx, cfg)
    for seed in (32, 33):
        append_documents(
            spark, idx, generate_transcripts(spark, num_convs=3, seed=seed), cfg
        )
    return idx, cfg


def test_optimize_swap_crash_is_healed(spark, tmp_path):
    """Interrupted per-partition swap (live renamed away, staged dir still
    present): the heal must restore the live partition BEFORE staging is
    garbage-collected, queries must work again, and a rerun of optimize
    must complete with byte-identical scores (round-3 ADVICE high)."""
    idx, cfg = _fragmented_index(spark, tmp_path, "heal")
    before = _snapshot(spark, idx)
    post_dir = Path(idx) / "postings"
    seg0 = sorted(post_dir.glob("seg=*"))[0]

    # reproduce the exact crash window of optimize_postings' swap loop:
    # staged replacement written, live renamed to __old, second rename never
    # ran, staging never cleaned
    staged = post_dir.with_name("postings__rewrite")
    shutil.copytree(seg0, staged / seg0.name)
    seg0.rename(seg0.with_name(seg0.name + "__old"))
    assert not seg0.exists()

    # a plain read now sees partition value "0__old" → the table is broken
    # until healed; Searcher heals on open
    s = Searcher(spark, idx, cfg)
    assert seg0.exists(), "searcher open did not heal the interrupted swap"
    assert s.healed == [str(seg0.with_name(seg0.name + "__old"))]
    assert _snapshot(spark, idx) == before

    # staging is still around; the next maintenance run GCs it safely
    assert staged.exists()
    out = optimize_postings(spark, idx, cfg)
    assert not staged.exists()
    assert out["segs_rewritten"] > 0
    assert _snapshot(spark, idx) == before

    # completed-swap crash residue (live present AND __old present): healed
    # by deletion, never by clobbering the live dir
    seg_any = sorted(post_dir.glob("seg=*"))[0]
    shutil.copytree(seg_any, seg_any.with_name(seg_any.name + "__old"))
    healed = heal_interrupted_swaps(idx)
    assert healed and not seg_any.with_name(seg_any.name + "__old").exists()
    assert seg_any.exists()
    assert _snapshot(spark, idx) == before


def test_optimize_pre_nwts_index(spark, tmp_path):
    """optimize_postings on an index whose postings table predates the
    cosine stream (no nwts/max_nweight columns at all) refuses with the
    migrate error before touching a file; after migrate_postings it merges
    with byte-identical scores."""
    idx, cfg = _fragmented_index(spark, tmp_path, "prenwts", pack_cosine=False)
    before = _snapshot(spark, idx)
    retire(spark, idx, ["no_nwts"])
    state = tree_state(idx)
    with pytest.raises(RuntimeError, match="cli migrate --index"):
        optimize_postings(spark, idx, cfg, min_files=1)
    assert tree_state(idx) == state

    assert migrate_postings(spark, idx, cfg)["migrated"] is True
    out = optimize_postings(spark, idx, cfg, min_files=1)
    assert out["segs_rewritten"] > 0
    merged = spark.read.parquet(str(Path(idx) / "postings"))
    assert "nwts" in merged.columns  # the current schema, empty cosine stream
    assert _snapshot(spark, idx) == before


def test_optimize_mixed_nwts_raises(spark, tmp_path):
    """A (seg, term) group mixing runs with and without the cosine stream is
    index corruption: optimize must refuse loudly instead of silently
    writing empty nwts (round-3 ADVICE low)."""
    idx, cfg = _fragmented_index(spark, tmp_path, "mixed")
    post_dir = Path(idx) / "postings"
    post = spark.read.parquet(str(post_dir))
    # find a (seg, term) with >= 2 runs and blank ONE run's nwts
    frag = (
        post.groupBy("seg", "term_id").count().where(F.col("count") > 1).limit(1).collect()
    )
    assert frag, "fixture never fragmented"
    seg, term = frag[0]["seg"], frag[0]["term_id"]
    corrupted = post.withColumn(
        "nwts",
        F.when(
            (F.col("seg") == seg) & (F.col("term_id") == term) & (F.col("block_id") == 0),
            F.lit(b""),
        ).otherwise(F.col("nwts")),
    ).withColumn(
        "max_nweight",
        F.when(
            (F.col("seg") == seg) & (F.col("term_id") == term) & (F.col("block_id") == 0),
            F.lit(0.0),
        ).otherwise(F.col("max_nweight")),
    )
    tmp_out = str(tmp_path / "mixed_corrupt")
    corrupted.write.partitionBy("seg").parquet(tmp_out)
    shutil.rmtree(post_dir)
    shutil.move(tmp_out, post_dir)

    with pytest.raises(Exception, match="mixes"):
        optimize_postings(spark, idx, cfg, min_files=1)


def test_vector_append_crash_before_commit_is_repaired(spark, tmp_path, monkeypatch):
    """The vector-mode appender shares the docs-last protocol: a crash at
    the commit point must leave the index repairable and the re-delivered
    batch must land with results identical to a never-crashed run."""
    import numpy as np

    import splade_easy_spark.index.append as ap
    from splade_easy_spark.index.vector_builder import (
        append_vector_documents,
        build_vector_index,
        vector_query_terms,
    )

    vcfg = IndexConfig(build_partitions=2, term_buckets=8, segment_docs=64, block_size=16)
    schema = (
        "doc_id STRING, text STRING, metadata MAP<STRING,STRING>, "
        "token_ids ARRAY<INT>, weights ARRAY<FLOAT>"
    )
    rng = np.random.default_rng(55)

    def mk(i):
        n = int(rng.integers(5, 20))
        ids = sorted(int(x) for x in rng.choice(300, size=n, replace=False))
        w = [float(x) for x in rng.uniform(0.01, 2.0, size=n).astype(np.float32)]
        return (f"doc_{i:03d}", None, None, ids, w)

    base = [mk(i) for i in range(25)]
    batch = [mk(i) for i in range(25, 40)]
    q = vector_query_terms([3, 42, 250, 7], [1.0, 0.5, 2.0, 0.25])

    def results(idx):
        s = Searcher(spark, idx, vcfg)
        return {
            m: [(r["doc_id"], round(r["score"], 6)) for r in s.search(q, 20, method=m).collect()]
            for m in ("sql", "wand")
        }

    # one build, two copies (the build is deterministic)
    clean, crashed = str(tmp_path / "vclean"), str(tmp_path / "vcrashed")
    build_vector_index(spark, spark.createDataFrame(base, schema), clean, vcfg)
    shutil.copytree(clean, crashed)
    append_vector_documents(spark, clean, spark.createDataFrame(batch, schema), vcfg)

    def boom(cat, new_docs):
        raise RuntimeError("injected vector crash")

    monkeypatch.setattr(ap, "_commit_docs", boom)
    with pytest.raises(RuntimeError, match="injected vector crash"):
        append_vector_documents(spark, crashed, spark.createDataFrame(batch, schema), vcfg)
    monkeypatch.undo()

    assert IndexCatalog(crashed).manifest.data.get("pending_append")
    out = append_vector_documents(spark, crashed, spark.createDataFrame(batch, schema), vcfg)
    assert out["appended_docs"] == len(batch)
    assert "pending_append" not in IndexCatalog(crashed).manifest.data
    assert results(crashed) == results(clean)


def test_searcher_excludes_pending_range_without_writing(spark, tmp_path, monkeypatch):
    """Read-only workloads must not see the crash window — AND must not
    "repair" it either: a pending journal also exists during every healthy
    in-flight append, so a reader that tombstoned the range would destroy
    the batch being written (round-4 review).  The searcher instead
    EXCLUDES the journaled doc_int range from its plans: queries equal the
    committed-state index, the journal and orphan files are untouched
    (writer remains the sole healer, read-only replicas stay read-only)."""
    import splade_easy_spark.index.append as ap

    base = generate_transcripts(spark, num_convs=8, seed=61)
    idx = str(tmp_path / "idx")
    build_index(spark, base, idx, CFG)
    base_snap = _snapshot(spark, idx)

    def boom(cat, new_docs):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(ap, "_commit_docs", boom)
    batch = generate_transcripts(spark, num_convs=3, seed=62).withColumn(
        "conv_id", F.concat(F.lit("x"), F.col("conv_id"))
    )
    with pytest.raises(RuntimeError):
        append_documents(spark, idx, batch, CFG)
    monkeypatch.undo()
    assert IndexCatalog(idx).manifest.data.get("pending_append")

    # queries see the committed state only (orphans excluded via pushed
    # range predicates) — and NOTHING was written: journal intact, no
    # tombstone table appeared
    assert _snapshot(spark, idx) == base_snap
    assert IndexCatalog(idx).manifest.data.get("pending_append")
    assert not Path(idx, "deleted").exists()

    # the writer's re-delivered batch heals and lands cleanly afterwards
    out = append_documents(spark, idx, batch, CFG)
    assert out["appended_docs"] > 0
    assert "pending_append" not in IndexCatalog(idx).manifest.data


def test_repair_marks_lineage_stale(spark, tmp_path, monkeypatch):
    """The repair must register as append activity: after it runs, the
    manifest's per-file lineage is STALE and stats()/optimize fall back to
    the filesystem instead of trusting pre-crash file lists (round-4
    review fix)."""
    import splade_easy_spark.index.append as ap
    from splade_easy_spark.index.maintenance import _fresh_lineage

    idx = str(tmp_path / "idx")
    build_index(spark, generate_transcripts(spark, num_convs=6, seed=63), idx, CFG)
    cat = IndexCatalog(idx, CFG)
    assert _fresh_lineage(cat, "postings") is not None  # fresh after build

    def boom(c, new_docs):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(ap, "_commit_docs", boom)
    batch = generate_transcripts(spark, num_convs=2, seed=64).withColumn(
        "conv_id", F.concat(F.lit("y"), F.col("conv_id"))
    )
    with pytest.raises(RuntimeError):
        append_documents(spark, idx, batch, CFG)
    monkeypatch.undo()

    cat2 = IndexCatalog(idx, CFG)
    assert _fresh_lineage(cat2, "postings") is None  # pending journal → stale
    ap._repair_pending(spark, cat2)
    cat3 = IndexCatalog(idx, CFG)
    # repaired: journal gone, but the repair itself is append activity —
    # orphan runs/tombstones exist that the recorded lineage doesn't know
    assert "pending_append" not in cat3.manifest.data
    assert _fresh_lineage(cat3, "postings") is None


def test_optimize_tolerates_concurrent_heal(spark, tmp_path, monkeypatch):
    """A reader's heal_interrupted_swaps restoring a partition BETWEEN the
    optimizer's two renames must not abort optimize or corrupt the table:
    the swap retries, so the raced partition is merged too (round-4
    review fix)."""
    idx, cfg = _fragmented_index(spark, tmp_path, "race")
    before = _snapshot(spark, idx)
    post_dir = Path(idx) / "postings"
    n_frag = sum(1 for p in post_dir.glob("seg=*") if len(list(p.glob("*.parquet"))) >= 2)

    real_rename = Path.rename
    raced = {}

    def racing_rename(self, target):
        res = real_rename(self, target)
        t = str(target)
        if t.endswith("__old") and "/postings/" in t and not raced:
            raced["seg"] = t
            # simulate the concurrent reader's heal: live dir restored
            # from __old while the optimizer is between its two renames
            shutil.copytree(t, str(self))
        return res

    monkeypatch.setattr(Path, "rename", racing_rename)
    out = optimize_postings(spark, idx, cfg)
    monkeypatch.undo()

    assert raced, "race never triggered — fixture had no fragmented seg"
    # the raced partition's merge lands on the swap's retry
    assert out["segs_rewritten"] == n_frag
    assert not list(post_dir.glob("*__old"))
    assert not post_dir.with_name("postings__rewrite").exists()
    assert _snapshot(spark, idx) == before  # scores untouched either way
    # nothing is left to merge
    out2 = optimize_postings(spark, idx, cfg)
    assert out2["segs_rewritten"] == 0
    assert _snapshot(spark, idx) == before


def test_table_swap_crash_window_heals(spark, tmp_path):
    """compact/reshard's whole-table swap has the same two-rename window as
    the per-partition one: a crash leaves `<table>__old` holding the ONLY
    copy while `<table>__rewrite` staging exists — the GC must restore the
    table before deleting either dir, not drop the data (round-4 fix)."""
    idx = str(tmp_path / "idx")
    build_index(spark, generate_transcripts(spark, num_convs=6, seed=71), idx, CFG)
    before = _snapshot(spark, idx)

    docs = Path(idx) / "docs"
    # crash state: staged rewrite exists, live renamed away, second rename
    # never ran
    shutil.copytree(docs, docs.with_name("docs__rewrite"))
    docs.rename(docs.with_name("docs__old"))
    assert not docs.exists()

    healed = heal_interrupted_swaps(idx)
    assert healed and docs.exists()
    assert _snapshot(spark, idx) == before

    # the staging is GC'd by the next maintenance op without touching the
    # restored table
    compact(spark, idx, CFG)
    assert docs.exists()
    assert not docs.with_name("docs__rewrite").exists()
    assert not docs.with_name("docs__old").exists()
    assert _snapshot(spark, idx) == before


def test_maintenance_on_crashed_index_repairs_first(spark, tmp_path, monkeypatch):
    """Maintenance ops are writer-side: running optimize directly on a
    crashed index (no append in between) must repair the journal BEFORE
    rewriting — otherwise orphan runs would merge into blocks spanning the
    journaled range and defeat the reader-side exclusion predicate."""
    import splade_easy_spark.index.append as ap
    from splade_easy_spark.index.maintenance import optimize_postings

    idx = str(tmp_path / "idx")
    build_index(spark, generate_transcripts(spark, num_convs=8, seed=81), idx, CFG)
    base_snap = _snapshot(spark, idx)

    def boom(cat, new_docs):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(ap, "_commit_docs", boom)
    batch = generate_transcripts(spark, num_convs=3, seed=82).withColumn(
        "conv_id", F.concat(F.lit("z"), F.col("conv_id"))
    )
    with pytest.raises(RuntimeError):
        append_documents(spark, idx, batch, CFG)
    monkeypatch.undo()
    assert IndexCatalog(idx).manifest.data.get("pending_append")

    optimize_postings(spark, idx, CFG, min_files=1)
    man = IndexCatalog(idx).manifest.data
    assert "pending_append" not in man  # repair ran at maintenance entry
    # post-repair correctness comes from exact tombstone masking, so even
    # merged (possibly boundary-spanning) blocks score correctly
    assert _snapshot(spark, idx) == base_snap
    # and the re-delivered batch lands cleanly on the optimized index
    out = append_documents(spark, idx, batch, CFG)
    assert out["appended_docs"] > 0


def test_long_lived_reader_survives_optimize_merge_across_watermark(spark, tmp_path):
    """Round-5 ADVICE high: a reader opened at watermark W keeps serving its
    as-of-open snapshot even after a concurrent append COMMITS and a
    concurrent optimize merges the tail segment's runs across W.  The
    merged blocks have doc_min < W <= doc_max; the round-4 block-grain
    predicate (doc_max < W) dropped them whole, silently losing committed
    pre-snapshot postings for those terms — the fix keeps spanning blocks
    (pushed doc_min < W) and masks doc_int >= W row-exactly in the kernel."""
    idx = str(tmp_path / "idx")
    build_index(spark, generate_transcripts(spark, num_convs=8, seed=91), idx, CFG)
    reader = Searcher(spark, idx, CFG)  # snapshot W = next_doc_int at open
    w = reader._snapshot_max
    assert w is not None and w > 0
    expected = {
        q: [
            (r["doc_id"], round(r["score"], 6))
            for r in reader.search(q, 15, method="wand").collect()
        ]
        for q in QUERIES
    }

    batch = generate_transcripts(spark, num_convs=3, seed=92).withColumn(
        "conv_id", F.concat(F.lit("w"), F.col("conv_id"))
    )
    assert append_documents(spark, idx, batch, CFG)["appended_docs"] > 0
    optimize_postings(spark, idx, CFG, min_files=2)

    # the merge must actually produce watermark-spanning blocks, or this
    # test exercises nothing
    post = spark.read.parquet(f"{idx}/postings")
    spanning = post.where((F.col("doc_min") < w) & (F.col("doc_max") >= w)).count()
    assert spanning > 0

    # the long-lived reader relists postings per search and now sees the
    # spanning blocks — results must still equal its as-of-open snapshot
    for q in QUERIES:
        got = [
            (r["doc_id"], round(r["score"], 6))
            for r in reader.search(q, 15, method="wand").collect()
        ]
        assert got == expected[q]
    # batch path through the same snapshot bound
    many = reader.search_many(
        [{"query_id": f"q{i}", "text": q} for i, q in enumerate(QUERIES)],
        top_k=15,
        method="wand",
    ).collect()
    for i, q in enumerate(QUERIES):
        got = [
            (r["doc_id"], round(r["score"], 6))
            for r in many
            if r["query_id"] == f"q{i}"
        ]
        assert got == expected[q]
    # a FRESH reader sees the appended docs (the snapshot is per-open, not
    # a permanent ceiling)
    fresh = Searcher(spark, idx, CFG)
    assert fresh._snapshot_max > w


def test_partial_docs_write_repaired_count_exact(spark, tmp_path, monkeypatch):
    """Round-5 ADVICE medium: with v2/direct output committers a crash
    mid-docs-write can leave a PARTIAL doc_int range.  The repair must not
    declare the batch committed from mere existence: it counts distinct
    doc_ints in [lo, hi) and tombstones exactly the ABSENT sub-range — the
    present docs keep serving (docs + postings durable), the absent ids'
    orphan postings never score, and the re-delivered batch restores
    exactly the missing docs.  End state equals a never-crashed index."""
    import splade_easy_spark.index.append as ap

    base = generate_transcripts(spark, num_convs=8, seed=93)
    batch = generate_transcripts(spark, num_convs=3, seed=94).withColumn(
        "conv_id", F.concat(F.lit("p"), F.col("conv_id"))
    )
    # one build, two copies (the build is deterministic)
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    build_index(spark, base, clean, CFG)
    shutil.copytree(clean, crashed)
    assert append_documents(spark, clean, batch, CFG)["appended_docs"] > 0
    real_commit = ap._commit_docs

    def partial_commit(cat, new_docs):
        ids = sorted(r["doc_int"] for r in new_docs.select("doc_int").collect())
        keep = ids[: len(ids) // 2]
        real_commit(cat, new_docs.where(F.col("doc_int").isin(keep)))
        raise RuntimeError("injected crash mid-docs-write")

    monkeypatch.setattr(ap, "_commit_docs", partial_commit)
    with pytest.raises(RuntimeError, match="mid-docs-write"):
        append_documents(spark, crashed, batch, CFG)
    monkeypatch.undo()

    out = append_documents(spark, crashed, batch, CFG)
    man = IndexCatalog(crashed).manifest.data
    assert "pending_append" not in man
    rep = [a for a in man["appends"] if "repaired_range" in a][0]
    lo, hi = rep["repaired_range"]
    assert rep["docs_were_committed"] is False
    assert 0 < rep["docs_present"] < hi - lo
    # exactly the absent half was re-appended under fresh ids
    assert out["appended_docs"] == (hi - lo) - rep["docs_present"]

    assert _snapshot(spark, crashed) == _snapshot(spark, clean)
    assert stats(spark, crashed)["num_docs"] == stats(spark, clean)["num_docs"]


def test_maintenance_crash_before_record_stage_marks_lineage_stale(
    spark, tmp_path, monkeypatch
):
    """Round-5 ADVICE low: a crash after compact's swaps land but before
    record_stage re-records lineage leaves the manifest describing the
    PRE-rewrite files with no append entry to flag it.  The journaled
    pending_maintenance marker makes _fresh_lineage distrust it, so
    stats() counts the post-compact filesystem instead of ghosts."""
    from splade_easy_spark.index.maintenance import _fresh_lineage, delete
    from splade_easy_spark.index.manifest import Manifest

    idx = str(tmp_path / "idx")
    build_index(spark, generate_transcripts(spark, num_convs=6, seed=95), idx, CFG)
    n0 = stats(spark, idx)["num_docs"]
    victims = [r["doc_id"] for r in spark.read.parquet(f"{idx}/docs").limit(5).collect()]
    assert delete(spark, idx, victims) == 5

    def boom(self, *a, **k):
        raise RuntimeError("injected crash before stage commit")

    monkeypatch.setattr(Manifest, "record_stage", boom)
    with pytest.raises(RuntimeError, match="before stage commit"):
        compact(spark, idx, CFG)
    monkeypatch.undo()

    cat = IndexCatalog(idx, CFG)
    assert cat.manifest.data.get("pending_maintenance")
    assert _fresh_lineage(cat, "docs") is None  # never trust pre-compact lineage
    assert stats(spark, idx)["num_docs"] == n0 - 5  # counted from disk

    # the next maintenance op's writer-side repair re-records CURRENT
    # lineage for every journaled table (single-writer contract: the
    # crashed op's swaps are final once interrupted-swap heal settles),
    # so the journal clears AND docs lineage now tells the post-compact
    # truth — the ghost count can no longer come back.  Round-5 review:
    # the old whole-marker pop let optimize clear compact's entry WITHOUT
    # re-recording docs, resurrecting the pre-compact ghost lineage.
    optimize_postings(spark, idx, CFG, min_files=1)
    cat2 = IndexCatalog(idx, CFG)
    assert cat2.manifest.pending_maintenance_entries() == []
    assert _fresh_lineage(cat2, "postings") is not None
    assert _fresh_lineage(cat2, "doc_terms") is not None
    docs_lineage = _fresh_lineage(cat2, "docs")
    assert docs_lineage is not None  # healed: describes post-compact files
    assert stats(spark, idx)["num_docs"] == n0 - 5  # fast path, true count


def test_seq_orders_equal_timestamp_events(spark, tmp_path):
    """Round-5 ADVICE low: freshness must not depend on wall-clock order —
    an append that lands the same instant as a stage commit (coarse
    clocks, cross-host writers) must still mark lineage stale.  The
    manifest's monotonic seq provides the order."""
    from splade_easy_spark.index.maintenance import _fresh_lineage

    idx = str(tmp_path / "idx")
    build_index(spark, generate_transcripts(spark, num_convs=4, seed=96), idx, CFG)
    batch = generate_transcripts(spark, num_convs=2, seed=97).withColumn(
        "conv_id", F.concat(F.lit("s"), F.col("conv_id"))
    )
    assert append_documents(spark, idx, batch, CFG)["appended_docs"] > 0
    cat = IndexCatalog(idx, CFG)
    man = cat.manifest
    # forge the adversarial clock: the append's timestamp exactly equals
    # every stage commit's (the old `at > committed_at` comparison called
    # this fresh)
    t = max(s["committed_at"] for s in man.data["stages"].values())
    for a in man.data["appends"]:
        a["at"] = t
    for s in man.data["stages"].values():
        s["committed_at"] = t
    man.save()
    cat2 = IndexCatalog(idx, CFG)
    assert all("seq" in s for s in cat2.manifest.data["stages"].values())
    assert all("seq" in a for a in cat2.manifest.data["appends"])
    assert _fresh_lineage(cat2, "postings") is None


def _writers(spark, idx, cfg):
    """Every writer entry point, each a call that must refuse a format-1
    index in the shared prologue."""
    tx = generate_transcripts(spark, num_convs=2, seed=92)
    return {
        "append": lambda: append_documents(spark, idx, tx, cfg),
        "optimize": lambda: optimize_postings(spark, idx, cfg, min_files=1),
        "compact": lambda: compact(spark, idx, cfg),
        "reshard": lambda: reshard(spark, idx, cfg),
        "delete": lambda: delete(spark, idx, ["conv_00000000#0"]),
        "refresh_stats": lambda: refresh_stats(spark, idx, cfg),
        "resume_build": lambda: build_index(spark, tx, idx, cfg, resume=True),
        "searcher": lambda: Searcher(spark, idx, cfg),
    }


def _migrated_exactly(spark, idx, seed):
    """After a completed migrate: format 2 under ``seed``, the packed and
    registered term ids are that seed's hashes, WAND = SQL, and the
    maintenance journal is empty."""
    from splade_easy_spark.index.catalog import term_id_py

    man = IndexCatalog(idx, CFG).manifest
    assert man.format_version == 2
    assert man.data["layout"]["term_id_seed"] == seed
    assert man.pending_maintenance_entries() == []
    ts = spark.read.parquet(f"{idx}/term_stats").select("term", "term_id").collect()
    assert all(r["term_id"] == term_id_py(r["term"], seed) for r in ts)
    packed = {r[0] for r in spark.read.parquet(f"{idx}/postings").select("term_id").distinct().collect()}
    assert packed <= {r["term_id"] for r in ts}
    s = Searcher(spark, idx, CFG)
    w = [(r["doc_id"], round(r["score"], 5)) for r in s.search(QUERIES[0], 10, method="wand").collect()]
    q = [(r["doc_id"], round(r["score"], 5)) for r in s.search(QUERIES[0], 10, method="sql").collect()]
    assert w == q and len(w) > 0
    assert_files_ordered(idx)


def _crash_migrate(spark, idx, cfg, monkeypatch, target, when):
    """Run migrate_postings with an injected crash: ``target`` is the
    maintenance-module function to break and ``when(args)`` picks the
    call that raises."""
    import splade_easy_spark.index.maintenance as mt
    from splade_easy_spark.index.manifest import Manifest

    owner = Manifest if target == "record_stage" else mt
    real = getattr(owner, target)

    def boom(*a, **k):
        if when(a):
            raise RuntimeError("injected crash inside migrate")
        return real(*a, **k)

    monkeypatch.setattr(owner, target, boom)
    with pytest.raises(RuntimeError, match="injected crash inside migrate"):
        migrate_postings(spark, idx, cfg)
    monkeypatch.undo()


def test_migrate_crash_between_swap_and_commit_heals(spark, tmp_path, monkeypatch):
    """A migrate_postings whose dir swaps land but whose stage commit does
    not leaves current-format tables under a format-1 manifest.  Writers
    refuse that state (the format, not the physical columns, decides), and
    re-running migrate — here under a different term_id seed — finishes
    it from the same input: migrate never writes doc_terms."""
    import dataclasses

    idx = str(tmp_path / "legacy")
    build_index(spark, generate_transcripts(spark, num_convs=6, seed=91), idx, CFG)
    retire(spark, idx, ["string_keys"])
    cfg_seeded = dataclasses.replace(CFG, term_id_seed=7)
    _crash_migrate(
        spark, idx, cfg_seeded, monkeypatch, "record_stage", lambda a: a[1] == "migrate"
    )

    cat = IndexCatalog(idx, CFG)
    assert "term_id" in spark.read.parquet(f"{idx}/postings").columns
    assert cat.manifest.format_version == 1
    assert any(e["op"] == "migrate_postings" for e in cat.manifest.pending_maintenance_entries())
    state = tree_state(idx)
    for call in _writers(spark, idx, CFG).values():
        with pytest.raises(RuntimeError, match="cli migrate --index"):
            call()
    assert tree_state(idx) == state

    assert migrate_postings(spark, idx, CFG)["migrated"] is True
    _migrated_exactly(spark, idx, seed=0)


def test_layout_mismatch_without_witness_raises(spark, tmp_path):
    """Current-format tables under a manifest that says format 1, with no
    pending migrate journal: every writer and the Searcher refuse with the
    migrate error before writing anything — none of them inspects the
    physical layout."""
    idx = str(tmp_path / "idx")
    build_index(spark, generate_transcripts(spark, num_convs=4, seed=93), idx, CFG)
    cat = IndexCatalog(idx, CFG)
    cat.manifest.data["format_version"] = 1
    cat.manifest.save()
    state = tree_state(idx)
    for call in _writers(spark, idx, CFG).values():
        with pytest.raises(RuntimeError, match="cli migrate --index"):
            call()
    assert tree_state(idx) == state


def test_migrate_crash_mid_swap_reruns_under_any_seed(spark, tmp_path, monkeypatch):
    """A migrate killed inside its postings swap — term_stats already
    swapped in, live postings renamed to ``postings__old``, the staged
    rewrite not yet moved — is refused by writers and finished by
    re-running migrate under a different seed: the swap heal restores the
    old postings, the staging is collected, and the rerun records the seed
    its ids were packed with."""
    import dataclasses

    import splade_easy_spark.index.maintenance as mt

    idx = str(tmp_path / "legacy")
    build_index(spark, generate_transcripts(spark, num_convs=5, seed=97), idx, CFG)
    retire(spark, idx, SHAPES)

    def mid_swap(a):
        if a[1] != "postings":
            return False
        live = Path(a[0].table_dir("postings"))
        live.rename(live.with_name("postings__old"))
        return True

    _crash_migrate(
        spark, idx, dataclasses.replace(CFG, term_id_seed=7), monkeypatch, "_swap_in", mid_swap
    )
    assert not (Path(idx) / "postings").exists()
    assert (Path(idx) / "postings__rewrite").exists()
    assert IndexCatalog(idx, CFG).manifest.format_version == 1
    for call in (
        lambda: append_documents(spark, idx, generate_transcripts(spark, num_convs=2, seed=98), CFG),
        lambda: Searcher(spark, idx, CFG),
    ):
        with pytest.raises(RuntimeError, match="cli migrate --index"):
            call()

    assert migrate_postings(spark, idx, CFG)["migrated"] is True
    assert not list(Path(idx).glob("*__*"))
    _migrated_exactly(spark, idx, seed=0)
    assert mt.migrate_postings(spark, idx, CFG)["migrated"] is False


def test_append_heals_interrupted_table_swap(spark, tmp_path):
    """Round-5 review HIGH: an append arriving after a maintenance op
    crashed between live.rename(__old) and staged.rename(live) must
    restore the table dir BEFORE doing anything else — without the heal,
    the migration check sees "no postings dir" and the append's write
    recreates the table holding only the new batch's blocks (the sole
    copy of the corpus sits in postings__old until a GC deletes it)."""
    idx = str(tmp_path / "idx")
    build_index(spark, generate_transcripts(spark, num_convs=4, seed=95), idx, CFG)
    n0 = stats(spark, idx)["num_docs"]
    # simulate the crash window: live dir renamed away, staged gone
    shutil.move(str(Path(idx) / "postings"), str(Path(idx) / "postings__old"))

    out = append_documents(
        spark, idx, generate_transcripts(spark, num_convs=2, seed=96), CFG
    )
    assert out["appended_docs"] > 0
    assert (Path(idx) / "postings").exists()
    assert not (Path(idx) / "postings__old").exists()
    st = stats(spark, idx)
    assert st["num_docs"] == n0 + out["appended_docs"]
    # the ORIGINAL corpus is still searchable (not just the appended batch)
    s = Searcher(spark, idx, CFG)
    w = [(r["doc_id"], round(r["score"], 5)) for r in s.search(QUERIES[0], 10, method="wand").collect()]
    q = [(r["doc_id"], round(r["score"], 5)) for r in s.search(QUERIES[0], 10, method="sql").collect()]
    assert w == q and len(w) > 0
