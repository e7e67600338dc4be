"""Incremental append + streaming appender tests (reference W1-W3 analog,
``src/splade_easy/index.py:133-205``; resume-ingest ``ingest/datasets.py:63-68``)."""

import pytest
from pyspark.sql import functions as F

from splade_easy_spark.config import IndexConfig
from splade_easy_spark.data import generate_transcripts
from splade_easy_spark.data.transcripts import TRANSCRIPT_SCHEMA
from splade_easy_spark.index import build_index
from splade_easy_spark.index.append import append_documents, refresh_stats
from splade_easy_spark.query import Searcher
from tests.oracle import assert_files_ordered, assert_single_norm_rule

CFG = IndexConfig(build_partitions=4, term_buckets=8, segment_docs=128, block_size=32)


def test_append_then_search(spark, tmp_path):
    idx = str(tmp_path / "idx")
    all_tx = generate_transcripts(spark, num_convs=10, seed=11)
    first = all_tx.where(F.col("conv_id") < "conv_00000007")
    rest = all_tx.where(F.col("conv_id") >= "conv_00000007")
    build_index(spark, first, idx, CFG)

    s = Searcher(spark, idx, CFG)
    out = append_documents(spark, idx, rest, CFG)
    assert out["appended_docs"] == rest.count()

    s2 = Searcher(spark, idx, CFG)
    docs = spark.read.parquet(f"{idx}/docs")
    assert docs.count() == all_tx.count()
    # doc_ints remain unique and dense-extended
    assert docs.select("doc_int").distinct().count() == docs.count()
    # appended docs are findable
    new_doc = rest.limit(1).collect()[0]
    did = f"{new_doc['conv_id']}#{new_doc['turn_idx']}"
    assert s2.get(did) is not None
    hits = s2.search("baba0", top_k=100).collect()
    hit_ids = {r["doc_id"] for r in hits}
    assert any(h.startswith("conv_0000000" + str(i)) for h in hit_ids for i in (7, 8, 9))


def test_append_redelivery_is_idempotent(spark, tmp_path):
    """A re-delivered micro-batch (foreachBatch is at-least-once across
    restarts) must append nothing: doc counts, doc_ids, and search scores
    stay identical — exactly-once at the doc_id grain."""
    idx = str(tmp_path / "idx")
    all_tx = generate_transcripts(spark, num_convs=8, seed=23)
    first = all_tx.where(F.col("conv_id") < "conv_00000005")
    batch = all_tx.where(F.col("conv_id") >= "conv_00000005")
    build_index(spark, first, idx, CFG)

    out1 = append_documents(spark, idx, batch, CFG)
    assert out1["appended_docs"] == batch.count()
    s1 = Searcher(spark, idx, CFG)
    before = [(r["doc_id"], r["score"]) for r in s1.search("baba0 ceba1", top_k=20).collect()]
    n_before = spark.read.parquet(f"{idx}/docs").count()

    # redeliver the exact same batch — and once more with half of it
    out2 = append_documents(spark, idx, batch, CFG)
    assert out2["appended_docs"] == 0
    half = batch.where(F.col("conv_id") == "conv_00000006")
    out3 = append_documents(spark, idx, half, CFG)
    assert out3["appended_docs"] == 0

    docs = spark.read.parquet(f"{idx}/docs")
    assert docs.count() == n_before
    assert docs.select("doc_id").distinct().count() == n_before  # no dup doc_ids
    s2 = Searcher(spark, idx, CFG)
    after = [(r["doc_id"], r["score"]) for r in s2.search("baba0 ceba1", top_k=20).collect()]
    assert after == before  # no double-scoring


def _appender_sources() -> dict:
    """Each appender's source, with the shared batch skeleton appended
    when the appender delegates to it."""
    import inspect

    import splade_easy_spark.index.append as ap
    from splade_easy_spark.index.vector_builder import append_vector_documents

    out = {}
    for fn in (ap.append_documents, append_vector_documents):
        src = inspect.getsource(fn)
        if "_append_batch(" in src:
            src += inspect.getsource(ap._append_batch)
        out[fn.__name__] = src
    return out


def test_append_has_no_index_sized_rescan():
    """Both append paths must pack postings/doc_terms from the in-flight
    batch frames — re-reading the whole docs/doc_terms tables per batch is
    O(index) per micro-batch at 10^12 turns (round-1 regression guard)."""
    for name, src in _appender_sources().items():
        assert "read.parquet" not in src, name
        assert 'cat.read(spark, "doc_terms")' not in src, name
        # the only docs-table touch is the column-pruned dedupe anti-join
        assert src.count('cat.read(spark, "docs")') <= 1, name


def test_appends_release_their_checkpoints(spark, tmp_path):
    """Each append batch is materialized with ``localCheckpoint``; a
    long-running appender must not keep one batch-sized block set per
    batch, so three appends in one session leave no new persisted RDD."""
    idx = str(tmp_path / "idx")
    all_tx = generate_transcripts(spark, num_convs=8, seed=19)
    build_index(spark, all_tx.where(F.col("conv_id") < "conv_00000005"), idx, CFG)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    for conv in ("conv_00000005", "conv_00000006", "conv_00000007"):
        out = append_documents(spark, idx, all_tx.where(F.col("conv_id") == conv), CFG)
        assert out["appended_docs"] > 0
    assert set(jsc.getPersistentRDDs().keys()) - before == set()


def test_refresh_stats_matches_oneshot(spark, tmp_path):
    """Append drifts stats; refresh_stats must make the index identical (to
    float tolerance) to a one-shot build over the full corpus."""
    idx_a, idx_b = str(tmp_path / "a"), str(tmp_path / "b")
    all_tx = generate_transcripts(spark, num_convs=8, seed=13)
    first = all_tx.where(F.col("conv_id") < "conv_00000005")
    rest = all_tx.where(F.col("conv_id") >= "conv_00000005")

    build_index(spark, all_tx, idx_a, CFG)
    build_index(spark, first, idx_b, CFG)
    append_documents(spark, idx_b, rest, CFG)
    refresh_stats(spark, idx_b, CFG)

    sa, sb = Searcher(spark, idx_a, CFG), Searcher(spark, idx_b, CFG)
    for q in ["baba0", "baba0 ceba1 diba2"]:
        ra = [(r["doc_id"], r["score"]) for r in sa.search(q, 20).collect()]
        rb = [(r["doc_id"], r["score"]) for r in sb.search(q, 20).collect()]
        assert [d for d, _ in ra] == [d for d, _ in rb]
        for (_, x), (_, y) in zip(ra, rb):
            assert abs(x - y) < 1e-9


def test_streaming_append(spark, tmp_path):
    """File-source micro-batch stream drives the index appender."""
    from splade_easy_spark.streaming import stream_append

    idx = str(tmp_path / "idx")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    tx = generate_transcripts(spark, num_convs=6, seed=17)
    build_index(spark, tx.where(F.col("conv_id") < "conv_00000003"), idx, CFG)
    tx.where(F.col("conv_id") >= "conv_00000003").write.parquet(src)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    q = stream_append(spark, idx, stream, ckpt, CFG)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    docs = spark.read.parquet(f"{idx}/docs")
    assert docs.count() == tx.count()
    s = Searcher(spark, idx, CFG)
    row = tx.where(F.col("conv_id") == "conv_00000005").limit(1).collect()[0]
    assert s.get(f"{row['conv_id']}#{row['turn_idx']}") is not None


def test_turn_rate_stream(spark, tmp_path):
    from splade_easy_spark.streaming import turn_rate

    src = str(tmp_path / "src")
    tx = generate_transcripts(spark, num_convs=5, seed=19)
    tx.write.parquet(src)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    agg = turn_rate(stream, window="10 minutes", watermark="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("turn_rate_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM turn_rate_out").collect()
    finally:
        q.stop()
    assert rows
    assert sum(r["n_turns"] for r in rows) == tx.count()
    assert {r["role"] for r in rows} <= {"user", "assistant", "tool"}


def test_cosine_wand_after_append_matches_sql(spark, tmp_path):
    """Appended segments pack the normalized-weight stream too: cosine
    through the WAND kernel stays identical to the SQL path after appends
    (frozen-idf weights on both)."""
    idx = str(tmp_path / "idx")
    all_tx = generate_transcripts(spark, num_convs=8, seed=31)
    first = all_tx.where(F.col("conv_id") < "conv_00000005")
    rest = all_tx.where(F.col("conv_id") >= "conv_00000005")
    build_index(spark, first, idx, CFG)
    append_documents(spark, idx, rest, CFG)
    assert_files_ordered(idx)
    # built and appended rows alike: one norm per doc in both layouts
    assert_single_norm_rule(spark, idx, CFG.term_id_seed)
    s = Searcher(spark, idx, CFG)
    for q in ("baba0 ceba1", "diba2 baba0 eba3"):
        sql = [(r["doc_id"], r["score"]) for r in s.search(q, 15, use_cosine=True).collect()]
        wand = [
            (r["doc_id"], r["score"])
            for r in s.search(q, 15, use_cosine=True, method="wand").collect()
        ]
        assert [d for d, _ in wand] == [d for d, _ in sql]
        for (_, a), (_, b) in zip(wand, sql):
            assert abs(a - b) <= 1e-5 * max(1.0, abs(b))


def test_streaming_epoch_log_skips_committed(spark, tmp_path):
    """The committed-epoch log is the steady-state exactly-once layer: a
    re-delivered epoch id is skipped OUTRIGHT — even if its frame holds
    docs the index has never seen (proving the skip is the O(1) epoch log,
    not the O(row-groups) doc_id anti-join)."""
    from splade_easy_spark.streaming.appender import make_epoch_sink

    idx = str(tmp_path / "idx")
    all_tx = generate_transcripts(spark, num_convs=9, seed=37)
    build_index(spark, all_tx.where(F.col("conv_id") < "conv_00000005"), idx, CFG)
    b1 = all_tx.where(
        (F.col("conv_id") >= "conv_00000005") & (F.col("conv_id") < "conv_00000007")
    )
    b2 = all_tx.where(F.col("conv_id") >= "conv_00000007")

    sink = make_epoch_sink(idx, str(tmp_path / "ckpt"), CFG)
    sink(b1, 0)
    n_after_b1 = spark.read.parquet(f"{idx}/docs").count()
    assert n_after_b1 > 0

    # re-deliver epoch 0 carrying UNSEEN docs: epoch log must skip them
    sink(b2, 0)
    assert spark.read.parquet(f"{idx}/docs").count() == n_after_b1

    # the same frame under the NEXT epoch appends normally
    sink(b2, 1)
    assert spark.read.parquet(f"{idx}/docs").count() == all_tx.count()

    # and a crash-retry of epoch 1 (same id, same frame) is a no-op again
    sink(b2, 1)
    assert spark.read.parquet(f"{idx}/docs").count() == all_tx.count()


def test_append_dedupe_scan_is_range_pruned(spark, tmp_path):
    """The dedupe anti-join's docs scan must carry a doc_id range predicate
    that reaches the parquet row-group stats (PushedFilters) — the round-2
    version scanned the whole doc_id column per batch, O(index) at 10^12
    turns."""
    from splade_easy_spark.index.catalog import IndexCatalog

    # the range bound is part of both appenders' dedupe path
    for name, src in _appender_sources().items():
        assert ".between(" in src, name

    # the docs layout supports the pruning: a between-predicate on doc_id
    # reaches the scan as pushed filters over the range-major sorted table
    idx = str(tmp_path / "idx")
    build_index(spark, generate_transcripts(spark, num_convs=6, seed=41), idx, CFG)
    cat = IndexCatalog(idx, CFG)
    plan = (
        cat.read(spark, "docs")
        .where(F.col("doc_id").between("conv_00000002", "conv_00000003"))
        .select("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(doc_id" in plan and "LessThanOrEqual(doc_id" in plan


def test_streaming_auto_optimize(spark, tmp_path):
    """optimize_every folds maintenance into the sink: after K committed
    epochs the fragmented seg/tb partitions are merged, search results
    unchanged, and the epoch counter resets."""
    from pathlib import Path

    from splade_easy_spark.index.catalog import IndexCatalog
    from splade_easy_spark.streaming.appender import make_epoch_sink

    idx = str(tmp_path / "idx")
    all_tx = generate_transcripts(spark, num_convs=10, seed=59)
    build_index(spark, all_tx.where(F.col("conv_id") < "conv_00000004"), idx, CFG)

    sink = make_epoch_sink(idx, str(tmp_path / "ckpt"), CFG, optimize_every=2)
    batches = [
        all_tx.where((F.col("conv_id") >= f"conv_0000000{i}") & (F.col("conv_id") < f"conv_0000000{i+1}"))
        for i in range(4, 8)
    ]
    sink(batches[0], 0)
    post_dir = Path(idx) / "postings"

    def files_per_seg():
        return {
            p.name: sum(1 for _ in p.glob("*.parquet"))
            for p in post_dir.glob("seg=*")
            if p.is_dir()
        }

    assert max(files_per_seg().values()) >= 2  # appends fragmented some seg

    sink(batches[1], 1)  # 2nd committed epoch → optimize fires
    st = IndexCatalog(idx, CFG).manifest.data["streams"][str(tmp_path / "ckpt")]
    assert st["epochs_since_optimize"] == 0
    assert "optimize" in IndexCatalog(idx, CFG).manifest.data["stages"]
    assert max(files_per_seg().values()) == 1  # every seg dir merged

    s = Searcher(spark, idx, CFG)
    before = [(r["doc_id"], r["score"]) for r in s.search("baba0 ceba1", 15, method="wand").collect()]
    sink(batches[2], 2)
    sink(batches[3], 3)  # 4th → optimize fires again
    docs = spark.read.parquet(f"{idx}/docs")
    assert docs.count() == all_tx.where(F.col("conv_id") < "conv_00000008").count()
    assert docs.select("doc_id").distinct().count() == docs.count()
    # earlier docs still score identically after two optimize cycles
    s2 = Searcher(spark, idx, CFG)
    after_ids = {r["doc_id"] for r in s2.search("baba0 ceba1", 100, method="wand").collect()}
    assert {d for d, _ in before} <= after_ids


def test_streaming_prep_transform(spark, tmp_path):
    """The sink's ``transform`` hook runs a deterministic prep stage on
    every micro-batch before indexing — here PII redaction + a length
    quality gate, i.e. the batch curation ops composed into streaming.
    Redacted text must land in the index, gated rows must not, and a
    fully-gated epoch must still commit (a restart must not re-run it)."""
    from splade_easy_spark.index.catalog import IndexCatalog
    from splade_easy_spark.ops import pii
    from splade_easy_spark.streaming.appender import make_epoch_sink

    idx = str(tmp_path / "idx")
    all_tx = generate_transcripts(spark, num_convs=6, seed=51)
    build_index(spark, all_tx.where(F.col("conv_id") < "conv_00000004"), idx, CFG)

    def prep(df):
        # redact emails, drop very short turns — pure column expressions
        red = df.withColumn("text", pii.redact(F.col("text")))
        return red.where(F.length("text") >= 40)

    sink = make_epoch_sink(idx, str(tmp_path / "ckpt"), CFG, transform=prep)

    # a batch with one synthetic email and one too-short turn
    batch = all_tx.where(F.col("conv_id") == "conv_00000004").withColumn(
        "text",
        F.when(F.col("turn_idx") == 0, F.concat(F.col("text"), F.lit(" mail me at a@b.co")))
        .when(F.col("turn_idx") == 1, F.lit("tiny"))
        .otherwise(F.col("text")),
    )
    sink(batch, 0)
    docs = spark.read.parquet(f"{idx}/docs")
    row0 = docs.where(F.col("doc_id") == "conv_00000004#0").collect()[0]
    assert "<EMAIL>" in row0["text"] and "a@b.co" not in row0["text"]
    assert docs.where(F.col("doc_id") == "conv_00000004#1").count() == 0  # gated

    # an epoch the prep gates ENTIRELY still commits (no re-run on restart)
    tiny = all_tx.where(F.col("conv_id") == "conv_00000005").withColumn(
        "text", F.lit("x")
    )
    n_before = docs.count()
    sink(tiny, 1)
    assert spark.read.parquet(f"{idx}/docs").count() == n_before
    man = IndexCatalog(idx, CFG).manifest
    key = str(tmp_path / "ckpt")
    assert man.data["streams"][key]["last_committed_epoch"] == 1

    # and the index still searches exactly after the streamed prep
    s = Searcher(spark, idx, CFG)
    w = [(r["doc_id"], round(r["score"], 5)) for r in s.search("baba0 ceba1", 10, method="wand").collect()]
    q = [(r["doc_id"], round(r["score"], 5)) for r in s.search("baba0 ceba1", 10, method="sql").collect()]
    assert w == q and len(w) > 0
