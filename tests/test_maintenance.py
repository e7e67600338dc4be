"""Maintenance parity tests — mirror the reference's lifecycle suite
(``tests/test_index.py:99-191,203-231``, ``tests/test_reshard.py``):
soft delete respected by search/get, compact removes tombstones without
changing surviving scores, reshard preserves content, stats counts."""

import pytest
from pyspark.sql import functions as F

from splade_easy_spark.config import IndexConfig
from splade_easy_spark.data import generate_transcripts
from splade_easy_spark.index import build_index
from splade_easy_spark.index.maintenance import compact, delete, reshard, stats
from splade_easy_spark.query import Searcher
from tests.oracle import assert_files_ordered, assert_single_norm_rule

CFG = IndexConfig(build_partitions=4, term_buckets=8, segment_docs=128, block_size=32)


@pytest.fixture()
def small_index(spark, tmp_path):
    idx_dir = str(tmp_path / "index")
    tx = generate_transcripts(spark, num_convs=8, seed=3)
    res = build_index(spark, tx, idx_dir, CFG)
    return idx_dir, res


def test_delete_respected_by_search_and_get(spark, small_index):
    idx_dir, _ = small_index
    s = Searcher(spark, idx_dir, CFG)
    hit = s.search("baba0", top_k=1).collect()
    assert hit
    victim = hit[0]["doc_id"]
    assert delete(spark, idx_dir, [victim]) == 1
    assert delete(spark, idx_dir, [victim]) == 0  # idempotent
    assert delete(spark, idx_dir, ["conv_99999999#0"]) == 0  # nonexistent
    s2 = Searcher(spark, idx_dir, CFG)
    assert victim not in [r["doc_id"] for r in s2.search("baba0", top_k=50).collect()]
    assert s2.get(victim) is None  # cf. test_index.py:99-123


def test_compact_preserves_surviving_scores(spark, small_index):
    idx_dir, res = small_index
    assert_files_ordered(idx_dir)
    s = Searcher(spark, idx_dir, CFG)
    all_hits = s.search("baba0", top_k=100).collect()
    assert len(all_hits) >= 3
    victims = [all_hits[0]["doc_id"], all_hits[2]["doc_id"]]
    delete(spark, idx_dir, victims)
    before = [
        (r["doc_id"], round(r["score"], 9))
        for r in Searcher(spark, idx_dir, CFG).search("baba0", top_k=50).collect()
    ]
    out = compact(spark, idx_dir, CFG)
    assert out["removed"] == 2
    st = stats(spark, idx_dir)
    assert st["num_deleted"] == 0  # tombstones cleared, cf. test_index.py:125-162
    after = [
        (r["doc_id"], round(r["score"], 9))
        for r in Searcher(spark, idx_dir, CFG).search("baba0", top_k=50).collect()
    ]
    assert before == after  # frozen-weight contract
    assert_files_ordered(idx_dir)
    # compact repacks nwts from the stored norm
    assert_single_norm_rule(spark, idx_dir, CFG.term_id_seed)
    # physically gone
    docs = spark.read.parquet(f"{idx_dir}/docs")
    assert docs.where(F.col("doc_id").isin(victims)).count() == 0


def test_reshard_preserves_results(spark, small_index):
    idx_dir, _ = small_index
    s = Searcher(spark, idx_dir, CFG)
    before_sql = [(r["doc_id"], round(r["score"], 9)) for r in s.search("baba0 ceba1", 20).collect()]
    out = reshard(spark, idx_dir, CFG, target_partitions=2, segment_docs=64, block_size=16)
    assert out["after"]["tables"]["postings"]["files"] > 0
    assert_files_ordered(idx_dir)
    s2 = Searcher(spark, idx_dir, CFG)
    after_sql = [(r["doc_id"], round(r["score"], 9)) for r in s2.search("baba0 ceba1", 20).collect()]
    after_wand = [(r["doc_id"], r["score"]) for r in s2.search("baba0 ceba1", 20, method="wand").collect()]
    assert before_sql == after_sql  # cf. test_reshard.py:74-100
    # wand path reads float32 packed weights → reference tolerance 1e-5
    assert [d for d, _ in before_sql] == [d for d, _ in after_wand]
    for (_, sb), (_, sw) in zip(before_sql, after_wand):
        assert abs(sb - sw) <= 1e-5 * max(1.0, abs(sb))


def test_stats_counts(spark, small_index):
    idx_dir, res = small_index
    st = stats(spark, idx_dir)
    assert st["num_docs"] == res.n_docs
    assert st["num_terms"] == res.n_terms
    assert st["tables"]["postings"]["mb"] > 0
    delete(spark, idx_dir, [Searcher(spark, idx_dir, CFG).search("baba0", 1).collect()[0]["doc_id"]])
    st2 = stats(spark, idx_dir)
    assert st2["num_docs"] == res.n_docs - 1
    assert st2["num_deleted"] == 1


def test_reshard_keep_originals_and_rollback(spark, tmp_path):
    """reshard(keep_originals=True) retains the prior layout as __backup
    dirs (reference .fb.backup analog, src/splade_easy/reshard.py:102-115)
    and rollback_reshard restores it with identical search results."""
    from pathlib import Path

    from splade_easy_spark.index.maintenance import rollback_reshard

    idx = str(tmp_path / "idx")
    tx = generate_transcripts(spark, num_convs=6, seed=29)
    build_index(spark, tx, idx, CFG)
    s0 = Searcher(spark, idx, CFG)
    before = [(r["doc_id"], round(r["score"], 9)) for r in s0.search("baba0 ceba1", 10).collect()]
    files_before = sorted(p.name for p in Path(idx, "postings").rglob("*.parquet"))

    reshard(spark, idx, CFG, segment_docs=64, block_size=16, keep_originals=True)
    assert Path(idx, "doc_terms__backup").exists()
    assert Path(idx, "postings__backup").exists()
    s1 = Searcher(spark, idx, CFG)
    mid = [(r["doc_id"], round(r["score"], 9)) for r in s1.search("baba0 ceba1", 10).collect()]
    assert mid == before  # reshard preserves logical content

    out = rollback_reshard(idx)
    assert set(out["restored"]) == {"doc_terms", "postings"}
    assert not Path(idx, "postings__backup").exists()
    files_after = sorted(p.name for p in Path(idx, "postings").rglob("*.parquet"))
    assert files_after == files_before  # original physical layout restored
    s2 = Searcher(spark, idx, CFG)
    after = [(r["doc_id"], round(r["score"], 9)) for r in s2.search("baba0 ceba1", 10).collect()]
    assert after == before


def test_optimize_coalesces_appended_runs(spark, tmp_path):
    """optimize_postings (Iceberg rewrite_data_files / Lucene-merge analog):
    after appends fragment seg partitions into many files and short block
    runs, optimize must (a) leave every score byte-identical on SQL and
    WAND paths, (b) reduce per-(seg,term) runs to the minimal block count,
    (c) shrink file counts, (d) respect tombstones, (e) be a no-op when
    nothing is fragmented."""
    from pathlib import Path

    from splade_easy_spark.index.append import append_documents
    from splade_easy_spark.index.maintenance import delete, optimize_postings

    idx = str(tmp_path / "idx")
    all_tx = generate_transcripts(spark, num_convs=12, seed=47)
    build_index(spark, all_tx.where(F.col("conv_id") < "conv_00000008"), idx, CFG)
    for seed in (48, 49):
        append_documents(spark, idx, generate_transcripts(spark, num_convs=4, seed=seed), CFG)

    s = Searcher(spark, idx, CFG)
    victim = s.search("baba0", top_k=1, method="wand").collect()[0]["doc_id"]
    delete(spark, idx, [victim])

    queries = ["baba0 ceba1", "diba2 foba3 baba0"]
    def snapshot():
        s2 = Searcher(spark, idx, CFG)
        out = {}
        for q in queries:
            for m in ("sql", "wand"):
                out[(q, m)] = [
                    (r["doc_id"], r["score"]) for r in s2.search(q, 15, method=m).collect()
                ]
            out[(q, "cos")] = [
                (r["doc_id"], r["score"])
                for r in s2.search(q, 15, use_cosine=True, method="wand").collect()
            ]
        return out

    before = snapshot()
    post_dir = Path(idx) / "postings"
    files_before = sum(1 for _ in post_dir.glob("seg=*/*.parquet"))
    # appends created multiple runs for hot (seg, term) pairs
    runs = (
        spark.read.parquet(str(post_dir))
        .groupBy("seg", "term_id").count().where(F.col("count") > 1).count()
    )
    assert runs > 0, "fixture never fragmented — appends too small?"

    out = optimize_postings(spark, idx, CFG)
    assert out["segs_rewritten"] > 0
    assert_files_ordered(idx)

    after = snapshot()
    assert after == before  # scores byte-identical, tombstone still gone
    assert all(victim not in {d for d, _ in v} for v in after.values())

    files_after = sum(1 for _ in post_dir.glob("seg=*/*.parquet"))
    assert files_after < files_before
    # minimal packing: runs per (seg, term) == ceil(postings / block_size)
    import math
    post = spark.read.parquet(str(post_dir))
    bad = (
        post.groupBy("seg", "term_id")
        .agg(F.count("*").alias("blocks"), F.sum("n").alias("postings"))
        .where(F.col("blocks") != F.ceil(F.col("postings") / F.lit(CFG.block_size)))
        .count()
    )
    assert bad == 0
    # block ids are a clean 0..k sequence per (seg, term)
    seq = (
        post.groupBy("seg", "term_id")
        .agg(F.count("*").alias("blocks"), F.max("block_id").alias("mx"))
        .where(F.col("mx") != F.col("blocks") - 1)
        .count()
    )
    assert seq == 0

    again = optimize_postings(spark, idx, CFG)
    assert again["segs_rewritten"] == 0  # idempotent: nothing left to merge
