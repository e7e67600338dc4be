"""Term-dictionary encoding of the packed postings, and the format gate.

The postings term key is a 60-bit md5-prefix hash (``catalog.term_id_py``)
instead of the term string — the analog of the reference storing uint32
token ids in its wire format (``src/splade_easy/schema.fbs:14``).  These
tests pin (a) driver/JVM hash agreement, (b) the collision gates, and
(c) ``migrate_postings``: every retired (format 1) layout is refused by
the readers and writers and upgraded by migrate to results identical to
a fresh build.
"""

import dataclasses
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from splade_easy_spark.config import IndexConfig
from splade_easy_spark.data import generate_transcripts
from splade_easy_spark.index import build_index
from splade_easy_spark.index.append import append_documents
from splade_easy_spark.index.catalog import IndexCatalog, term_id_expr, term_id_py
from splade_easy_spark.index.maintenance import migrate_postings, optimize_postings
from splade_easy_spark.query import Searcher
from tests.retired_layouts import SHAPES, retire, tree_state

CFG = IndexConfig(build_partitions=4, term_buckets=8, segment_docs=128, block_size=32)
QUERIES = ["baba0 ceba1", "diba2 foba3 baba0"]


def test_term_id_py_matches_jvm(spark):
    """The driver-side hash (used for the query filter, no lookup job) and
    the JVM expression (used by the build) must agree on every term,
    including non-ASCII and edge lengths, for multiple seeds."""
    terms = ["baba0", "ceba1", "", "a", "a" * 64, "éclair", "0" * 15, "日本語"]
    df = spark.createDataFrame([(t,) for t in terms], "term STRING")
    for seed in (0, 1, 12345):
        jvm = {
            r["term"]: r["tid"]
            for r in df.select(
                "term", term_id_expr(F.col("term"), seed).alias("tid")
            ).collect()
        }
        py = {t: term_id_py(t, seed) for t in terms}
        assert jvm == py
        assert all(0 <= v < 2**60 for v in py.values())
    # seed actually perturbs
    assert term_id_py("baba0", 0) != term_id_py("baba0", 1)


def test_build_collision_gate_raises(spark):
    """_assert_no_term_id_collisions refuses a vocabulary whose ids clash."""
    from splade_easy_spark.index.builder import _assert_no_term_id_collisions

    ok = spark.createDataFrame(
        [("a", 1), ("b", 2)], "term STRING, term_id LONG"
    )
    _assert_no_term_id_collisions(ok, 0)  # no raise
    clash = spark.createDataFrame(
        [("a", 1), ("b", 1)], "term STRING, term_id LONG"
    )
    with pytest.raises(ValueError, match="term_id collision"):
        _assert_no_term_id_collisions(clash, 0)


def test_query_collision_gate_raises():
    from splade_easy_spark.query.wand import _query_term_ids

    ids = _query_term_ids(["a", "b", "c"], 0)
    assert len(set(ids.values())) == 3
    import splade_easy_spark.query.wand as w

    orig = w.term_id_py
    try:
        w.term_id_py = lambda t, s: 7  # force a clash
        with pytest.raises(ValueError, match="collision"):
            w._query_term_ids(["a", "b"], 0)
    finally:
        w.term_id_py = orig


@pytest.fixture(scope="module")
def fresh(spark, tmp_path_factory):
    """One fresh build shared (through copytree) by every migrate test,
    with its search results."""
    idx = str(tmp_path_factory.mktemp("fresh") / "idx")
    build_index(spark, generate_transcripts(spark, num_convs=8, seed=5), idx, CFG)
    return idx, _results(spark, idx)


def _results(spark, idx, cfg=CFG) -> dict:
    """SQL and WAND, dot and cosine, ``search`` and ``search_many``."""
    s = Searcher(spark, idx, cfg)
    out = {}
    for m in ("sql", "wand"):
        for cos in (False, True):
            out["search", m, cos] = [
                (r["doc_id"], round(r["score"], 6))
                for r in s.search(QUERIES[0], 15, method=m, use_cosine=cos).collect()
            ]
            out["many", m, cos] = [
                (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
                for r in s.search_many(
                    [{"query_id": f"q{i}", "text": q} for i, q in enumerate(QUERIES)],
                    top_k=15, method=m, use_cosine=cos,
                ).collect()
            ]
    return out


def _copy(fresh, tmp_path) -> str:
    idx = str(tmp_path / "idx")
    shutil.copytree(fresh[0], idx)
    return idx


@pytest.mark.parametrize(
    "shapes", [[s] for s in SHAPES] + [list(SHAPES)], ids=list(SHAPES) + ["all"]
)
def test_migrate_round_trips_retired_layouts(spark, tmp_path, fresh, shapes):
    """Every retired layout, alone and all at once: the Searcher, append
    and optimize refuse it with the migrate error before writing a file;
    ``migrate_postings`` upgrades it to the current format, after which
    every search path answers exactly as a fresh build of the same corpus;
    and a second migrate is a no-op."""
    idx = _copy(fresh, tmp_path)
    retire(spark, idx, shapes)
    before = tree_state(idx)
    batch = generate_transcripts(spark, num_convs=2, seed=77)
    for call in (
        lambda: Searcher(spark, idx, CFG),
        lambda: append_documents(spark, idx, batch, CFG),
        lambda: optimize_postings(spark, idx, CFG, min_files=1),
    ):
        with pytest.raises(RuntimeError, match="cli migrate --index"):
            call()
    assert tree_state(idx) == before

    assert migrate_postings(spark, idx, CFG)["migrated"] is True
    man, want = IndexCatalog(idx, CFG).manifest, IndexCatalog(fresh[0], CFG).manifest
    assert man.format_version == 2
    assert man.data["layout"] == want.data["layout"]
    assert man.data["next_doc_int"] == want.data["next_doc_int"]
    for t in ("postings", "term_stats"):
        got = spark.read.parquet(f"{idx}/{t}").schema
        assert sorted(got.fieldNames()) == sorted(
            spark.read.parquet(f"{fresh[0]}/{t}").schema.fieldNames()
        )
    assert _results(spark, idx) == fresh[1]
    assert migrate_postings(spark, idx, CFG)["migrated"] is False


def test_legacy_string_layout_still_searchable(spark, tmp_path, fresh):
    """A string-keyed (format 1) index is searchable by way of migrate: the
    Searcher refuses it with the error that names the fix, and after
    ``migrate_postings`` SQL and WAND, dot and cosine, answer exactly as
    the index did before it was retired."""
    idx = _copy(fresh, tmp_path)
    retire(spark, idx, ["string_keys"])
    with pytest.raises(RuntimeError, match="cli migrate --index"):
        Searcher(spark, idx, CFG)
    assert migrate_postings(spark, idx, CFG)["migrated"] is True
    s = Searcher(spark, idx, CFG)
    for m in ("sql", "wand"):
        for cos in (False, True):
            got = [
                (r["doc_id"], round(r["score"], 6))
                for r in s.search(QUERIES[0], 15, method=m, use_cosine=cos).collect()
            ]
            assert got == fresh[1]["search", m, cos]


def test_append_to_legacy_index_keeps_string_layout(spark, tmp_path, fresh):
    """Append never mixes layouts: on a string-keyed (format 1) index it
    raises the migrate error before writing a file, so the postings keep
    their ``term`` key and the manifest stays format 1."""
    idx = _copy(fresh, tmp_path)
    retire(spark, idx, ["string_keys"])
    before = tree_state(idx)
    batch = generate_transcripts(spark, num_convs=2, seed=79).withColumn(
        "conv_id", F.concat(F.lit("l"), F.col("conv_id"))
    )
    with pytest.raises(RuntimeError, match="cli migrate --index"):
        append_documents(spark, idx, batch, CFG)
    assert tree_state(idx) == before
    post = spark.read.parquet(f"{idx}/postings")
    assert "term" in post.columns and "term_id" not in post.columns
    assert "term_id" not in spark.read.parquet(f"{idx}/term_stats").columns
    assert IndexCatalog(idx, CFG).manifest.format_version == 1


def test_readers_and_writers_follow_recorded_layout(spark, tmp_path, fresh):
    """A config whose layout fields differ from the build's (segment
    width, block size, term buckets, cosine stream, term_id seed) changes
    nothing: the Searcher answers as with the build's config, and an
    append packs and buckets the way the index was built."""
    other = dataclasses.replace(
        CFG, term_buckets=16, segment_docs=64, block_size=8, pack_cosine=False,
        term_id_seed=3,
    )
    assert _results(spark, fresh[0], other) == fresh[1]
    # "foba3" is term bucket 3 of 8 but 11 of 16: bucketing by the
    # caller's config would prune its postings away
    want = [r["doc_id"] for r in Searcher(spark, fresh[0], CFG).search("foba3", 30).collect()]
    got = [r["doc_id"] for r in Searcher(spark, fresh[0], other).search("foba3", 30).collect()]
    assert want and got == want

    idx = _copy(fresh, tmp_path)
    batch = generate_transcripts(spark, num_convs=2, seed=78).withColumn(
        "conv_id", F.concat(F.lit("o"), F.col("conv_id"))
    )
    assert append_documents(spark, idx, batch, other)["appended_docs"] > 0
    assert {p.name for p in Path(idx, "doc_terms").glob("tb=*")} <= {
        f"tb={b}" for b in range(CFG.term_buckets)
    }
    s = Searcher(spark, idx, CFG)
    for q in QUERIES:
        for cos in (False, True):
            sql = [r["doc_id"] for r in s.search(q, 30, use_cosine=cos).collect()]
            wand = [r["doc_id"] for r in s.search(q, 30, method="wand", use_cosine=cos).collect()]
            assert wand == sql and len(sql) == 30


def test_migrate_postings_weight_preserving(spark, tmp_path, fresh):
    """migrate_postings repacks string-keyed postings from the unchanged
    ``doc_terms`` weights through the build's packer: dot-mode WAND
    results are byte-identical to the index before it was retired, and
    cosine ones equal to float32 precision (the packed norm is recomputed
    from ``doc_terms``).  ``term_stats`` gains ``term_id``, and later
    appends pack term_id-keyed blocks."""
    idx = _copy(fresh, tmp_path)
    s0 = Searcher(spark, idx, CFG)

    def wand(s, q, cos=False):
        return [
            (r["doc_id"], r["score"])
            for r in s.search(q, 20, method="wand", use_cosine=cos).collect()
        ]

    before = {q: wand(s0, q) for q in QUERIES}
    cos_before = wand(s0, QUERIES[0], cos=True)
    retire(spark, idx, ["string_keys"])

    assert migrate_postings(spark, idx, CFG)["migrated"] is True
    post = spark.read.parquet(f"{idx}/postings")
    assert "term_id" in post.columns and "term" not in post.columns
    assert "term_id" in spark.read.parquet(f"{idx}/term_stats").columns
    man = IndexCatalog(idx, CFG).manifest
    assert man.format_version == 2 and man.data["layout"]["term_id_seed"] == 0

    s1 = Searcher(spark, idx, CFG)
    for q, exp in before.items():
        assert wand(s1, q) == exp  # EXACT equality: weights preserved bit-for-bit
    cos_after = wand(s1, QUERIES[0], cos=True)
    assert [d for d, _ in cos_after] == [d for d, _ in cos_before]
    for (_, a), (_, b) in zip(cos_after, cos_before):
        assert abs(a - b) <= 1e-6 * max(1.0, abs(b))

    # appends now pack term_id-keyed blocks into the migrated table
    batch = generate_transcripts(spark, num_convs=2, seed=88).withColumn(
        "conv_id", F.concat(F.lit("m"), F.col("conv_id"))
    )
    assert append_documents(spark, idx, batch, CFG)["appended_docs"] > 0
    post2 = spark.read.parquet(f"{idx}/postings")
    assert "term_id" in post2.columns and "term" not in post2.columns
    s2 = Searcher(spark, idx, CFG)
    sql = [
        (r["doc_id"], round(r["score"], 6)) for r in s2.search("baba0 ceba1", 15).collect()
    ]
    wand2 = [
        (r["doc_id"], round(r["score"], 6))
        for r in s2.search("baba0 ceba1", 15, method="wand").collect()
    ]
    assert [d for d, _ in wand2] == [d for d, _ in sql]
