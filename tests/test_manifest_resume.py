"""Manifest + resumable-build tests (SURVEY.md §7 step 7): stage-level
checkpointing with per-file lineage; a build killed between stage commits
resumes by recomputing only the missing stages, ending byte-identical in
stats to a one-shot build."""

import json
import shutil
from pathlib import Path

import pytest

from splade_easy_spark.config import IndexConfig
from splade_easy_spark.data import generate_transcripts
from splade_easy_spark.index import build_index
from splade_easy_spark.index.builder import _STAGES, _STAGE_TABLES
from splade_easy_spark.index.catalog import IndexCatalog
from splade_easy_spark.index.manifest import Manifest

CFG = IndexConfig(build_partitions=4, term_buckets=8, segment_docs=128, block_size=32)


def test_manifest_lineage_recorded(spark, tmp_path):
    idx_dir = str(tmp_path / "idx")
    tx = generate_transcripts(spark, num_convs=5, seed=1)
    build_index(spark, tx, idx_dir, CFG)
    man = json.loads((Path(idx_dir) / "_manifest.json").read_text())
    assert set(man["stages"]) == {"docs", "stats", "postings"}
    for t in ["docs", "doc_terms", "postings", "term_stats", "corpus_stats"]:
        files = man["tables"][t]["files"]
        assert files, f"no lineage for {t}"
        for f in files:
            assert len(f["sha256"]) == 64 and f["rows"] >= 0 and f["bytes"] > 0
    # per-stage metrics present
    assert man["stages"]["docs"]["metrics"]["elapsed_sec"] > 0
    assert man["identity"]["analyzer_hash"]


def _tf_kernels_outside_cache(plan) -> int:
    """Tokenize+tf ``MapInArrow`` nodes (output has a ``tf`` column) in an
    executed plan, not counting the ones behind an ``InMemoryTableScan``
    (a cached frame's plan is its relation's, not a child of the scan)."""
    name = plan.getClass().getSimpleName()
    if name.startswith("InMemoryTableScan"):
        return 0
    if name == "AdaptiveSparkPlanExec":
        return _tf_kernels_outside_cache(plan.inputPlan())
    out = plan.output()
    names = {out.apply(i).name() for i in range(out.size())}
    n = int("MapInArrow" in name and "tf" in names)
    kids = plan.children()
    return n + sum(_tf_kernels_outside_cache(kids.apply(i)) for i in range(kids.size()))


@pytest.mark.parametrize("crash_after", ["docs", "stats"])
def test_resume_skips_completed_stages(spark, tmp_path, monkeypatch, crash_after):
    """Simulated crash after stage ``crash_after``: only later stages
    rerun, the final manifest equals a one-shot build's (modulo
    timestamps), and the postings stage tokenizes once: neither of its
    two writes runs the tf kernel outside the term_tf cache."""
    idx_a = str(tmp_path / "a")
    idx_b = str(tmp_path / "b")
    tx = generate_transcripts(spark, num_convs=5, seed=1)
    build_index(spark, tx, idx_a, CFG)

    # partial build: run the stages up to crash_after, commit, then "crash"
    cat = IndexCatalog(idx_b, CFG)
    cat.manifest.set_identity(CFG.identity())
    done = list(_STAGES)[: list(_STAGES).index(crash_after) + 1]
    for stage in done:
        fn = _STAGES[stage]
        metrics = fn(spark, tx, cat) if stage == "docs" else fn(spark, cat)
        cat.manifest.record_stage(stage, {t: t for t in _STAGE_TABLES[stage]}, metrics)

    plans = {}
    real_write = IndexCatalog.write

    def recording_write(self, df, name, *args, **kwargs):
        if name in ("doc_terms", "postings"):
            plans[name] = df._jdf.queryExecution().executedPlan()
        return real_write(self, df, name, *args, **kwargs)

    monkeypatch.setattr(IndexCatalog, "write", recording_write)
    res = build_index(spark, tx, idx_b, CFG, resume=True)
    monkeypatch.undo()
    assert res.stages_skipped == done
    assert sorted(res.stages_run) == sorted(set(_STAGES) - set(done))
    assert set(plans) == {"doc_terms", "postings"}
    for name, plan in plans.items():
        assert _tf_kernels_outside_cache(plan) == 0, f"{name} write re-runs the tf kernel"

    man_a = json.loads((Path(idx_a) / "_manifest.json").read_text())
    man_b = json.loads((Path(idx_b) / "_manifest.json").read_text())
    # identical content lineage (deterministic build ⇒ identical file hashes)
    for t in ["docs", "doc_terms", "term_stats", "corpus_stats", "postings"]:
        ha = sorted(f["sha256"] for f in man_a["tables"][t]["files"])
        hb = sorted(f["sha256"] for f in man_b["tables"][t]["files"])
        assert ha == hb, f"lineage mismatch in {t}"


def test_resume_detects_corrupted_stage(spark, tmp_path):
    """A committed stage whose files were damaged is rebuilt, not trusted."""
    idx = str(tmp_path / "idx")
    tx = generate_transcripts(spark, num_convs=4, seed=2)
    build_index(spark, tx, idx, CFG)
    # corrupt one docs file
    victim = next(Path(idx, "docs").glob("*.parquet"))
    victim.write_bytes(b"garbage")
    res = build_index(spark, tx, idx, CFG, resume=True)
    assert "docs" in res.stages_run  # invalid lineage ⇒ stage rerun


def test_full_resume_is_noop(spark, tmp_path):
    idx = str(tmp_path / "idx")
    tx = generate_transcripts(spark, num_convs=4, seed=2)
    build_index(spark, tx, idx, CFG)
    res = build_index(spark, tx, idx, CFG, resume=True)
    assert res.stages_run == []
    assert sorted(res.stages_skipped) == ["docs", "postings", "stats"]


def _format1_manifest() -> dict:
    """A hand-written format-1 manifest: stage and append entries written
    before the manifest kept a ``seq`` (one append after it did), and the
    single-marker dict journal."""
    files = [{"file": "part-0.parquet", "bytes": 1, "rows": 1}]
    return {
        "format_version": 1,
        "identity": {},
        "tables": {t: {"dir": t, "files": files} for t in ("docs", "postings", "term_stats")},
        "stages": {
            "docs": {"tables": ["docs"], "committed_at": 10.0},
            "stats": {"tables": ["term_stats"], "committed_at": 20.0},
            "postings": {"tables": ["postings"], "committed_at": 30.0},
        },
        "appends": [{"docs": 1, "at": 25.0}, {"docs": 1, "at": 30.0}, {"docs": 1, "at": 40.0, "seq": 1}],
        "seq": 1,
        "pending_maintenance": {"op": "compact", "at": 35.0},
    }


def test_normalize_format1_numbers_entries_by_time(tmp_path):
    """``Manifest.normalize_format1`` (run by ``migrate_postings``) gives
    every seq-less stage and append entry a seq in the order of its
    recorded time, a stage before an append at a tie, moves the recorded
    seqs past them, and turns the dict journal into a list that distrusts
    every recorded table."""
    man = Manifest(tmp_path)
    man.data = _format1_manifest()
    man.normalize_format1()
    d = man.data
    assert {k: s["seq"] for k, s in d["stages"].items()} == {"docs": 1, "stats": 2, "postings": 4}
    assert [a["seq"] for a in d["appends"]] == [3, 5, 6]
    assert d["seq"] == 6 and man.next_seq() == 7
    assert man.pending_maintenance_entries() == [
        {"op": "compact", "at": 35.0, "tables": ["docs", "postings", "term_stats"]}
    ]
    before = json.dumps(d, sort_keys=True)
    man.normalize_format1()  # a normalized manifest is left as it is
    assert json.dumps(d, sort_keys=True) == before


def test_normalized_format1_lineage_freshness(tmp_path):
    """After normalization the seq order alone decides lineage freshness:
    a table the journal names is stale, one whose stage precedes an
    append is stale, and one committed after every append is fresh."""
    from splade_easy_spark.index.maintenance import _fresh_lineage

    data = _format1_manifest()
    data["appends"] = data["appends"][:1]  # only the append at t=25
    data.pop("seq")
    (tmp_path / "_manifest.json").write_text(json.dumps(data))
    cat = IndexCatalog(tmp_path)
    cat.manifest.normalize_format1()
    assert _fresh_lineage(cat, "docs") is None  # journaled
    cat.manifest.data.pop("pending_maintenance")
    assert _fresh_lineage(cat, "term_stats") is None  # stage t=20 < append t=25
    assert _fresh_lineage(cat, "postings") == data["tables"]["postings"]["files"]
