"""Dump `.explain("formatted")` for the engine's headline plans into
EXPLAIN.md — the plan-shape evidence behind the scale claims:

- search (SQL path): tb partition pruning + term row-group pushdown must
  reach the doc_terms scan (PartitionFilters / PushedFilters), a
  unit-weight query must have no query table and a weighted one must
  broadcast its LocalTableScan, and the top-k must be
  TakeOrderedAndProject.
- search (WAND path): postings scan pruned to the query's terms, one seg
  exchange, mapInPandas kernel, TakeOrderedAndProject.
- point get: doc_id pushed to the docs scan.
- MinHash-LSH: explode-once signatures, banded bucket join (no cross).
- ANN exact: broadcast probes, window top-k.

Usage: python tools/explain_audit.py [index_dir] [sf_dir]
(builds a small index into a temp dir when none is given)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REPO = Path(__file__).resolve().parent.parent


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from splade_easy_spark.config import IndexConfig
    from splade_easy_spark.data import generate_transcripts
    from splade_easy_spark.index import build_index
    from splade_easy_spark.query import Searcher
    from splade_easy_spark.session import get_spark

    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    spark = get_spark("explain", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    cfg = IndexConfig(build_partitions=8, term_buckets=16, segment_docs=1 << 14)
    if len(sys.argv) > 1:
        idx = sys.argv[1]
    else:
        idx = tempfile.mkdtemp(prefix="explain_idx_")
        tx = generate_transcripts(spark, num_convs=60, seed=42)
        build_index(spark, tx, idx, cfg)

    s = Searcher(spark, idx, cfg)
    import __spark_entry__ as entry

    sections: list[tuple[str, str, str]] = []
    sections.append(
        (
            "search — SQL path (BM25 top-k)",
            "doc_terms scan with PartitionFilters on `tb` and "
            "PushedFilters on `term`; no query table (a unit-weight query "
            "scores sum(weight)); HashAggregate partial/final; "
            "TakeOrderedAndProject cut, broadcast against the docs scan; "
            "TakeOrderedAndProject final order.",
            formatted(s.search("baba0 ceba1 diba2", top_k=10)),
        )
    )
    sections.append(
        (
            "search — SQL path, weighted query list",
            "the same pruned doc_terms scan joined to the query table: a "
            "BroadcastExchange over a LocalTableScan (no Python RDD), "
            "sum(weight * qweight) in the HashAggregate.",
            formatted(s.search([("baba0", 0.5), ("ceba1", 1.25), ("diba2", 2.0)], top_k=10)),
        )
    )
    sections.append(
        (
            "search — WAND path (packed postings kernel)",
            "postings scan with PushedFilters In on the int64 `term_id` "
            "(`seg` hive-partitioned); one seg Exchange; MapInPandas/"
            "ArrowEvalPython kernel; TakeOrderedAndProject for the global "
            "k-merge.",
            formatted(s.search("baba0 ceba1 diba2", top_k=10, method="wand")),
        )
    )
    sections.append(
        (
            "search — cosine through the WAND kernel",
            "same plan shape as the dot path (the kernel reads the packed "
            "normalized-weight stream nwts; the query-norm divide is a "
            "post-kernel Project).",
            formatted(
                s.search("baba0 ceba1 diba2", top_k=10, use_cosine=True, method="wand")
            ),
        )
    )
    sections.append(
        (
            "point get (docs scan)",
            "PushedFilters IsNotNull+EqualTo on doc_id, ReadSchema "
            "limited to the projected columns (lazy text skip when "
            "load_text=False).",
            formatted(
                s.docs.where(s.docs.doc_id == "conv_00000001#2").select(
                    "doc_id", "conv_id", "turn_idx", "doc_len"
                )
            ),
        )
    )
    sections.append(
        (
            "batch search_many — WAND path (decode-once batch kernel)",
            "ONE postings scan pruned to the UNION of all queries' term_ids "
            "(PushedFilters), one seg Exchange, one MapInPandas batch "
            "kernel (per-query work stays inside it — no per-query jobs, "
            "no postings×queries join blowup), window top-k per query_id.",
            formatted(
                s.search_many(
                    [
                        {"query_id": "q1", "text": "baba0 ceba1"},
                        {"query_id": "q2", "text": "diba2 baba0"},
                    ],
                    top_k=5,
                    method="wand",
                )
            ),
        )
    )
    from pyspark.sql import functions as F
    from splade_easy_spark.index.builder import pack_doc_terms

    pack_input = spark.range(1000).select(
        (F.col("id") % 200).alias("doc_int"),
        F.concat(F.lit("t"), (F.col("id") % 9).cast("string")).alias("term"),
        F.rand(1).alias("weight"),
        (F.rand(2) + 1.0).alias("norm"),
    )
    sections.append(
        (
            "build — postings pack (slim Arrow hop)",
            "exactly ONE Exchange (hashpartitioning on seg) and ONE Sort "
            "(seg, term, doc_int) feeding the Window whose lag() nulls the "
            "term on non-group-first rows; the MapInArrow packer input "
            "carries only (term_first, doc_int, weight, nweight) — no seg "
            "column, no per-posting term string (the round-2 scaling cap "
            "was bytes through this hop).",
            formatted(pack_doc_terms(pack_input, 1 << 14, 128)),
        )
    )
    sections.append(
        (
            "MinHash-LSH candidate pairs",
            "ONE explode of shingles feeding all signature min-aggs "
            "(no duplicated subtrees), banded bucket SortMergeJoin/"
            "ShuffledHashJoin on (band, bucket) — never a CartesianProduct.",
            formatted(entry.queries()["lsh_candidates"](spark, sf_dir)),
        )
    )
    sections.append(
        (
            "ANN exact top-k",
            "BroadcastNestedLoopJoin ONLY against the tiny probe set "
            "(probes broadcast), window top-k per probe.",
            formatted(entry.queries()["ann_topk"](spark, sf_dir)),
        )
    )

    sections.append(
        (
            "curate_corpus — composed curation pipeline",
            "quality+language features in ONE projection chain over a "
            "single documents scan (no doc_id re-joins — WholeStageCodegen "
            "Project over the scan); the near-dup drop list arrives from "
            "the connected-components loop as a checkpointed RDD (Scan "
            "ExistingRDD — lineage truncated per CC round) feeding a "
            "left-anti BroadcastHashJoin; no CartesianProduct anywhere.",
            formatted(entry.queries()["curate_corpus"](spark, sf_dir)),
        )
    )
    sections.append(
        (
            "chunk_docs / quantize_emb — zero-shuffle prep ops",
            "both plans are a single FileScan + WholeStageCodegen Project "
            "(tokenize/sequence/posexplode/slice for chunking; the int8 "
            "quantization HOFs) — NO Exchange anywhere: these ops compose "
            "with partition pruning and never materialize intermediates.",
            formatted(entry.queries()["chunk_docs"](spark, sf_dir))
            + formatted(entry.queries()["quantize_emb"](spark, sf_dir)),
        )
    )
    sections.append(
        (
            "pack_sequences — greedy token-budget packing",
            "pure-Catalyst token counting + hash-bucket routing over the "
            "scan, then exactly ONE Exchange (hashpartitioning on the "
            "uniform bucket) feeding the per-bucket FlatMapGroupsInPandas "
            "first-fit kernel — bucket count is the parallelism knob, the "
            "exchanged frame is (bucket, doc_id, n_tokens) only.",
            formatted(entry.queries()["pack_sequences"](spark, sf_dir)),
        )
    )
    sections.append(
        (
            "stratified_sample — deterministic data mixing",
            "the md5 keep-gate folds into a Filter directly over the "
            "documents FileScan (WholeStageCodegen, no Exchange, no "
            "materialized reject rows).",
            formatted(entry.queries()["stratified_sample"](spark, sf_dir)),
        )
    )
    sections.append(
        (
            "temperature_mix — T5-style source re-weighting",
            "a strata-grain HashAggregate (tiny) feeds the rate derivation; "
            "the 1-row k-min and the per-stratum thresholds come back as "
            "BroadcastHashJoin/BroadcastNestedLoopJoin onto the scan — the "
            "full corpus is touched exactly once, by the gated Filter; no "
            "corpus-grain Exchange.",
            formatted(entry.queries()["temperature_mix"](spark, sf_dir)),
        )
    )
    sections.append(
        (
            "source_cap — per-domain contribution cap",
            "counts agg broadcast back as the per-source pre-gate threshold; "
            "the Window (row_number per source) runs over the gate's "
            "SURVIVORS only (~overshoot*cap rows per source), so its "
            "Exchange and sort are bounded regardless of domain skew.",
            formatted(entry.queries()["source_cap"](spark, sf_dir)),
        )
    )
    sections.append(
        (
            "training_order — deterministic global shuffle rank",
            "the distributed rank: ONE range Exchange on (hash, id) pinned "
            "by a localCheckpoint (scan shows ExistingRDD), per-partition "
            "row_number windows whose partitions are the bounded range "
            "partitions, and the cumulative offsets broadcast back — no "
            "single-partition sort of the corpus anywhere.",
            formatted(entry.queries()["training_order"](spark, sf_dir)),
        )
    )
    sections.append(
        (
            "semdedup — embedding-cluster semantic dedup (exactness knob)",
            "the within-cell pair join (at the gate's n_clusters=1 knob a "
            "constant-key self-join; at n_clusters>1 a bounded per-cell "
            "block join) feeds connected components whose converged labels "
            "arrive as a checkpointed Scan ExistingRDD (lineage truncated "
            "per CC round); the final labeling is a BroadcastHashJoin back "
            "onto the corpus id column — one row per input vector, no "
            "corpus-grain Exchange after the pair stage.",
            formatted(entry.queries()["semdedup"](spark, sf_dir)),
        )
    )
    sections.append(
        (
            "dup_ngram_spans — corpus-level duplicated n-gram spans",
            "the gram stream is ONE Generate (posexplode) over a Project "
            "that tokenizes, slices and hashes map-side — (id, pos, int64) "
            "only, the gram STRINGS never leave the scan (no string column "
            "below the Exchange); corpus occurrence counts via a Window "
            "over ONE hash Exchange of that stream (no self-join, no "
            "second gram subtree); then a single doc-grain "
            "ObjectHashAggregate computing both the dup-gram count and "
            "the interval-union coverage fold; a left join restores "
            "zero-rows.",
            formatted(entry.queries()["dup_ngram_spans"](spark, sf_dir)),
        )
    )
    sections.append(
        (
            "remove_dup_spans — substring-dedup rewrite",
            "the shared gram subtree (one Generate + one Window exchange, "
            "as in dup_ngram_spans) feeds the covered-index expansion; "
            "token selection is a left_anti join at (doc, index) grain and "
            "the re-join is a single doc-grain ObjectHashAggregate whose "
            "sort lives INSIDE the collected array (array_sort over "
            "struct(ti, tok)) — no corpus-wide sort, shuffles keyed on the "
            "doc id only.",
            formatted(entry.queries()["remove_dup_spans"](spark, sf_dir)),
        )
    )
    from pyspark.sql import functions as FF

    sections.append(
        (
            "filtered search — doc_filter candidate restriction",
            "the filter predicate is PUSHED to the docs parquet scan "
            "(PushedFilters EqualTo on the filter column) and lands as a "
            "doc_int-grain join against the scored candidates — idf/avgdl "
            "untouched (no second doc_terms pass), TakeOrderedAndProject "
            "above.",
            formatted(
                s.search("baba0 ceba1 diba2", top_k=10, doc_filter=FF.col("role") == "user")
            ),
        )
    )
    sections.append(
        (
            "filtered search — WAND path (in-kernel inclusion mask)",
            "the pruned postings scan UNIONS a mapInPandas pack of the "
            "filtered docs scan's doc_ints (ALLOW sentinel rows) below the "
            "single seg Exchange — the mask rides the same shuffle as the "
            "postings, no driver collect, and the filter predicate is "
            "pushed to the docs scan feeding the pack.",
            formatted(
                s.search(
                    "baba0 ceba1 diba2", top_k=10, method="wand",
                    doc_filter=FF.col("role") == "user",
                )
            ),
        )
    )
    sections.append(
        (
            "facet_counts — matching-doc counts per stored column",
            "same pruned doc_terms scan as a search, score>0 match set, "
            "doc_int join to a (doc_int, facet)-pruned docs scan "
            "(ReadSchema two columns), tiny final hash agg on facet — "
            "no top-k, no extra corpus pass.",
            formatted(s.facet_counts("baba0 ceba1 diba2", "role")),
        )
    )
    # a doc with text (some turns are empty: an empty source seeds no search)
    mlt_source = s.docs.where("length(text) > 40").orderBy("doc_int").select("doc_id").first()[0]
    sections.append(
        (
            "more_like_this — seeded search (source vector never scans doc_terms)",
            "the returned plan is a weighted term-pruned search over the "
            "seeded terms (LocalTableScan query table broadcast), cut at "
            "k+1 rows, with the source doc dropped by a NOT EqualTo on "
            "doc_id in the docs scan below the final TakeOrderedAndProject; "
            "the seeding itself ran as one collect (pushed point lookup on "
            "docs, per-row tf over its token array, a join to term_stats' "
            "idf with the builder's own weight expr) — verify the doc_terms "
            "scan prunes to the 10 seeded terms, not the source doc.",
            formatted(s.more_like_this(mlt_source, query_terms=10, top_k=10)),
        )
    )
    sections.append(
        (
            "phrase_search — conjunctive candidates + sequence verify",
            "bucket-pruned doc_terms scan (PartitionFilters tb, "
            "PushedFilters In(term)), hash agg with count(distinct term) "
            "conjunction, joined to the docs whose text passes the instr "
            "verify: Catalyst pushes the verify into the docs scan's "
            "Filter (every stored text is tokenized once, only matching "
            "doc_ints are broadcast), so no text crosses an exchange.",
            formatted(s.phrase_search("baba0 ceba1", top_k=10)),
        )
    )
    sections.append(
        (
            "boolean_search — must/should/must_not in one pruned scan",
            "ONE bucket-pruned doc_terms scan serves all three clauses: "
            "the must-conjunction is a count(DISTINCT CASE…) and the "
            "must_not exclusion a count(CASE…) = 0 inside the scoring "
            "HashAggregate (no join), TakeOrderedAndProject above.",
            formatted(
                s.boolean_search(
                    must=["baba0", "ceba1"], should=["diba2"], must_not=["foba3"],
                    top_k=10,
                )
            ),
        )
    )
    sections.append(
        (
            "prefix_search — dictionary expansion then a regular OR search",
            "the returned plan is a plain term-pruned search over the "
            "expansion; the expansion itself ran as one bounded "
            "TakeOrderedAndProject over the term_stats scan with "
            "StringStartsWith in PushedFilters (a range predicate).",
            formatted(s.prefix_search("ba", top_k=10, max_expansions=8)),
        )
    )
    sections.append(
        (
            "suggest_terms — prefix-pruned dictionary rank",
            "StringStartsWith pushed to the term_stats scan; "
            "TakeOrderedAndProject (df desc, term asc) — no dictionary "
            "collect, no window.",
            formatted(s.suggest_terms("ba", 8)),
        )
    )
    sections.append(
        (
            "near_search — per-row positional verify",
            "conjunctive candidate agg off the bucket-pruned doc_terms "
            "scan, joined to the docs whose token positions pass the slop "
            "test: one exists() over each term's positions in the docs "
            "scan's Filter (tokenized once per row), no Generate, no "
            "self-join, no exchange beyond the candidate agg's.",
            formatted(s.near_search("baba0", "ceba1", slop=3, top_k=10)),
        )
    )
    sections.append(
        (
            "fuzzy_search — banded dictionary expansion then OR search",
            "the returned plan is a plain term-pruned search over the "
            "expansion (weighted by the closeness boost); the expansion "
            "itself ran as a bounded TakeOrderedAndProject over the "
            "term_stats scan with the |q|±d length band pushed "
            "(GreaterThanOrEqual/LessThanOrEqual on length is evaluated "
            "post-scan but the levenshtein only runs inside the band).",
            formatted(s.fuzzy_search("bbaa0", max_dist=2, top_k=10)),
        )
    )
    sections.append(
        (
            "query() — composed query-string plan",
            "'+baba0 \"baba0 ceba1\" -foba3 role:user diba2' compiles to "
            "ONE plan: a single bucket-pruned doc_terms scan feeds the "
            "scoring HashAggregate (must-conjunction as count(DISTINCT "
            "CASE), -terms as count(CASE) = 0), the role filter is pushed "
            "to the docs scan (EqualTo), and the phrase verify's "
            "tokenize/instr runs in the docs scan's Filter (as in "
            "phrase_search).",
            formatted(
                s.query('+baba0 "baba0 ceba1" -foba3 role:user diba2', top_k=10)
            ),
        )
    )
    sections.append(
        (
            "search_snippets — KWIC columns in the one top-k",
            "a plain search plan whose final TakeOrderedAndProject "
            "projects pos (least of instr over the query terms) and "
            "snippet (substring) over the k joined rows; the docs scan "
            "reads text; no second sort.",
            formatted(s.search_snippets("baba0 ceba1 diba2", top_k=10)),
        )
    )
    out = ["# EXPLAIN — headline physical plans", ""]
    out.append(
        "Generated by `python tools/explain_audit.py`; plans from the live "
        "code. Read the `Expect:` line, then verify in the plan below it."
    )
    for title, expect, plan in sections:
        out += ["", f"## {title}", "", f"Expect: {expect}", "", "```", plan.rstrip(), "```"]
    (REPO / "EXPLAIN.md").write_text("\n".join(out) + "\n")

    # quick greppable assertions (exit non-zero if a contract is gone)
    text = "\n".join(p for _, _, p in sections)
    checks = {
        "PushedFilters on term/term_id reach a scan": "term" in text and "PushedFilters" in text,
        "postings filter is the int64 term_id": "term_id" in text,
        "TakeOrderedAndProject used": "TakeOrderedAndProject" in text,
        "BroadcastHashJoin present": "BroadcastHashJoin" in text,
        "no CartesianProduct anywhere": all("CartesianProduct" not in sec[2] for sec in sections),
    }
    failed = [k for k, ok in checks.items() if not ok]
    print("EXPLAIN.md written;", "ALL CHECKS PASS" if not failed else f"FAILED: {failed}")
    spark.stop()
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
