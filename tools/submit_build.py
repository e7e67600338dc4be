"""spark-submit entry point: build + query an index from a transcript
parquet path (or the synthetic generator), for multi-executor clusters.

    zip -r /tmp/ses.zip splade_easy_spark
    spark-submit --master local[32] --py-files /tmp/ses.zip \
        tools/submit_build.py --convs 1000 --index /tmp/idx --query "baba0 ceba1"

On a real cluster swap --master (yarn/k8s) and sizes; the job code is
identical — no local-mode assumptions in the engine.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="transcript parquet path (else synthetic)")
    p.add_argument("--convs", type=int, default=500)
    p.add_argument("--index", required=True)
    p.add_argument("--query", default="baba0 ceba1")
    p.add_argument("--top-k", type=int, default=10)
    p.add_argument("--resume", action="store_true")
    args = p.parse_args()

    # Not session.get_spark: it names splade_easy_spark.daemon as the worker
    # daemon, and a --py-files zip reaches the workers only after their
    # daemon has started, so here the daemon stays PySpark's own.
    spark = SparkSession.builder.appName("ses-submit-build").getOrCreate()
    from splade_easy_spark.data import generate_transcripts
    from splade_easy_spark.index import build_index
    from splade_easy_spark.query import Searcher

    tx = (
        spark.read.parquet(args.input)
        if args.input
        else generate_transcripts(spark, num_convs=args.convs, seed=42)
    )
    t0 = time.time()
    res = build_index(spark, tx, args.index, resume=args.resume)
    build_s = time.time() - t0
    t0 = time.time()
    hits = Searcher(spark, args.index).search(args.query, top_k=args.top_k).collect()
    query_s = time.time() - t0
    print(
        json.dumps(
            {
                "n_docs": res.n_docs,
                "n_terms": res.n_terms,
                "build_sec": round(build_s, 2),
                "turns_per_sec": round(res.n_docs / build_s, 1),
                "query_sec": round(query_s, 3),
                "hits": [(r["doc_id"], round(r["score"], 4)) for r in hits],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
