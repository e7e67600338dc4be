"""Scan-parallelism floor for compute-heavy per-row operators.

A Spark scan's task count follows the input's file/row-group layout
(``spark.sql.files.maxPartitionBytes`` splits by BYTES), so a small or
single-row-group parquet file yields ONE task no matter how expensive the
per-row work stacked on the scan is — a 5k-doc table feeding 16 md5
min-hash aggregates ran single-threaded on a 32-core box (the measured
shape of the ``dedup_minhash`` bench row).  The guide's remedy for
under-split inputs is to repartition immediately after the read
(optimization guide §2.5 "input skew").

``ensure_min_parallelism`` does that ADAPTIVELY: it inspects the frame's
planned scan partitioning and round-robins up to the
session's default parallelism only when the scan is narrower — at real
scale a table yields far more splits than cores and this is a no-op, so no
shuffle is ever added to a properly-split input.  Use it on inputs whose
downstream is per-row CPU (hashing, regex batteries, per-row expansions),
not on plain aggregations where the scan itself is the cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin ``df`` up to ``min_parts`` (default: the session's
    ``defaultParallelism``) when its current partitioning is narrower;
    returns ``df`` unchanged otherwise.  The partition count comes from
    ``df.rdd``, so every call plans the frame in full and builds its RDD
    on the driver: no Spark job on a plain scan, but planning work that a
    hot path pays on each call."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
