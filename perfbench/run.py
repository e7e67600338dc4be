"""Seeded local[N] benchmark of the splade_easy_spark engine.

    python3 perfbench/run.py --workload {batch,interactive} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root.  One process, one Spark session at
``local[<usable cores>]``, one client.  Set-up stages the seeded inputs to
parquet, builds the index and warms up; the loop then runs for ``--seconds``
and every result is checked.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones (see perfbench/README.md).  The line before it is a
``context`` record that gates nothing: versions, sizes, table bytes, the
box probe and per-call-kind figures; in a traced run also the loop's
end-to-end metrics, which give the tracing overhead against untraced runs.

Exits non-zero without a result if the package cannot be imported or
set-up fails.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("batch", "interactive")

E2E_UNITS = {
    "setup_s": "s",
    "qps": "1/s",
    "call_ms": "ms",
    "build_turns_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test only: corpus size, and one deliberately wrong result
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--inject-fault", action="store_true")
    return ap.parse_args(argv)


def usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def start_session(work: str, cores: int):
    """A local[cores] session whose Python workers can import the package
    and whose scratch files stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    from splade_easy_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def box_probe_s(spark, cores: int) -> float:
    """Pure-JVM codegen probe (no Python, disk or shuffle): the median of
    three ``sum(xxhash64(id) % 1000)`` passes over 1e8 rows, after one
    warm-up.  It tracks the box's speed, not the code's."""
    from pyspark.sql import functions as F

    def probe(n: int) -> float:
        t0 = time.perf_counter()
        spark.range(0, n, 1, cores).select(F.sum(F.xxhash64("id") % 1000)).collect()
        return time.perf_counter() - t0

    probe(50_000_000)
    return statistics.median(probe(100_000_000) for _ in range(3))


def context(ctx, c, cores: int, spark) -> dict:
    from workloads import index_bytes, kind_detail

    return {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "cores": cores,
        "spark": spark.version,
        "python": platform.python_version(),
        "n_docs": c.n_docs,
        "n_terms": c.n_terms,
        "text_bytes": c.text_bytes,
        "tables": {k: {"bytes": b, "files": f} for k, (b, f) in index_bytes(c.index_dir).items()},
        "units": ctx.detail.get("units"),
        "kinds": kind_detail(ctx),
        "box_probe_s": box_probe_s(spark, cores),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("splade_easy_spark") is None:
        print(f"perfbench: package splade_easy_spark not found under {ROOT}", file=sys.stderr)
        return 2
    import tracing
    import workloads as wl

    cores = usable_cores()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark = start_session(work, cores)
        ctx = wl.Ctx(
            spark=spark,
            tracer=tracing.Tracer(spark, enabled=bool(args.trace)),
            workload=args.workload,
            seed=args.seed,
            size=wl.SIZES[args.size],
            work=work,
            inject_fault=args.inject_fault,
        )
        corpus = wl.setup_corpus(ctx)
        state = wl.warm_up(ctx, corpus)
        setup_s = time.perf_counter() - t_start
        wl.run_loop(ctx, corpus, state, args.seconds)
        metrics, units = wl.e2e_metrics(ctx, corpus, setup_s), E2E_UNITS
        record = context(ctx, corpus, cores, spark)
        if args.trace:
            import layers

            record["e2e"] = metrics
            metrics, units = layers.per_layer(ctx, corpus), layers.UNITS
        print(json.dumps({"context": record}), flush=True)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
