"""IndexCatalog: the storage seam.

All reads/writes of index tables go through this class so that on a cluster
with Iceberg on the classpath the Parquet-dirs-plus-manifest fallback swaps
for ``spark.read/write.format("iceberg")`` + snapshot commits without
touching the build or query code (SURVEY.md §1.4).  Table names are fixed:

- ``docs``         doc_id, conv_id, turn_idx, role, tool, ts, text, doc_len, doc_int
- ``doc_terms``    exploded postings: tb, term, doc_int, weight, norm
                   (SQL path; norm = L2 of the doc's weight vector,
                   denormalized in so cosine scoring needs no join)
- ``postings``     packed blocks, hive-partitioned by doc segment:
                   seg, term_id (60-bit content hash, see ``term_id_py``),
                   block_id, n, doc_min, doc_max, max_weight,
                   docs BINARY (varbyte deltas), wts BINARY (float32 LE),
                   max_nweight, nwts BINARY (the cosine stream; empty
                   without ``pack_cosine``) — the WAND path
                   (``manifest.FORMAT_VERSION`` names this layout; older
                   ones are upgraded by ``maintenance.migrate_postings``)
- ``term_stats``   term, df, idf, tb, term_id (a vector index: no idf)
- ``corpus_stats`` single row: n_docs, avgdl, total_tokens, n_terms
- ``deleted``      doc_id, doc_int (tombstones; analog of deleted_ids.txt,
                   ``src/splade_easy/index.py:80-89``)
"""

from __future__ import annotations

from hashlib import md5 as hashlib_md5
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from splade_easy_spark.config import IndexConfig
from splade_easy_spark.index.manifest import Manifest

TABLES = ["docs", "doc_terms", "postings", "term_stats", "corpus_stats", "deleted"]


def term_bucket_expr(term_col, buckets: int):
    """Partition-pruning bucket for a term.  ``crc32`` (not ``hash``) so the
    DuckDB oracle and any non-Spark reader can reproduce it."""
    return F.pmod(F.crc32(term_col.cast("string")), F.lit(buckets)).cast("int")


#: postings-schema term_id reserved for packed tombstone rows (real ids are
#: non-negative 60-bit hashes, so a negative value cannot collide)
TOMB_TERM_ID = -1
#: packed INCLUSION-mask rows (filtered retrieval): doc_ints a query's
#: doc_filter allows, riding the same seg exchange as tombstones
ALLOW_TERM_ID = -2


def term_id_py(term: str, seed: int = 0) -> int:
    """60-bit content hash identifying a term in the packed postings table.

    The reference stores uint32 *model token ids* in its wire format
    (``src/splade_easy/schema.fbs:14``); this engine has no model vocabulary
    to index into, so the id is a hash of the term string: the first 15 hex
    digits of md5 (60 bits, always < 2^63 so it fits a Spark LONG).

    A content hash — not a dense dictionary id — because it needs NO
    coordination anywhere: the query side computes ids driver-side with
    hashlib (no term_stats lookup job before every search), appended
    batches compute ids for never-seen terms without a next_id counter in
    the manifest, and two executors packing the same term always agree.
    The price is collision risk, ~n²/2^61 for n distinct terms (≈1e-5 at
    5M terms): the build detects collisions exactly (vocabulary-sized agg,
    ``builder._stage_stats``) and raises with the remedy — rebuild with a
    different ``term_id_seed``, which perturbs every id.
    """
    s = term if seed == 0 else f"{seed}:{term}"
    return int(hashlib_md5(s.encode()).hexdigest()[:15], 16)


def term_id_expr(term_col, seed: int = 0):
    """JVM-side ``term_id_py`` (same md5-prefix value, codegen'd — used by
    the build, append and migrate to key ``term_stats``)."""
    src = (
        term_col.cast("string")
        if seed == 0
        else F.concat(F.lit(f"{seed}:"), term_col.cast("string"))
    )
    return F.conv(F.substring(F.md5(src), 1, 15), 16, 10).cast("long")


class IndexCatalog:
    def __init__(self, index_dir: str | Path, config: IndexConfig | None = None):
        self.index_dir = Path(index_dir)
        self.config = config or IndexConfig()
        self.manifest = Manifest(self.index_dir)

    def table_dir(self, name: str) -> str:
        return str(self.index_dir / name)

    def read(
        self, spark: SparkSession, name: str, schema: StructType | None = None
    ) -> DataFrame:
        """Table ``name``.  Without ``schema`` Spark infers it from a parquet
        footer, which costs a Spark job; with it the read only lists the
        table's files, afresh on every call."""
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self.table_dir(name))

    def has_deleted(self) -> bool:
        """Whether any delete has ever happened (a driver listing)."""
        p = Path(self.table_dir("deleted"))
        return p.exists() and any(p.rglob("*.parquet"))

    def read_deleted(self, spark: SparkSession) -> DataFrame | None:
        """Tombstones, or None when no delete has ever happened."""
        return self.read(spark, "deleted") if self.has_deleted() else None

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None, mode: str = "overwrite") -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.table_dir(name))

    def corpus_stats(self, spark: SparkSession) -> dict:
        row = self.read(spark, "corpus_stats").collect()[0]
        return row.asDict()

    def table_rows(self, name: str) -> int:
        """Exact row count from parquet footers — no Spark job."""
        import pyarrow.parquet as pq

        p = Path(self.table_dir(name))
        return sum(pq.read_metadata(f).num_rows for f in p.rglob("*.parquet"))
