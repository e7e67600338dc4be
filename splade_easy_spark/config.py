"""Engine configuration.

The reference records a single ``model_id`` string in its index metadata and
warns when the query-time model differs (``src/splade_easy/utils.py:40-64``,
``src/splade_easy/retriever.py:137-145``).  Our analog is a deterministic
analyzer + BM25 parameter set whose hash is stored in the index manifest and
asserted at query time (strict, not just a warning — a wrong analyzer silently
ruins recall at scale).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class AnalyzerConfig:
    """Tokenization rules, applied identically at build and query time.

    JVM-side only: ``lower`` + ``regexp_extract_all`` — no Python in the
    scan path.  The pattern must stay expressible in both Spark and ANSI/
    DuckDB regex dialects (the correctness oracle re-runs it in DuckDB).
    """

    token_pattern: str = "[a-z0-9]+"
    lowercase: bool = True
    min_token_len: int = 1
    max_token_len: int = 64

    def config_hash(self) -> str:
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]


@dataclass(frozen=True)
class BM25Params:
    """Lucene-style BM25.

    idf(t)  = ln(1 + (N - df + 0.5)/(df + 0.5))          (non-negative)
    w(t, d) = idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    score(q, d) = sum over t in q∩d of qw(t) * w(t, d)

    The factored doc-side weight makes BM25 a *sparse dot product*, the same
    algebra as the reference's scoring kernel
    (``src/splade_easy/scoring.py:7-76``: sum of dw*qw over the sorted-merge
    intersection), which is what lets the reference scorer act as an oracle.
    """

    k1: float = 1.2
    b: float = 0.75

    def config_hash(self) -> str:
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]


@dataclass(frozen=True)
class IndexConfig:
    """Build-time layout knobs.

    ``block_size`` mirrors classic block-max WAND literature (128 docs per
    block); ``term_buckets`` is the partition-pruning analog of the
    reference's shard fan-out (``src/splade_easy/retriever.py:92-119``) —
    postings are hash-bucketed by term so a query's handful of terms prunes
    to a handful of buckets.  ``hot_term_salt`` shards a skewed term's
    postings across N sub-partitions during the build shuffle.
    """

    analyzer: AnalyzerConfig = field(default_factory=AnalyzerConfig)
    bm25: BM25Params = field(default_factory=BM25Params)
    block_size: int = 128
    term_buckets: int = 64
    build_partitions: int = 32
    hot_term_df_quantile: float = 0.999
    hot_term_salt: int = 8
    segment_docs: int = 1 << 20  # docs per WAND segment (doc-sharded layout)
    #: pack the doc-normalized weight stream (``nwts``/``max_nweight``) into
    #: posting blocks so cosine ranking runs through the WAND kernel.  It
    #: roughly doubles the weight bytes through the build's pack stage —
    #: disable when only BM25/dot ranking is needed (cosine then remains
    #: available via the SQL path, which uses the denormalized ``norm``).
    pack_cosine: bool = True
    #: perturbation seed for the 60-bit postings term ids (see
    #: ``catalog.term_id_py``); only ever changed if a build reports a
    #: term-id collision, which rehashing with a new seed resolves.
    term_id_seed: int = 0

    def layout(self) -> dict:
        """The physical layout a build records in its manifest
        (``Manifest.stamp_current``); rewrites read it back from there."""
        return {
            "segment_docs": self.segment_docs,
            "block_size": self.block_size,
            "term_buckets": self.term_buckets,
            "build_partitions": self.build_partitions,
            "pack_cosine": self.pack_cosine,
            "term_id_seed": self.term_id_seed,
        }

    def identity(self) -> dict:
        return {
            "analyzer": asdict(self.analyzer),
            "bm25": asdict(self.bm25),
            "analyzer_hash": self.analyzer.config_hash(),
            "bm25_hash": self.bm25.config_hash(),
        }
