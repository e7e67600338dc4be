"""splade_easy_spark — a from-scratch PySpark-native inverted-index build +
BM25 top-k query engine with the query/data-processing capabilities of
dleemiller/splade-easy (reference studied read-only at /root/reference).

Not a port: the reference is a single-node exhaustive scan-and-score store
(``src/splade_easy/retriever.py:158-202``); this engine is a distributed
inverted index built and queried with the PySpark DataFrame API, designed for
10^12-turn corpora on multi-executor clusters and verified at small scale
against both a NumPy re-statement of the reference scoring semantics and a
DuckDB SQL oracle.

Layout
------
- ``config``     analyzer + BM25 parameters (the "model identity" analog)
- ``session``    SparkSession factory tuned for local[N] testing
- ``data``       deterministic synthetic transcript generator (input schema)
- ``functions``  tokenization / BM25 / text-analysis column expressions
- ``index``      build pipeline, postings compression, manifest, maintenance
- ``query``      the full-text verbs written once over a scoring source;
                 searcher (the index as a source + WAND), the WAND
                 kernel (MaxScore over block metadata), point lookups
- ``adhoc``      the same verbs over a raw corpus (the DuckDB-gated path)
- ``ops``        large-scale training-data ops: dedup, similarity, text stats
- ``streaming``  incremental index appender (Structured Streaming)
"""

from splade_easy_spark.config import AnalyzerConfig, BM25Params, IndexConfig

__all__ = ["AnalyzerConfig", "BM25Params", "IndexConfig"]
__version__ = "0.1.0"
