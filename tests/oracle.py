"""Single-node NumPy/pure-Python oracle restating the reference's semantics.

The reference itself can't be imported in the sandbox (its numba/flatbuffers
deps are absent), so this module re-states the *scoring and ranking
semantics* we must match, with every rule cited to the reference source:

- score = Σ dw·qw over the term intersection, float64 accumulation
  (``src/splade_easy/scoring.py:30-56``: two-pointer merge — equivalent to a
  dict-intersection sum for our term-keyed vectors);
- cosine = dot/(‖d‖·‖q‖) over FULL vector norms, 0 when either norm is 0
  (``src/splade_easy/scoring.py:58-76``);
- query dedup keeps MAX weight (``src/splade_easy/scoring.py:102-114``);
- per-shard k-heap then global ``heapq.nlargest`` merge with score-only key
  (``src/splade_easy/retriever.py:122,194-197``) — ties arbitrary, so the
  comparison helper here checks tie groups as sets (SURVEY.md §7);
- only ``score > 0`` docs are candidates (``src/splade_easy/retriever.py:186``).

BM25 weighting mirrors splade_easy_spark.functions.bm25 exactly.
"""

from __future__ import annotations

import math
import re
from collections import Counter

K1_DEFAULT = 1.2
B_DEFAULT = 0.75


def tokenize(text: str, pattern: str = "[a-z0-9]+") -> list[str]:
    return re.findall(pattern, text.lower())


class BM25Oracle:
    def __init__(self, docs: dict[str, str], k1: float = K1_DEFAULT, b: float = B_DEFAULT):
        """docs: doc_id -> raw text."""
        self.k1, self.b = k1, b
        self.tf: dict[str, Counter] = {d: Counter(tokenize(t)) for d, t in docs.items()}
        self.dl = {d: sum(c.values()) for d, c in self.tf.items()}
        self.n_docs = len(docs)
        self.avgdl = sum(self.dl.values()) / max(1, self.n_docs)
        self.df = Counter()
        for c in self.tf.values():
            for term in c:
                self.df[term] += 1

    def idf(self, term: str) -> float:
        df = self.df.get(term, 0)
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    def doc_weight(self, term: str, doc_id: str) -> float:
        tf = self.tf[doc_id].get(term, 0)
        if tf == 0:
            return 0.0
        dl = self.dl[doc_id]
        denom = tf + self.k1 * (1 - self.b + self.b * dl / self.avgdl)
        return self.idf(term) * tf * (self.k1 + 1) / denom

    def doc_vector(self, doc_id: str) -> dict[str, float]:
        return {t: self.doc_weight(t, doc_id) for t in self.tf[doc_id]}

    def doc_norm(self, doc_id: str) -> float:
        return math.sqrt(sum(w * w for w in self.doc_vector(doc_id).values()))

    def query_terms(self, text: str) -> dict[str, float]:
        # dedup keeping max weight, cf. scoring.py:102-114 (all weights 1.0)
        return {t: 1.0 for t in tokenize(text)}

    def score(self, query: dict[str, float], doc_id: str, use_cosine: bool = False) -> float:
        dot = 0.0
        for t, qw in query.items():
            dot += qw * self.doc_weight(t, doc_id)
        if not use_cosine:
            return dot
        dn = self.doc_norm(doc_id)
        qn = math.sqrt(sum(w * w for w in query.values()))
        if dn == 0.0 or qn == 0.0:
            return 0.0  # cf. scoring.py:69-72
        return dot / (dn * qn)

    def search(
        self,
        query_text: str,
        top_k: int = 10,
        use_cosine: bool = False,
        deleted: set[str] | None = None,
        extend_ties: bool = True,
    ) -> list[tuple[str, float]]:
        """Full ranking, top-k; with ``extend_ties`` the returned list also
        includes every doc tied (within 1e-9) with the rank-k score, so the
        caller can treat the k-boundary tie group as a set."""
        q = self.query_terms(query_text)
        cands = []
        for d in self.tf:
            if deleted and d in deleted:
                continue
            s = self.score(q, d, use_cosine)
            if s > 0:
                cands.append((d, s))
        cands.sort(key=lambda x: (-x[1], x[0]))
        if len(cands) <= top_k or not extend_ties:
            return cands[:top_k]
        kth = cands[top_k - 1][1]
        out = cands[:top_k]
        for d, s in cands[top_k:]:
            if abs(s - kth) <= 1e-9 * max(1.0, abs(kth)):
                out.append((d, s))
            else:
                break
        return out


def assert_topk_matches(
    engine: list[tuple[str, float]],
    oracle_ext: list[tuple[str, float]],
    top_k: int,
    tol: float = 1e-6,
) -> None:
    """Rank-identity up to legitimate ties: scores equal per rank within
    ``tol``; within each tie band, doc_id *sets* must match (boundary band:
    engine's members ⊆ oracle's extended band)."""
    n_expected = min(top_k, len(oracle_ext))
    assert len(engine) == min(top_k, n_expected), (
        f"length mismatch: engine {len(engine)} vs oracle {n_expected}"
    )
    for i, (ed, es) in enumerate(engine):
        os_ = oracle_ext[i][1]
        assert abs(es - os_) <= tol * max(1.0, abs(os_)), (
            f"rank {i}: engine score {es} vs oracle {os_} (doc {ed})"
        )
    # tie-band set comparison
    i = 0
    while i < len(engine):
        j = i
        band_score = oracle_ext[i][1]
        while j < len(engine) and abs(oracle_ext[j][1] - band_score) <= tol * max(1.0, abs(band_score)):
            j += 1
        engine_band = {d for d, _ in engine[i:j]}
        # oracle band may extend beyond k (boundary ties)
        oracle_band = {
            d
            for d, s in oracle_ext
            if abs(s - band_score) <= tol * max(1.0, abs(band_score))
        }
        assert engine_band <= oracle_band, (
            f"band at rank {i}: engine {engine_band - oracle_band} not in oracle band"
        )
        i = j


def assert_single_norm_rule(spark, index_dir: str, term_id_seed: int = 0) -> None:
    """The two weighted layouts of an index agree on every doc's norm: each
    ``doc_terms`` row's ``float32(weight / norm)`` equals its packed
    ``nwts`` entry bit for bit, and each block's ``max_nweight`` is the
    max of its rows' ``weight / norm``."""
    import numpy as np
    import pandas as pd

    from splade_easy_spark.index.catalog import term_id_py
    from splade_easy_spark.index.postings import unpack_blocks

    dt = spark.read.parquet(f"{index_dir}/doc_terms").select(
        "term", "doc_int", "weight", "norm"
    ).toPandas()
    post = spark.read.parquet(f"{index_dir}/postings").select(
        "term_id", "n", "docs", "wts", "nwts", "max_nweight"
    ).toPandas()
    ns = post["n"].to_numpy()
    doc_ints, _ = unpack_blocks(post["docs"], post["wts"], ns)
    nw32 = np.frombuffer(b"".join(post["nwts"]), dtype=np.float32)
    assert len(nw32) == ns.sum() == len(dt), "cosine stream missing or postings differ"
    packed = pd.DataFrame({
        "term_id": np.repeat(post["term_id"].to_numpy(), ns),
        "doc_int": doc_ints,
        "nw32": nw32.view(np.uint32),
        "blk": np.repeat(np.arange(len(post)), ns),
    })
    dt["term_id"] = [term_id_py(t, term_id_seed) for t in dt["term"]]
    dt["nw"] = np.where(dt["norm"] > 0, dt["weight"] / dt["norm"], 0.0)
    m = dt.merge(packed, on=["term_id", "doc_int"], how="inner")
    assert len(m) == len(dt), "doc_terms rows without a packed posting"
    assert (m["nw"].to_numpy().astype(np.float32).view(np.uint32) == m["nw32"].to_numpy()).all()
    block_max = m.groupby("blk")["nw"].max()
    assert (block_max.to_numpy() == post["max_nweight"].to_numpy()[block_max.index]).all()


def assert_files_ordered(index_dir: str) -> None:
    """Every parquet file of ``doc_terms`` is sorted by ``(term, doc_int)``
    and every file of ``postings`` by ``(term_id, block_id)``: the
    clustering that lets min/max row-group statistics prune a term lookup.
    Read file by file with pyarrow, so the check sees the order on disk,
    not an order Spark restores on read."""
    from pathlib import Path

    import pyarrow.parquet as pq

    for table, keys in (("doc_terms", ("term", "doc_int")), ("postings", ("term_id", "block_id"))):
        files = sorted(Path(index_dir, table).rglob("*.parquet"))
        assert files, f"{table} has no files"
        for f in files:
            t = pq.read_table(f, columns=list(keys))
            rows = list(zip(*(t.column(k).to_pylist() for k in keys)))
            assert rows == sorted(rows), f"{f} is not sorted by {keys}"
