"""The benchmark's workloads, their inputs and their output checks.

Each workload is a closed loop with one client: the next call starts when
the previous one has returned, and no call runs in parallel with another.
A loop runs whole *units* (a fixed mix of calls) until the time budget is
spent, so every run measures the same mix.

* ``batch`` — ``search_many`` batches (WAND, WAND with a selective
  ``doc_filter``, SQL) and ``adhoc.bm25_topk_multi`` over a 50k-term
  corpus.  Per-call driver cost is amortised over hundreds of queries; the
  postings scan, exchange, Arrow hop and kernels do the work.
* ``interactive`` — single ``search`` calls (SQL and WAND, alternating
  order) and the full-text verbs over a 5k-term corpus.  Each call is a
  handful of Spark jobs, so driver planning and job round-trips dominate.

Both workloads build their index during set-up from staged parquet inputs
and time that build.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from splade_easy_spark import adhoc
from splade_easy_spark.config import IndexConfig
from splade_easy_spark.data import generate_query_set, generate_transcripts
from splade_easy_spark.functions.text import doc_id_expr
from splade_easy_spark.index import build_index
from splade_easy_spark.query import Searcher

#: fixed layout for every index the benchmark builds: 512-doc segments
#: give the WAND kernels several segments to spread over at these corpus
#: sizes, as the doc-sharded layout does on a large index (the values do
#: not depend on the core count)
CONFIG = IndexConfig(build_partitions=8, term_buckets=16, segment_docs=512, block_size=128)
TOP_K = 10
#: WAND weights are packed as float32; the SQL path and adhoc are double
WAND_TOL = 1e-5
EXACT_TOL = 1e-6

#: corpus and batch sizes; ``tiny`` is for the self-test only
SIZES = {
    "full": dict(turns={"batch": 2000, "interactive": 1600}, batch_queries=200, sql_queries=50,
                 adhoc_queries=20, interactive_queries=60, query_pairs=4, verb_checks=2,
                 side_turns=(300, 120)),
    "tiny": dict(turns={"batch": 300, "interactive": 300}, batch_queries=20, sql_queries=8,
                 adhoc_queries=4, interactive_queries=8, query_pairs=2, verb_checks=2,
                 side_turns=(200, 80)),
}
VOCAB = {"batch": 50_000, "interactive": 5_000}
TOKEN = re.compile(CONFIG.analyzer.token_pattern)


@dataclass
class Sample:
    kind: str
    wall_s: float
    queries: int


@dataclass
class Ctx:
    """Everything one run shares: session, tracer, inputs, index, tallies."""

    spark: object
    tracer: object
    workload: str
    seed: int
    size: dict
    work: str
    inject_fault: bool = False
    attempted: int = 0
    failed: int = 0
    samples: list[Sample] = field(default_factory=list)
    detail: dict = field(default_factory=dict)

    def call(self, kind: str, fn, queries: int = 1, timed: bool = True):
        """One client call.  Exceptions count as failures; returns None then."""
        self.attempted += 1
        try:
            out, wall = self.tracer.run(kind, fn)
        except Exception as e:  # a failed call must not end the run
            self.failed += 1
            _log(f"{kind} raised {type(e).__name__}: {str(e).splitlines()[0][:300]}")
            return None
        if timed:
            self.samples.append(Sample(kind, wall, queries))
        return out

    def check(self, ok: bool, what: str) -> None:
        """A wrong result counts as a failure of the call that produced it."""
        if not ok:
            self.failed += 1
            _log(f"check failed: {what}")

    def corrupt(self, rows: list) -> list:
        """Self-test hook: drop the first row of one result."""
        if self.inject_fault and rows:
            self.inject_fault = False
            return rows[1:]
        return rows


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- inputs


def stage(ctx: Ctx, name: str, turns: int, seed: int, vocab: int, prefix: str = ""):
    """Stage exactly ``turns`` generated turns to parquet (the first ones in
    (conv_id, turn_idx) order, so the size does not vary with the seed);
    return the staged table."""
    # conversations average ~36 turns: 1 per 25 turns leaves a wide margin
    df = generate_transcripts(ctx.spark, num_convs=turns // 25 + 1, seed=seed, vocab_size=vocab)
    df = df.orderBy("conv_id", "turn_idx").limit(turns)
    if prefix:
        df = df.withColumn("conv_id", F.concat(F.lit(prefix), "conv_id"))
    path = os.path.join(ctx.work, name)
    df.write.mode("overwrite").parquet(path)
    return ctx.spark.read.parquet(path)


def as_docs(tx):
    """(doc_id, text, role) view of a staged transcript table."""
    return tx.select(doc_id_expr().alias("doc_id"), "text", "role")


def index_bytes(index_dir: str) -> dict[str, tuple[int, int]]:
    """{table: (bytes, parquet files)} for each table directory."""
    out = {}
    for name in sorted(os.listdir(index_dir)):
        path = os.path.join(index_dir, name)
        if not os.path.isdir(path):
            continue
        size = files = 0
        for root, _, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    size += os.path.getsize(os.path.join(root, n))
                    files += 1
        out[name] = (size, files)
    return out


@dataclass
class Corpus:
    """A staged corpus, its built index and the driver-side truth."""

    tx: object
    docs: object
    index_dir: str
    searcher: Searcher
    rows: dict  # doc_id -> (role, text)
    queries: list[dict]
    n_docs: int
    n_terms: int
    build_s: float
    text_bytes: int


def setup_corpus(ctx: Ctx) -> Corpus:
    """Stage the inputs, build the index (timed), open a searcher."""
    vocab = VOCAB[ctx.workload]
    tx = stage(ctx, "input", ctx.size["turns"][ctx.workload], ctx.seed, vocab)
    n_q = ctx.size["batch_queries" if ctx.workload == "batch" else "interactive_queries"]
    queries = generate_query_set(n_q, seed=ctx.seed + 7919, vocab_size=vocab)
    index_dir = os.path.join(ctx.work, "index")
    t0 = time.perf_counter()
    res = ctx.call("build", lambda: build_index(ctx.spark, tx, index_dir, CONFIG), timed=False)
    build_s = time.perf_counter() - t0
    if res is None:
        raise RuntimeError("index build failed")
    docs = as_docs(tx)
    rows = {r["doc_id"]: (r["role"], r["text"]) for r in docs.collect()}
    text_bytes = sum(len(t.encode("utf-8")) for _, t in rows.values())
    searcher = Searcher(ctx.spark, index_dir, CONFIG)
    return Corpus(tx, docs, index_dir, searcher, rows, queries, res.n_docs, res.n_terms,
                  build_s, text_bytes)


# ---------------------------------------------------------------- checks


def same_topk(a: list[tuple[str, float]], b: list[tuple[str, float]], tol: float) -> bool:
    """Ranked (doc_id, score) lists agree: equal length, scores equal per
    rank within ``tol``, and doc ids equal per rank except inside a band
    of scores tied within ``tol``, where the sets must match.  A band
    that reaches the end of the list may be cut by top-k differently."""
    if len(a) != len(b):
        return False
    if any(abs(x[1] - y[1]) > tol * max(1.0, abs(y[1])) for x, y in zip(a, b)):
        return False
    i = 0
    while i < len(a):
        j = i + 1
        while j < len(a) and abs(a[j][1] - a[i][1]) <= tol * max(1.0, abs(a[i][1])):
            j += 1
        if j < len(a) and {d for d, _ in a[i:j]} != {d for d, _ in b[i:j]}:
            return False
        i = j
    return True


def ranked(rows, id_col: str = "doc_id") -> list[tuple[str, float]]:
    return [(r[id_col], float(r["score"])) for r in rows]


def by_query(rows) -> dict[str, list[tuple[str, float]]]:
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"] if "doc_id" in r else r["id"], float(r["score"])))
    return out


# ---------------------------------------------------------------- batch


def batch_unit(ctx: Ctx, c: Corpus, qs: list[dict]) -> None:
    """One unit: WAND batch, filtered WAND batch, SQL batch, adhoc batch."""
    s = c.searcher
    sql_qs, adhoc_qs = qs[: ctx.size["sql_queries"]], qs[: ctx.size["adhoc_queries"]]
    user = F.col("role") == "user"
    wand = ctx.call("batch_wand", lambda: s.search_many(qs, top_k=TOP_K, method="wand").collect(),
                    len(qs))
    filt = ctx.call("batch_filtered", lambda: s.search_many(
        qs, top_k=TOP_K, method="wand", doc_filter=user).collect(), len(qs))
    sql = ctx.call("batch_sql", lambda: s.search_many(sql_qs, top_k=TOP_K, method="sql").collect(),
                   len(sql_qs))
    adh = ctx.call("adhoc", lambda: adhoc.bm25_topk_multi(
        ctx.spark, c.docs, adhoc_qs, top_k=TOP_K).collect(), len(adhoc_qs))
    if wand is not None and sql is not None:
        w, q = by_query(wand), by_query(sql)
        for qd in sql_qs:
            qid = qd["query_id"]
            ctx.check(same_topk(ctx.corrupt(w.get(qid, [])), q.get(qid, []), WAND_TOL),
                      f"batch WAND != SQL for {qid}")
    if filt is not None:
        bad = [r["doc_id"] for r in filt if c.rows[r["doc_id"]][0] != "user"]
        ctx.check(not bad, f"filtered batch returned non-matching docs {bad[:3]}")
    if adh is not None and sql is not None:
        a, q = by_query(adh), by_query(sql)
        for qd in adhoc_qs:
            qid = qd["query_id"]
            ctx.check(same_topk(a.get(qid, []), q.get(qid, []), EXACT_TOL),
                      f"adhoc != SQL batch for {qid}")


# ---------------------------------------------------------------- interactive


def tokens(text: str) -> list[str]:
    return TOKEN.findall(text.lower())


@dataclass
class VerbArgs:
    doc_id: str
    a: str
    b: str
    c: str
    text: str


def verb_args(c: Corpus, seed: int, n: int) -> list[VerbArgs]:
    """``n`` seeded argument sets, each taken from one corpus document with
    at least four tokens, so every verb has hits."""
    rng = random.Random(seed)
    ids = sorted(d for d, (_, t) in c.rows.items() if len(set(tokens(t))) >= 4)
    out = []
    for _ in range(n):
        d = rng.choice(ids)
        toks = tokens(c.rows[d][1])
        i = rng.randrange(len(toks) - 2)
        other = tokens(c.rows[rng.choice(ids)][1])[0]
        out.append(VerbArgs(d, toks[i], toks[i + 1], other, " ".join(toks[i : i + 3])))
    return out


def _prefix(t: str) -> str:
    return t[:2]


def _regex(t: str) -> str:
    return re.escape(t[:1]) + "." + re.escape(t[2:]) if len(t) > 2 else re.escape(t)


def verbs(c: Corpus, v: VerbArgs) -> list[tuple[str, object]]:
    """(name, thunk) for one round of the full-text verbs on args ``v``."""
    s, k = c.searcher, TOP_K
    return [
        ("phrase_search", lambda: s.phrase_search(f"{v.a} {v.b}", top_k=k).collect()),
        ("boolean_search", lambda: s.boolean_search(
            must=[v.a], should=[v.b], must_not=[v.c], top_k=k).collect()),
        ("query", lambda: s.query(f"+{v.a} {v.b} -{v.c}", top_k=k).collect()),
        ("fuzzy_search", lambda: s.fuzzy_search(v.a[:-1], max_dist=1, top_k=k).collect()),
        ("prefix_search", lambda: s.prefix_search(_prefix(v.a), top_k=k).collect()),
        ("regex_search", lambda: s.regex_search(_regex(v.a), top_k=k).collect()),
        ("near_search", lambda: s.near_search(v.a, v.b, slop=3, top_k=k).collect()),
        ("facet_counts", lambda: s.facet_counts(v.text, "role").collect()),
        ("more_like_this", lambda: s.more_like_this(v.doc_id, top_k=k).collect()),
        ("search_snippets", lambda: s.search_snippets(v.text, top_k=k).collect()),
        ("suggest_terms", lambda: s.suggest_terms(_prefix(v.a), k).collect()),
        ("get", lambda: s.get(v.doc_id)),
    ]


VERB_NAMES = [
    "phrase_search", "boolean_search", "query", "fuzzy_search", "prefix_search",
    "regex_search", "near_search", "facet_counts", "more_like_this",
    "search_snippets", "suggest_terms", "get",
]


def verb_expected(ctx: Ctx, c: Corpus, name: str, v: VerbArgs):
    """The verb's ``adhoc`` counterpart over the raw docs, as comparable rows."""
    sp, d, k = ctx.spark, c.docs, TOP_K
    topk = {
        "phrase_search": lambda: adhoc.phrase_search(sp, d, f"{v.a} {v.b}", top_k=k),
        "boolean_search": lambda: adhoc.boolean_search(sp, d, [v.a], [v.b], [v.c], top_k=k),
        "query": lambda: adhoc.boolean_search(sp, d, [v.a], [v.b], [v.c], top_k=k),
        "fuzzy_search": lambda: adhoc.fuzzy_search(sp, d, v.a[:-1], max_dist=1, top_k=k),
        "prefix_search": lambda: adhoc.prefix_search(sp, d, _prefix(v.a), top_k=k),
        "regex_search": lambda: adhoc.regex_search(sp, d, _regex(v.a), top_k=k),
        "near_search": lambda: adhoc.near_search(sp, d, v.a, v.b, slop=3, top_k=k),
        "more_like_this": lambda: adhoc.more_like_this(sp, d, v.doc_id, top_k=k),
    }
    if name in topk:
        return ranked(topk[name]().collect(), "id")
    if name == "facet_counts":
        return {r["facet"]: r["n_docs"] for r in adhoc.facet_counts(sp, d, v.text, "role").collect()}
    if name == "search_snippets":
        rows = adhoc.search_snippets(sp, d, v.text, top_k=k).collect()
        return ranked(rows, "id"), [(r["pos"], r["snippet"]) for r in rows]
    if name == "suggest_terms":
        return [(r["term"], r["df"]) for r in adhoc.suggest_terms(sp, d, _prefix(v.a), k).collect()]
    role, text = c.rows[v.doc_id]
    return (v.doc_id, role, text)


def verb_matches(ctx: Ctx, c: Corpus, name: str, v: VerbArgs, got) -> bool:
    exp = verb_expected(ctx, c, name, v)
    if name == "facet_counts":
        return {r["facet"]: r["n_docs"] for r in got} == exp
    if name == "search_snippets":
        return (same_topk(ranked(got), exp[0], EXACT_TOL)
                and [(r["pos"], r["snippet"]) for r in got] == exp[1])
    if name == "suggest_terms":
        return [(r["term"], r["df"]) for r in got] == exp
    if name == "get":
        return got is not None and (got["doc_id"], got["role"], got["text"]) == exp
    return same_topk(ranked(got), exp, EXACT_TOL)


def interactive_unit(ctx: Ctx, c: Corpus, state: dict, pairs: int,
                     with_verbs: bool = True) -> None:
    """One unit: ``pairs`` queries through SQL and WAND ``search``
    (alternating which goes first), then one round of every verb."""
    s = c.searcher
    for _ in range(pairs):
        n = state["q"]
        q = c.queries[n % len(c.queries)]
        order = ("sql", "wand") if n % 2 == 0 else ("wand", "sql")
        state["q"] += 1
        got = {}
        for m in order:
            got[m] = ctx.call(f"search_{m}", lambda m=m: s.search(
                q["text"], top_k=TOP_K, method=m).collect())
        if got["sql"] is not None and got["wand"] is not None:
            ctx.check(same_topk(ctx.corrupt(ranked(got["wand"])), ranked(got["sql"]), WAND_TOL),
                      f"WAND != SQL for {q['query_id']}")
    if not with_verbs:
        return
    args = state["args"][state["round"] % len(state["args"])]
    state["round"] += 1
    for name, fn in verbs(c, args):
        ctx.call(f"verb.{name}", fn)


def check_verbs(ctx: Ctx, c: Corpus, args: VerbArgs) -> None:
    """Untimed: a seeded rotating subset of the verbs against ``adhoc``
    (``get`` against the staged row)."""
    n = ctx.size["verb_checks"]
    for j in range(n):
        name, fn = verbs(c, args)[(ctx.seed * n + j) % len(VERB_NAMES)]
        got = ctx.call(f"check.{name}", fn, timed=False)
        if got is not None:
            try:
                ok = verb_matches(ctx, c, name, args, got)
            except Exception as e:  # the adhoc side failing is a failed check too
                ok = False
                _log(f"adhoc {name} raised {type(e).__name__}: {e}")
            ctx.check(ok, f"{name} disagrees with adhoc")


# ---------------------------------------------------------------- loop


def _unit(ctx: Ctx, c: Corpus, state: dict, warm: bool = False) -> None:
    if ctx.workload == "batch":
        batch_unit(ctx, c, c.queries[:10] if warm else c.queries)
    else:
        interactive_unit(ctx, c, state, 1 if warm else ctx.size["query_pairs"],
                         with_verbs=not warm)


def warm_up(ctx: Ctx, c: Corpus) -> dict:
    """The last step of set-up: one small untimed unit.  Returns the loop state."""
    state = {"q": 0, "round": 0, "args": verb_args(c, ctx.seed, 8)}
    n_samples = len(ctx.samples)
    _unit(ctx, c, state, warm=True)
    del ctx.samples[n_samples:]
    state["q"] = state["round"] = 0
    return state


def run_loop(ctx: Ctx, c: Corpus, state: dict, seconds: float) -> None:
    """Run whole units for ``seconds`` (at least one), then the untimed
    verb checks."""
    deadline = time.perf_counter() + seconds
    n = 0
    while n < 1 or time.perf_counter() < deadline:
        _unit(ctx, c, state)
        n += 1
    ctx.detail["units"] = n
    if ctx.workload == "interactive":
        check_verbs(ctx, c, state["args"][0])


def call_ms(samples: list[Sample]) -> float:
    """Geometric mean over call kinds of each kind's median wall time (ms):
    a typical call latency that does not jump between kinds of the mix."""
    kinds = {x.kind for x in samples}
    meds = [statistics.median(x.wall_s for x in samples if x.kind == k) for k in kinds]
    return statistics.geometric_mean(meds) * 1000.0


def e2e_metrics(ctx: Ctx, c: Corpus, setup_s: float) -> dict[str, float]:
    loop = ctx.samples
    return {
        "setup_s": setup_s,
        "qps": sum(x.queries for x in loop) / sum(x.wall_s for x in loop),
        "call_ms": call_ms(loop),
        "build_turns_per_s": c.n_docs / c.build_s,
        "index_bytes_per_text_byte": sum(b for b, _ in index_bytes(c.index_dir).values())
        / c.text_bytes,
    }


def kind_detail(ctx: Ctx) -> dict[str, dict]:
    """Per call kind: count, queries/s and median latency (context only)."""
    out: dict[str, dict] = {}
    for kind in sorted({x.kind for x in ctx.samples}):
        xs = [x for x in ctx.samples if x.kind == kind]
        walls = [x.wall_s for x in xs]
        out[kind] = {
            "calls": len(xs),
            "qps": sum(x.queries for x in xs) / sum(walls),
            "p50_ms": statistics.median(walls) * 1000.0,
        }
    return out
