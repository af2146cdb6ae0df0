"""Seeded input generators for the benchmark workloads.

Everything here is pure Python/numpy: the benchmark builds every table,
request schedule and corpus from ``--seed`` before any timing starts,
and hands the program only the generated inputs. The same seed gives
identical inputs; a different seed gives different ones.

The request schedule is *stratified*: each cycle of it holds a fixed
number of requests of every kind and template (the seed only shuffles
the order within a cycle and draws the literals), so two seeds exercise
the same mix and differ only in order and parameters.
"""

from __future__ import annotations

import datetime
import math
import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_STATUSES = ["F", "O", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EPOCH_START = datetime.datetime(1995, 1, 1)
_DATE_SPAN_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts of the TPC-H-shaped tables the semantic manifest reads."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "orders": int(1_500_000 * sf),
    }


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """region / nation / customer / orders at scale factor ``sf``.

    One customer in three places no orders, so to-many calculated fields
    see NULL aggregates (the reference's cardinality invariant)."""
    rng = np.random.default_rng([seed, 1])
    n = table_sizes(sf)
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    no = n["orders"]
    with_orders = np.arange(nc)[np.arange(nc) % 3 != 0]
    hours = rng.integers(0, _DATE_SPAN_DAYS * 24, no)
    orderdate = np.datetime64(_EPOCH_START, "us") + hours.astype("timedelta64[h]")
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(with_orders[rng.integers(0, len(with_orders), no)], pa.int64()),
            "o_orderstatus": np.array(_STATUSES)[rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
            # an instant (TIMESTAMP in Spark), so a timezone header renders it
            "o_orderdate": pa.array(orderdate, pa.timestamp("us", tz="UTC")),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    return {"region": region, "nation": nation, "customer": customer, "orders": orders}


def write_tables(tables: dict[str, pa.Table], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(directory, f"{name}.parquet"))


# ------------------------------------------------------- request schedules


@dataclass(frozen=True)
class Request:
    kind: str                   # query | preview | dry_plan | dry_run
    template: str
    sql: str
    use_cache: bool = False
    timezone: str | None = None
    dialect: str | None = None


# Agent: every text is unique (seeded literals, calculated-field subsets,
# joins), so the analyzed-plan cache never hits. Each customer query
# takes one to-one and one to-many calculated field, so the model view
# swaps between variants. The variants rotate in a fixed order, so every
# seed runs the same mix of query shapes and differs only in literals.
_TO_ONE_CALCS = ("nation_name", "region_name")
_TO_MANY_CALCS = ("total_spent", "order_count")
_ORDER_CALCS = ("customer_name", "customer_segment")
AGENT_TIMEZONES = ("Asia/Tokyo", "America/New_York", "Europe/Berlin", "+05:30")
AGENT_DIALECTS = (None, "duckdb", "postgres")
# one stratified cycle: request kind -> count
AGENT_MIX = {"query": 8, "dry_plan": 3, "dry_run": 2, "preview": 2}
AGENT_CYCLE = sum(AGENT_MIX.values())
PREVIEW_ROWS = 3000
AGENT_QUERY_TEMPLATES = ("customer_filter", "order_range", "nation_revenue", "segment_rollup")


def _pick(rng: np.random.Generator, items: tuple[str, ...]) -> str:
    return items[int(rng.integers(0, len(items)))]


def _agent_query(rng: np.random.Generator, template: str, n_orders: int, variant: int) -> str:
    if template == "customer_filter":
        cols = ", ".join(["custkey", "name", "acctbal", _TO_ONE_CALCS[variant % 2],
                          _TO_MANY_CALCS[variant // 2 % 2]])
        bal = rng.integers(-99_999, 999_999) / 100
        m = int(rng.integers(3, 50))
        return (
            f"SELECT {cols} FROM customer_m WHERE acctbal > {bal:.2f} "
            f"AND custkey % {m} = {int(rng.integers(0, m))} ORDER BY custkey LIMIT 50"
        )
    if template == "order_range":
        cols = ", ".join(["orderkey", "totalprice", "status", _ORDER_CALCS[variant % 2]])
        lo = rng.integers(100_000, 48_000_000) / 100
        return (
            f"SELECT {cols} FROM orders_m WHERE totalprice BETWEEN {lo:.2f} "
            f"AND {lo + 2000:.2f} ORDER BY orderkey LIMIT 40"
        )
    if template == "nation_revenue":
        # noon: a wall clock that exists once in every zone (no DST gap)
        day = _EPOCH_START + datetime.timedelta(days=int(rng.integers(0, _DATE_SPAN_DAYS)))
        return (
            "SELECT n.name AS nation_name, COUNT(*) AS n_orders, "
            "CAST(SUM(CAST(o.totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue "
            "FROM orders_m o JOIN customer_m c ON o.custkey = c.custkey "
            "JOIN nation_m n ON c.nation_key = n.nationkey "
            f"WHERE o.orderdate >= TIMESTAMP '{day:%Y-%m-%d} 12:00:00' "
            "GROUP BY n.name ORDER BY n.name"
        )
    if template == "segment_rollup":
        dim = ("mktsegment", "nation_name", "region_name")[variant % 3]
        bal = rng.integers(-99_999, 999_999) / 100
        return (
            f"SELECT {dim}, COUNT(*) AS n_customers, SUM(order_count) AS n_orders "
            f"FROM customer_m WHERE acctbal < {bal:.2f} GROUP BY {dim} ORDER BY {dim}"
        )
    if template == "preview":
        start = int(rng.integers(0, max(1, n_orders - PREVIEW_ROWS)))
        return (
            "SELECT orderkey, custkey, CAST(totalprice AS DECIMAL(18,2)) AS price, "
            "CAST(orderdate AS DATE) AS order_day, orderdate, status, priority "
            f"FROM orders_m WHERE orderkey >= {start} AND orderkey < {start + PREVIEW_ROWS} "
            "ORDER BY orderkey"
        )
    raise ValueError(template)


def agent_schedule(seed: int, n_requests: int, sf: float) -> list[Request]:
    """Cycles of AGENT_CYCLE requests with a fixed composition: per query
    template one plain request and one with a query-cache write or a
    timezone header (alternating by cycle), two previews (one plain,
    one flagged), one dry-plan per dialect and two dry-runs. The seed
    draws every literal and the order within each cycle."""
    rng = np.random.default_rng([seed, 3])
    n_orders = table_sizes(sf)["orders"]
    seen: set[str] = set()
    out: list[Request] = []
    t_n = len(AGENT_QUERY_TEMPLATES)
    variants: dict[tuple[str, str], int] = {}

    def unique(template: str, kind: str = "query") -> str:
        v = variants[kind, template] = variants.get((kind, template), -1) + 1
        sql = _agent_query(rng, template, n_orders, v)
        while sql in seen:
            sql = _agent_query(rng, template, n_orders, v)
        seen.add(sql)
        return sql

    def zone() -> str:
        return _pick(rng, AGENT_TIMEZONES)

    k = 0
    while len(out) < n_requests:
        cycle: list[Request] = []
        for t, template in enumerate(AGENT_QUERY_TEMPLATES):
            cycle.append(Request("query", template, unique(template)))
            if (t + k) % 2:
                cycle.append(Request("query", template, unique(template), timezone=zone()))
            else:
                cycle.append(Request("query", template, unique(template), use_cache=True))
        cycle.append(Request("preview", "preview", unique("preview")))
        if k % 2:
            cycle.append(Request("preview", "preview", unique("preview"), timezone=zone()))
        else:
            cycle.append(Request("preview", "preview", unique("preview"), use_cache=True))
        for i, dialect in enumerate(AGENT_DIALECTS):
            template = AGENT_QUERY_TEMPLATES[(k * len(AGENT_DIALECTS) + i) % t_n]
            cycle.append(Request("dry_plan", template, unique(template, "dry_plan"),
                                 dialect=dialect))
        for i in range(AGENT_MIX["dry_run"]):
            template = AGENT_QUERY_TEMPLATES[(k * 2 + i + 1) % t_n]
            cycle.append(Request("dry_run", template, unique(template, "dry_run")))
        out.extend(cycle[i] for i in rng.permutation(len(cycle)))
        k += 1
    return out[:n_requests]


# ------------------------------------------------------------------ corpus
#
# The corpus reproduces the profile of the scale-0.1 ``documents`` and
# ``embeddings`` tables of the repository's TPC-H-plus-LLM test data,
# as measured from those parquet files: 5000 documents whose words are
# drawn uniformly from the 30-word vocabulary below, 10 to 100 words
# each (uniform); 5% of them are near-duplicates made by appending the
# token ``dup`` to an earlier document; 2000 unit-norm 64-dimensional
# Gaussian embeddings. On top of that table the benchmark injects its
# own seeded edited copies (one word substituted) and verbatim copies.

DOC_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window",
)
DOC_WORDS = (10, 100)     # words per document, uniform, inclusive
CORPUS_DOCS = 5000
TABLE_DUP_FRAC = 0.05    # the table's own "dup"-appended copies
NEAR_DUP_FRAC = 0.10     # injected edited copies (one word substituted)
EXACT_DUP_FRAC = 0.02    # injected verbatim copies
HELD_BACK_FRAC = 0.10    # appended to the BM25 index after the build
N_QUERIES = 50
N_VECTORS = 2000
VEC_DIM = 64
DEDUP_THRESHOLD = 0.8
BM25_K1, BM25_B, BM25_QUANTUM = 1.2, 0.75, 1_000_000  # the probe's defaults
_MIN_COPY_JACCARD = 0.85  # injected copies sit clearly above the threshold
_MIN_EDIT_WORDS = 60      # an edited copy needs a long source to stay above it


def shingles(text: str, n: int = 3) -> set[str]:
    """Word n-gram set, tokenized like the dedup operators
    (lower-cased, whitespace split)."""
    w = text.lower().split()
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 1.0


@dataclass
class Corpus:
    doc_ids: list[int]
    texts: list[str]
    # copy id -> source id, per kind of copy; every source has one copy
    # at most, so a copy's cluster is exactly {source, copy}
    table_dups: dict[int, int] = field(default_factory=dict)
    near_dups: dict[int, int] = field(default_factory=dict)
    exact_dups: dict[int, int] = field(default_factory=dict)
    held_back: set[int] = field(default_factory=set)
    query_ids: list[int] = field(default_factory=list)
    query_texts: list[str] = field(default_factory=list)
    vec_ids: list[int] = field(default_factory=list)
    vectors: np.ndarray | None = None
    vec_query_ids: list[int] = field(default_factory=list)
    vec_queries: np.ndarray | None = None
    vec_truth: list[int] = field(default_factory=list)

    def cluster_of(self) -> dict[int, int]:
        """Doc id -> expected cluster id: the source's id for a copy
        (sources have the smaller ids), the doc's own id otherwise."""
        out = dict(zip(self.doc_ids, self.doc_ids))
        for copies in (self.table_dups, self.near_dups, self.exact_dups):
            out.update(copies)
        return out

    def exact_kept(self) -> set[int]:
        """Ids ``exact_dedup`` keeps: the smallest id of each distinct text."""
        kept: dict[str, int] = {}
        for i, t in zip(self.doc_ids, self.texts):
            kept[t] = min(i, kept.get(t, i))
        return set(kept.values())


def _add_copy(c: Corpus, copies: dict[int, int], src: int, text: str) -> None:
    copy = len(c.doc_ids)
    c.doc_ids.append(copy)
    c.texts.append(text)
    copies[copy] = src


def make_corpus(seed: int, n_docs: int = CORPUS_DOCS) -> Corpus:
    """``n_docs`` table documents (sources plus the table's own ``dup``
    copies), then the injected copies, BM25 queries and embeddings.
    Doc ids are 0.. in insertion order, so a copy's id exceeds its
    source's."""
    rng = np.random.default_rng([seed, 4])
    lo, hi = DOC_WORDS
    n_table_dups = round(n_docs * TABLE_DUP_FRAC)
    c = Corpus(doc_ids=[], texts=[])
    seen: set[str] = set()
    while len(c.texts) < n_docs - n_table_dups:
        words = rng.choice(DOC_VOCAB, int(rng.integers(lo, hi + 1)))
        text = " ".join(words)
        if text not in seen:  # distinct sources: every shared text is a planted copy
            seen.add(text)
            c.doc_ids.append(len(c.doc_ids))
            c.texts.append(text)
    n_src = len(c.texts)
    order = [int(i) for i in rng.permutation(n_src)]  # sources take one copy each
    for src in order[:n_table_dups]:
        _add_copy(c, c.table_dups, src, c.texts[src] + " dup")
    free = order[n_table_dups:]
    long_free = [i for i in free if len(c.texts[i].split()) >= _MIN_EDIT_WORDS]
    for src in long_free[: round(n_docs * NEAR_DUP_FRAC)]:
        w = c.texts[src].split()
        while True:
            pos = int(rng.integers(0, len(w)))
            sub = DOC_VOCAB[int(rng.integers(0, len(DOC_VOCAB)))]
            text = " ".join(w[:pos] + [sub] + w[pos + 1 :])
            if text not in seen and jaccard(text, c.texts[src]) >= _MIN_COPY_JACCARD:
                break
        seen.add(text)
        _add_copy(c, c.near_dups, src, text)
    copied = set(c.near_dups.values())
    free = [i for i in free if i not in copied]
    n_exact = round(n_docs * EXACT_DUP_FRAC)
    for src in free[:n_exact]:
        _add_copy(c, c.exact_dups, src, c.texts[src])
    # BM25 queries: verbatim texts of uncopied docs; half of them are in
    # the held-back batch, so the probe must see the append
    singles = free[n_exact:]
    q_src = singles[:N_QUERIES]
    n_held = round(n_docs * HELD_BACK_FRAC)
    c.held_back = set(q_src[: N_QUERIES // 2]) | set(singles[N_QUERIES : N_QUERIES + n_held
                                                              - N_QUERIES // 2])
    base_qid = 10 * len(c.doc_ids)
    c.query_ids = [base_qid + i for i in range(len(q_src))]
    c.query_texts = [c.texts[i] for i in q_src]
    # embeddings: unit-norm gaussian vectors; queries are perturbed copies
    c.vec_ids = list(range(N_VECTORS))
    v = rng.standard_normal((N_VECTORS, VEC_DIM))
    c.vectors = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    v_src = rng.choice(N_VECTORS, N_QUERIES, replace=False)
    noise = 0.02 * rng.standard_normal((N_QUERIES, VEC_DIM))
    c.vec_query_ids = [10 * N_VECTORS + i for i in range(N_QUERIES)]
    c.vec_queries = (c.vectors[v_src] + noise).astype(np.float32)
    c.vec_truth = [int(i) for i in v_src]
    return c


def bm25_top(c: Corpus, k: int) -> list[list[int]]:
    """Per query, the ids of the top ``k`` documents of the whole index
    (build plus append) under the probe's BM25: distinct query terms,
    idf = ln(1 + (N - df + 0.5) / (df + 0.5)), each term's contribution
    rounded half-up to 1e-6, ties broken by the smaller doc id."""
    tfs = [Counter(t.split()) for t in c.texts]
    n, sumdl = len(tfs), sum(sum(tf.values()) for tf in tfs)
    df = Counter(w for tf in tfs for w in tf)
    idf = {w: math.log(1.0 + (n - d + 0.5) / (d + 0.5)) for w, d in df.items()}
    # quantized contribution of each (doc, term), computed in the probe's
    # operation order so the doubles agree bit for bit
    vocab = {w: j for j, w in enumerate(df)}
    contrib = np.zeros((n, len(vocab)), np.int64)
    for i, tf in enumerate(tfs):
        dl = float(sum(tf.values()))
        norm = BM25_K1 * ((1.0 - BM25_B) + BM25_B * (dl * n / sumdl))
        for w, f in tf.items():
            contrib[i, vocab[w]] = math.floor(
                BM25_QUANTUM * (idf[w] * (f * (BM25_K1 + 1.0)) / (f + norm)) + 0.5)
    ids = np.array(c.doc_ids)
    out = []
    for q in c.query_texts:
        cols = [vocab[w] for w in set(q.split()) if w in vocab]
        score = contrib[:, cols].sum(axis=1)
        hit = (contrib[:, cols] > 0).any(axis=1)
        order = np.lexsort((ids[hit], -score[hit]))  # score desc, then id
        out.append([int(d) for d in ids[hit][order[:k]]])
    return out


def write_corpus(c: Corpus, directory: str) -> dict[str, str]:
    """Parquet inputs of the corpus job; returns name -> path."""
    os.makedirs(directory, exist_ok=True)
    held = c.held_back
    build = [(i, t) for i, t in zip(c.doc_ids, c.texts) if i not in held]
    batch = [(i, t) for i, t in zip(c.doc_ids, c.texts) if i in held]
    tables = {
        "documents": pa.table({"doc_id": pa.array(c.doc_ids, pa.int64()), "text": c.texts}),
        "index_build": pa.table(
            {"doc_id": pa.array([i for i, _ in build], pa.int64()), "text": [t for _, t in build]}
        ),
        "index_append": pa.table(
            {"doc_id": pa.array([i for i, _ in batch], pa.int64()), "text": [t for _, t in batch]}
        ),
        "queries": pa.table(
            {"doc_id": pa.array(c.query_ids, pa.int64()), "text": c.query_texts}
        ),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(c.vec_ids, pa.int64()),
                "embedding": pa.array(list(c.vectors), pa.list_(pa.float32())),
            }
        ),
        "vec_queries": pa.table(
            {
                "query_id": pa.array(c.vec_query_ids, pa.int64()),
                "qvec": pa.array(list(c.vec_queries), pa.list_(pa.float32())),
            }
        ),
    }
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(directory, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths
