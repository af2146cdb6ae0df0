"""Property-based tests (hypothesis) for the round-8 late additions:
arbitrary delete sets vs a filtered re-rank of the undeleted probe
(both index layouts), and the RRF fusion on random tiny corpora vs a
pure-Python replay — the tie/NULL/absent-from-one-list edge cases a
fixed fixture can miss."""

import math
import random
import shutil

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from wren_engine_spark.operators import layout, retrieval, similarity

_ST = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_N = 60
_DIM = 8


def _corpus_rows():
    rng = random.Random(17)
    return [
        (i, [rng.gauss(0.0, 1.0) for _ in range(_DIM)]) for i in range(_N)
    ]


@pytest.fixture(scope="module")
def pq_idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("prop") / "pq")
    df = spark.createDataFrame(
        _corpus_rows(), "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    similarity.write_pq_index(
        df, "vec_id", "embedding", path, n_subspaces=2, k_codes=4
    )
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    baseline = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.adist)
        for r in similarity.pq_index_topk(
            spark, path, queries, topk=10_000
        ).collect()
    )
    return path, queries, baseline


@settings(**_ST)
@given(dels=st.sets(st.integers(min_value=0, max_value=_N - 1), max_size=_N))
def test_pq_delete_equals_filtered_rerank(spark, pq_idx, dels):
    path, queries, baseline = pq_idx
    # reset: tombstones are plain files; removing them restores the
    # undeleted index exactly (probes re-list per call, no caching)
    shutil.rmtree(f"{path}/tombstones", ignore_errors=True)
    if dels:
        similarity.pq_index_delete(spark, path, sorted(dels))
    expected, by_q = [], {}
    for q, _rnk, n, adist in baseline:
        if n in dels:
            continue
        nxt = by_q.get(q, 0) + 1
        by_q[q] = nxt
        if nxt <= 4:
            expected.append((q, nxt, n, adist))
    got = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.adist)
        for r in similarity.pq_index_topk(spark, path, queries, topk=4).collect()
    )
    assert got == sorted(expected)


@pytest.fixture(scope="module")
def lsh_idx(spark):
    df = spark.createDataFrame(
        _corpus_rows(), "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    similarity.write_ann_index(
        df, "vec_id", "embedding", "prop_lsh", dim=_DIM, nbits=3, tables=2,
        seed=5, buckets=4,
    )
    queries = df.filter(F.col("vec_id") < 3).select("vec_id", "embedding")
    baseline = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.cosine_sim)
        for r in similarity.ann_index_topk(
            spark, "prop_lsh", queries, "vec_id", "embedding",
            dim=_DIM, k=10_000,
        ).collect()
    )
    return queries, baseline


@settings(**_ST)
@given(dels=st.sets(st.integers(min_value=0, max_value=_N - 1), max_size=_N))
def test_bucketed_delete_equals_filtered_rerank(spark, lsh_idx, dels):
    queries, baseline = lsh_idx
    layout.clear_tombstones(spark, "prop_lsh")  # reset
    if dels:
        similarity.ann_index_delete(spark, "prop_lsh", sorted(dels))
    expected, by_q = [], {}
    for q, _rnk, n, sim in baseline:
        if n in dels:
            continue
        nxt = by_q.get(q, 0) + 1
        by_q[q] = nxt
        if nxt <= 3:
            expected.append((q, nxt, n, sim))
    got = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.cosine_sim)
        for r in similarity.ann_index_topk(
            spark, "prop_lsh", queries, "vec_id", "embedding", dim=_DIM, k=3
        ).collect()
    )
    assert got == sorted(expected)


_tok = st.sampled_from(["a", "bb", "ccc", "dd", "e", "zz"])
_txt = st.lists(_tok, min_size=1, max_size=6).map(" ".join)


@settings(**_ST)
@given(
    texts=st.lists(_txt, min_size=3, max_size=8),
    seed=st.integers(min_value=0, max_value=99),
)
def test_rrf_matches_python_replay(spark, texts, seed):
    rng = random.Random(seed)
    n = len(texts)
    vecs = [[rng.gauss(0.0, 1.0) for _ in range(4)] for _ in range(n)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    qids = docs.filter(F.col("doc_id") < 2).select("doc_id")
    got = {
        (r.query_id, r.rnk): (r.doc_id, r.lex_rank, r.vec_rank)
        for r in retrieval.hybrid_rrf_topk(
            docs, "doc_id", "text", emb, "vec_id", "embedding", qids,
            k_lex=3, k_vec=3, rrf_k=60, topk=3,
        ).collect()
    }

    toks = {i: set(t.split()) for i, t in enumerate(texts)}
    dfreq: dict = {}
    for s in toks.values():
        for t in s:
            dfreq[t] = dfreq.get(t, 0) + 1
    kept = {i: {t for t in s if dfreq[t] <= 0.5 * n} for i, s in toks.items()}

    def q8(v):
        # float32 storage first: Spark reads ARRAY<FLOAT>
        import struct

        v32 = [struct.unpack("f", struct.pack("f", x))[0] for x in v]
        s = max(max(abs(x) for x in v32), 1e-12) / 127.0
        return [math.floor(x / s + 0.5) for x in v32]

    qv = {i: q8(v) for i, v in enumerate(vecs)}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (
            math.sqrt(float(sum(x * x for x in a)))
            * math.sqrt(float(sum(x * x for x in b)))
        )

    for q in range(min(2, n)):
        lex = sorted(
            ((-len(kept[q] & kept[d]), d) for d in kept
             if d != q and kept[q] & kept[d]),
        )[:3]
        lrank = {d: i + 1 for i, (_o, d) in enumerate(lex)}
        vec = sorted(((-cos(qv[q], qv[d]), d) for d in qv if d != q))[:3]
        vrank = {d: i + 1 for i, (_s, d) in enumerate(vec)}
        cands = set(lrank) | set(vrank)
        scored = sorted(
            (
                -(
                    (1.0 / (60.0 + lrank[d]) if d in lrank else 0.0)
                    + (1.0 / (60.0 + vrank[d]) if d in vrank else 0.0)
                ),
                d,
            )
            for d in cands
        )[:3]
        for i, (_negs, d) in enumerate(scored):
            assert got[(q, i + 1)] == (d, lrank.get(d), vrank.get(d))
