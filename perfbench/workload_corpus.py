"""The ``corpus`` workload: one batch job on one driver, no serving code.

Input: seeded documents with the profile of the scale-0.1
``documents`` table plus injected edited near-duplicate and verbatim
copies, a held-back ingest batch, BM25 query texts, and embedding
vectors with perturbed query copies (``gen.make_corpus``). The pass
runs

  1. ``exact_dedup``
  2. ``duplicate_clusters`` (exact PPJoin path)
  3. ``scalable_duplicate_clusters`` (MinHash-LSH path)
  4. ``write_bm25_index``, ``bm25_index_append`` of the held-back batch,
     ``bm25_index_probe`` of the query batch
  5. ``cosine_topk``

and collects each result: one pass, the job, whatever ``--seconds``
says (on 4 cores it outlasts any window the benchmark sets). There is
no warm-up: a batch job starts in a fresh JVM, so the pass pays JIT
compilation and first-use class loading as a real job does. Outputs
are checked after the window against the generator's ground truth.

The traced run adds no Spark action to the pass. Each step's span
holds the operator call and the collect of its result; the inner
operators ``jaccard_pairs``, ``minhash_lsh_candidates`` and
``connected_components`` get spans of their own call, which hold the
jobs the call runs itself (``connected_components`` runs one per
round, and its first round computes the lazy edge plan). The two
lazy pair generators run no job inside their call, so after the pass
an untimed isolation pass collects each of them alone: that gives
``jaccard_pairs_s``, ``minhash_lsh_candidates_s``, their ``.jobs`` and
``lsh_verified_ratio``.
"""

from __future__ import annotations

import contextlib
import time

from perfbench import gen, stats
from perfbench.core import Context, Result
from perfbench.trace import Target, Tracer, layer_self_seconds

TOPK = 3
DEDUP, RETRIEVAL, SIMILARITY = "operators.dedup", "operators.retrieval", "operators.similarity"
STEP_LAYER = {
    "exact_dedup": DEDUP,
    "duplicate_clusters": DEDUP,
    "scalable_duplicate_clusters": DEDUP,
    "bm25_build": RETRIEVAL,
    "bm25_append": RETRIEVAL,
    "bm25_probe": RETRIEVAL,
    "cosine_topk": SIMILARITY,
}


def corpus_targets(tracer: Tracer) -> list[Target]:
    from pyspark.sql.classic.dataframe import DataFrame

    from wren_engine_spark.operators import dedup

    def rounds(out):
        # connected_components sets last_rounds on the name it is called
        # by, which is this wrapper while the tracer is installed
        tracer.count("connected_components.rounds", dedup.connected_components.last_rounds)
        return out

    return [
        Target(dedup, "jaccard_pairs", "jaccard_pairs", DEDUP),
        Target(dedup, "minhash_lsh_candidates", "minhash_lsh_candidates", DEDUP),
        Target(dedup, "connected_components", "connected_components", DEDUP, after=rounds),
        Target(DataFrame, "collect", "spark.collect", "spark"),
        Target(DataFrame, "count", "spark.count", "spark"),
    ]


def chain(spark, paths: dict[str, str], table: str, outcomes: stats.Outcomes,
          tracer: Tracer | None = None) -> tuple[dict, dict]:
    """One pass. Returns (op -> collected rows or None, op -> error)."""
    from wren_engine_spark.operators import dedup, retrieval, similarity

    def docs(name):
        return spark.read.parquet(paths[name])

    steps = {
        "exact_dedup": lambda: dedup.exact_dedup(docs("documents"), "text", "doc_id").collect(),
        "duplicate_clusters": lambda: dedup.duplicate_clusters(
            docs("documents"), "text", "doc_id", threshold=gen.DEDUP_THRESHOLD).collect(),
        "scalable_duplicate_clusters": lambda: dedup.scalable_duplicate_clusters(
            docs("documents"), "text", "doc_id", threshold=gen.DEDUP_THRESHOLD).collect(),
        "bm25_build": lambda: retrieval.write_bm25_index(
            docs("index_build"), "text", "doc_id", table),
        "bm25_append": lambda: retrieval.bm25_index_append(
            spark, table, docs("index_append"), "text", "doc_id"),
        "bm25_probe": lambda: retrieval.bm25_index_probe(
            spark, table, docs("queries"), "text", "doc_id", k=TOPK).collect(),
        "cosine_topk": lambda: similarity.cosine_topk(
            docs("embeddings"), "vec_id", "embedding", docs("vec_queries"), k=TOPK).collect(),
    }
    out: dict = {}
    errors: dict = {}
    for name, step in steps.items():
        op = outcomes.attempt()
        span = tracer.span(name, STEP_LAYER[name]) if tracer else contextlib.nullcontext()
        try:
            with span:
                out[name] = step()
        except Exception as e:  # noqa: BLE001 - a failed step is a result
            outcomes.fail(op)
            errors[name] = f"{type(e).__name__}: {e}"[:500]
            out[name] = None
        out[f"{name}.op"] = op
    return out, errors


def check(c: gen.Corpus, out: dict) -> list[str]:
    """Names of the chain steps whose output disagrees with the ground truth."""
    wrong = []
    rows = out["exact_dedup"]
    if rows is not None and {row[0] for row in rows} != c.exact_kept():
        wrong.append("exact_dedup")
    # every doc in exactly its planted cluster: no copy split from its
    # source, no unrelated docs merged
    clusters = c.cluster_of()
    for name in ("duplicate_clusters", "scalable_duplicate_clusters"):
        rows = out[name]
        if rows is not None and (len(rows) != len(clusters)
                                 or {row[0]: row[1] for row in rows} != clusters):
            wrong.append(name)
    for name, truth, qids in (
        ("bm25_probe", gen.bm25_top(c, TOPK), c.query_ids),
        ("cosine_topk", [[v] for v in c.vec_truth], c.vec_query_ids),
    ):
        rows = out[name]
        if rows is None:
            continue
        ranked: dict[int, list] = {}
        for row in sorted(rows, key=lambda r: r[-1]):  # rows end with the rank
            ranked.setdefault(row[0], []).append(row[1])
        if [ranked.get(q, [])[: len(t)] for q, t in zip(qids, truth)] != truth:
            wrong.append(name)
    return wrong


def isolated_pair_ops(ctx: Context, paths: dict[str, str], c: gen.Corpus) -> dict[str, float]:
    """Untimed, after the pass: collect each lazy pair generator alone,
    timing it and counting its jobs, and the share of LSH candidates
    whose exact Jaccard clears the threshold."""
    from wren_engine_spark.operators import dedup

    docs = ctx.spark.read.parquet(paths["documents"])
    ops = {
        "jaccard_pairs": lambda: dedup.jaccard_pairs(
            docs, "text", "doc_id", threshold=gen.DEDUP_THRESHOLD),
        "minhash_lsh_candidates": lambda: dedup.minhash_lsh_candidates(
            docs, "text", "doc_id").select("id_a", "id_b"),
    }
    m: dict[str, float] = {}
    rows: dict[str, list] = {}
    for name, op in ops.items():
        j0 = ctx.sc_jobs()
        t = time.perf_counter()
        rows[name] = op().collect()
        m[f"{name}_s"] = time.perf_counter() - t
        m[f"{name}.jobs"] = ctx.sc_jobs() - j0
    text = dict(zip(c.doc_ids, c.texts))
    cand = rows["minhash_lsh_candidates"]
    verified = sum(gen.jaccard(text[a], text[b]) >= gen.DEDUP_THRESHOLD for a, b in cand)
    m["lsh_verified_ratio"] = verified / len(cand) if cand else 0.0
    return m


def run(ctx: Context) -> Result:
    corpus = gen.make_corpus(ctx.seed)
    paths = gen.write_corpus(corpus, ctx.dir("corpus"))
    for p in paths.values():
        ctx.spark.read.parquet(p).schema  # noqa: B018 - resolve the file listing

    n_docs = len(corpus.doc_ids)
    outcomes = stats.Outcomes()
    tracer = Tracer(job_counter=ctx.sc_jobs) if ctx.trace else None
    if tracer is not None:
        tracer.install(corpus_targets(tracer))
    window_open = time.perf_counter()
    try:
        t = time.perf_counter()
        out, errors = chain(ctx.spark, paths, "bench_bm25", outcomes, tracer)
        pass_s = time.perf_counter() - t
    finally:
        if tracer is not None:
            tracer.uninstall()
    metrics = {"latency_p50_ms": pass_s * 1000, "throughput_per_s": n_docs / pass_s}
    detail: dict = {"pass_s": pass_s, "docs": n_docs}
    wrong = check(corpus, out)
    for name in wrong:
        outcomes.fail(out[f"{name}.op"])
    if tracer is not None:
        metrics = {**layer_metrics(tracer), **isolated_pair_ops(ctx, paths, corpus),
                   "trace.latency_p50_ms": pass_s * 1000,
                   "trace.throughput_per_s": n_docs / pass_s}
    detail.update({"errors": errors, "wrong": wrong, "failed_frac": outcomes.failed_frac})
    return Result(metrics, outcomes.attempted, outcomes.failed, window_open, detail, tracer)


def layer_metrics(tracer: Tracer) -> dict[str, float]:
    """Step and operator times and per-call job counts of the traced pass."""
    m: dict[str, float] = {}
    for name in (*STEP_LAYER, "connected_components"):
        spans = tracer.named(name)
        m[f"{name}_s"] = sum(s.end - s.start for s in spans)
        m[f"{name}.jobs"] = sum(s.jobs for s in spans) / len(spans) if spans else 0.0
    calls = len(tracer.named("connected_components"))
    m["connected_components.rounds"] = (
        tracer.counters["connected_components.rounds"] / calls if calls else 0.0)
    for layer, secs in layer_self_seconds(tracer.spans).items():
        m[f"self.{layer}_ms"] = secs * 1000
    return m
