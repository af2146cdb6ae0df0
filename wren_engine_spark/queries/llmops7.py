"""Round-6 LLM-pipeline additions, batch 2: threshold-selection
analytics over the exact similarity join, dedup-scope policy reports,
token-budget curation, hard-negative mining, and embedding-dimension
health (SURVEY §2 extension block).

Oracle convention unchanged (queries/registry.py docstring): exact
integer arithmetic wherever a value feeds a comparison or a hash,
IDENTICAL operation order for the few double expressions, identical
aliases both sides. Discipline per the round-5 verdict: every entry
lands with (a) a DuckDB oracle, (b) a plan assert for its scale story
(tests/test_plans.py), (c) a brute-force property test
(tests/test_llmops7.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wren_engine_spark.operators import dedup, selection, similarity
from wren_engine_spark.queries.io import load_tables
from wren_engine_spark.queries.llmops import _NORM2, _PAIRS_CTES
from wren_engine_spark.queries.llmops6 import _QUALITY_CTE
from wren_engine_spark.queries.registry import register

# ---------------------------------------------------------------------------
# x76: similarity-threshold histogram (how many pairs would each
# dedup threshold merge?)
# ---------------------------------------------------------------------------

# The x3 pair CTE chain at a LOWER threshold (0.5): same prefix-filter
# pipeline, wider candidate net. The only 0.8 in the template is the
# final jaccard cut.
_PAIRS_CTES_05 = _PAIRS_CTES.replace(">= 0.8", ">= 0.5")
assert _PAIRS_CTES_05 != _PAIRS_CTES  # template drift guard


@register(
    "x76_similarity_histogram",
    f"""
    WITH {_PAIRS_CTES_05},
    hist AS (
      SELECT FLOOR(jaccard * 20) / 20.0 AS bin_lo, COUNT(*) AS n_pairs
      FROM pairs GROUP BY 1
    )
    SELECT bin_lo, n_pairs,
           CAST(SUM(n_pairs) OVER (
             ORDER BY bin_lo DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS pairs_at_or_above
    FROM hist
    """,
)
def x76(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup density spectrum: exact trigram-Jaccard pairs at
    threshold 0.5 (the same skew-proof prefix-filter join x3 runs,
    just with a wider net), bucketed into 0.05 similarity bins plus a
    descending cumulative count — the curve a curation team reads to
    PICK the dedup threshold ("merging at 0.8 collapses N pairs; at
    0.6, M"). Binning happens on the identical IEEE jaccard double
    both engines compute, so bucket edges agree bit-for-bit. At
    100 TB the cost is the x3 pipeline's (no raw-shingle-key shuffle;
    candidate volume follows near-dup density); the histogram itself
    is a ~10-row aggregate."""
    d = load_tables(spark, sf, "documents")["documents"]
    pairs = dedup.jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    from pyspark.sql import Window as W

    hist = pairs.groupBy(
        (F.floor(F.col("jaccard") * 20).cast("double") / F.lit(20.0)).alias("bin_lo")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))
    w = W.orderBy(F.col("bin_lo").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return hist.select(
        "bin_lo", "n_pairs", F.sum("n_pairs").over(w).alias("pairs_at_or_above")
    )


# ---------------------------------------------------------------------------
# x77: dedup-scope policy report (global vs per-source vs per-lang)
# ---------------------------------------------------------------------------


@register(
    "x77_dedup_scope_policy",
    """
    WITH h AS (SELECT doc_id, source, lang, md5(text) AS h FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_docs FROM h),
    g AS (SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS survivors FROM h),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS survivors
          FROM (SELECT DISTINCT source, h FROM h)),
    l AS (SELECT CAST(COUNT(*) AS BIGINT) AS survivors
          FROM (SELECT DISTINCT lang, h FROM h))
    SELECT 'global' AS policy, total_docs, survivors,
           total_docs - survivors AS removed,
           CAST(total_docs - survivors AS DOUBLE) / CAST(total_docs AS DOUBLE)
             AS removal_rate
    FROM tot, g
    UNION ALL
    SELECT 'per_source', total_docs, survivors, total_docs - survivors,
           CAST(total_docs - survivors AS DOUBLE) / CAST(total_docs AS DOUBLE)
    FROM tot, s
    UNION ALL
    SELECT 'per_lang', total_docs, survivors, total_docs - survivors,
           CAST(total_docs - survivors AS DOUBLE) / CAST(total_docs AS DOUBLE)
    FROM tot, l
    """,
)
def x77(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup-SCOPE comparison: exact-dup survivors when duplicates
    collapse globally vs only within source vs only within language —
    the report that decides whether re-hosted content is "duplicate".
    Each policy is one map-side-combinable groupBy on (scope, md5);
    no text moves past the first projection."""
    d = load_tables(spark, sf, "documents")["documents"]
    return dedup.dedup_scope_report(
        d,
        "text",
        "doc_id",
        {"global": [], "per_source": ["source"], "per_lang": ["lang"]},
    )


# ---------------------------------------------------------------------------
# x78: per-language token-budget curation (greedy quality prefix)
# ---------------------------------------------------------------------------


@register(
    "x78_budget_trim",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+'))
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    {_QUALITY_CTE},
    b AS (
      SELECT lang,
             CAST(FLOOR(CAST(SUM(n_tokens) AS DOUBLE) * 1.0 / 2.0) AS BIGINT)
               AS budget_tokens
      FROM t GROUP BY lang
    ),
    r AS (
      SELECT t.doc_id, t.lang, t.n_tokens,
             CAST(SUM(t.n_tokens) OVER (
               PARTITION BY t.lang
               ORDER BY q.quality_score DESC, t.doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM t JOIN q ON q.doc_id = t.doc_id
    )
    SELECT r.doc_id, r.lang, r.n_tokens, r.cum_tokens, b.budget_tokens,
           r.cum_tokens <= b.budget_tokens AS kept
    FROM r JOIN b ON b.lang = r.lang
    """,
)
def x78(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget curation: per language, keep the highest-quality
    documents (x7's hash-green score, doc_id tie-break) until HALF the
    language's tokens are spent — the "fill the mixture to N tokens"
    selection step of a training-data pipeline. Budget arithmetic is
    exact integers; the fractional budget makes the semantics
    scale-invariant. One groupBy for totals (broadcast back), one
    window per language for the running sum."""
    d = load_tables(spark, sf, "documents")["documents"]
    return selection.budget_trim(
        d, "text", "doc_id", "lang", budget_num=1, budget_den=2
    )


# ---------------------------------------------------------------------------
# x79: hard-negative mining (cross-label cosine top-k)
# ---------------------------------------------------------------------------


@register(
    "x79_hard_negatives",
    f"""
    WITH base AS (
      SELECT vec_id, label, embedding, {_NORM2.format(v='embedding')} AS norm2
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qe,
                 norm2 AS qn
          FROM base WHERE vec_id < 10),
    pairs AS (
      SELECT query_id, vec_id AS neighbor_id, label AS neighbor_label,
             list_reduce(list_prepend(0.0, [CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)
                  FOR s IN list_zip(qe, embedding)]), (acc, v) -> acc + v)
               / (sqrt(qn) * sqrt(norm2)) AS sim
      FROM q, base WHERE label <> qlabel
    ),
    ranked AS (
      SELECT query_id, neighbor_id, neighbor_label, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id, neighbor_label,
           ROUND(sim, 6) AS cosine_sim, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def x79(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query
    vector, the 3 most-similar corpus vectors with a DIFFERENT label
    (the near-misses an embedding model must push apart). Query side
    broadcasts; the corpus never shuffles; the same deterministic
    left-fold cosine as x9."""
    e = load_tables(spark, sf, "embeddings")["embeddings"]
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    return similarity.hard_negatives(
        e, "vec_id", "embedding", "label", queries, k=3
    )


# ---------------------------------------------------------------------------
# x80: embedding-dimension health (exact quantized moments)
# ---------------------------------------------------------------------------


@register(
    "x80_embedding_dim_stats",
    """
    WITH pos AS (
      SELECT CAST(i - 1 AS INTEGER) AS dim,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS qx
      FROM (SELECT embedding,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)
    ),
    agg AS (
      SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_vals,
             CAST(SUM(qx) AS BIGINT) AS sq,
             SUM(CAST(qx AS DECIMAL(19,0)) * qx) AS sqq
      FROM pos GROUP BY dim
    )
    SELECT dim, n_vals,
           CAST(sq AS DOUBLE) / CAST(n_vals AS DOUBLE) / 1000000.0 AS mean,
           (CAST(sqq AS DOUBLE) / CAST(n_vals AS DOUBLE)
            - (CAST(sq AS DOUBLE) / CAST(n_vals AS DOUBLE))
              * (CAST(sq AS DOUBLE) / CAST(n_vals AS DOUBLE)))
             / 1000000000000.0 AS variance,
           ((CAST(sqq AS DOUBLE) / CAST(n_vals AS DOUBLE)
             - (CAST(sq AS DOUBLE) / CAST(n_vals AS DOUBLE))
               * (CAST(sq AS DOUBLE) / CAST(n_vals AS DOUBLE)))
              / 1000000000000.0 < 1e-9) AS dead
    FROM agg
    """,
)
def x80(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-dimension health check: per-dim mean/variance over
    the whole corpus plus a dead-dimension flag — the sanity pass that
    catches a collapsed dim before it poisons every downstream cosine.
    Values quantize to exact integers (floor(x*1e6 + 0.5), x45's
    portable half-up) so the two moments are associative integer sums:
    bit-reproducible regardless of partition order. One narrow
    posexplode, one map-side-combinable groupBy with at most `dim`
    reduce-side groups at any corpus size."""
    e = load_tables(spark, sf, "embeddings")["embeddings"]
    return similarity.embedding_dim_stats(e, "embedding", quantum=1_000_000)


# ---------------------------------------------------------------------------
# Batch 3: RAG chunking, vocab coverage, boilerplate prefixes,
# curriculum bucketing, per-series EWMA
# ---------------------------------------------------------------------------

from wren_engine_spark.operators import metrics, text  # noqa: E402

_WS = r"[ \t\n\x0B\f\r]+"


@register(
    "x81_rag_chunking",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS t
      FROM documents
    ),
    th AS (
      SELECT doc_id, len(t) AS n,
             [list_reduce(list_prepend(CAST(0 AS BIGINT),
                [CAST(ascii(substr(tok, CAST(i AS INTEGER), 1)) AS BIGINT)
                 FOR i IN generate_series(1, length(tok))]),
                (acc, c) -> (acc * 31 + c) % 2147483647)
              FOR tok IN t] AS th
      FROM toks
    ),
    c AS (
      SELECT doc_id, n, th,
             unnest(generate_series(0, CASE WHEN n > 64
                    THEN (n - 64 + 47) // 48 ELSE 0 END)) AS i
      FROM th
    )
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
           CAST(i * 48 + 1 AS BIGINT) AS chunk_start,
           CAST(least(64, n - (i * 48 + 1) + 1) AS BIGINT) AS n_chunk_tokens,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
              th[CAST(i * 48 + 1 AS INTEGER) : CAST(i * 48 + 64 AS INTEGER)]),
              (acc, h) -> (acc * 1000003 + h) % 2147483647) AS chunk_hash
    FROM c
    """,
)
def x81(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window RAG chunking (64-token windows every 48): chunk
    ids, 1-based token offsets, and a portable chunk fingerprint (the
    x44 two-level fold, single plane) per chunk. Entirely map-side —
    no shuffle, no text past the projection."""
    d = load_tables(spark, sf, "documents")["documents"]
    return text.chunk_documents(d, "text", "doc_id", window=64, stride=48)


@register(
    "x82_oov_rate",
    r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)),
                    '[ \t\n\x0B\f\r]+')) AS tok
      FROM documents
    ),
    cnt AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
    vocab AS (SELECT tok FROM cnt ORDER BY cnt DESC, tok ASC LIMIT 1000),
    j AS (SELECT t.doc_id, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
          FROM tok t LEFT JOIN vocab v ON v.tok = t.tok)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
    FROM j GROUP BY doc_id
    """,
)
def x82(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document OOV rate against a corpus-learned top-1000
    vocabulary (count desc, token asc at the cut — deterministic).
    Vocab cut is a bounded TakeOrdered; membership rides a broadcast
    left join; the corpus shuffles only as (token) and (doc_id)
    pairs."""
    d = load_tables(spark, sf, "documents")["documents"]
    return text.oov_rate(d, "text", "doc_id", vocab_size=1000)


@register(
    "x83_boilerplate_prefix",
    r"""
    WITH p AS (
      SELECT source,
             array_to_string(
               string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+')[1:8],
               ' ') AS prefix
      FROM documents
    ),
    c AS (SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS modal_count
          FROM p GROUP BY source, prefix),
    t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM p GROUP BY source),
    m AS (SELECT source, prefix, modal_count,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY modal_count DESC, prefix ASC) AS rn
          FROM c)
    SELECT m.source, t.n_docs, m.prefix AS modal_prefix, m.modal_count,
           CAST(m.modal_count AS DOUBLE) / CAST(t.n_docs AS DOUBLE)
             AS modal_share,
           (CAST(m.modal_count AS DOUBLE) / CAST(t.n_docs AS DOUBLE)) >= 0.05
             AS flagged
    FROM m JOIN t USING (source) WHERE rn = 1
    """,
)
def x83(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source modal 8-token prefix and its document share — the
    boilerplate-header detector (same mirror prepending the same
    banner to every page). Counting is one map-side-combinable
    groupBy; the argmax window partitions by source; output is
    source-cardinality rows."""
    d = load_tables(spark, sf, "documents")["documents"]
    return text.boilerplate_prefix(
        d, "text", "doc_id", "source", prefix_tokens=8, flag_share=0.05
    )


@register(
    "x84_curriculum_deciles",
    f"""
    WITH {_QUALITY_CTE},
    d AS (SELECT t.doc_id, t.lang, q.quality_score
          FROM documents t JOIN q ON q.doc_id = t.doc_id),
    n AS (SELECT doc_id, lang, quality_score,
                 NTILE(10) OVER (PARTITION BY lang
                                 ORDER BY quality_score DESC, doc_id ASC)
                   AS difficulty_decile
          FROM d)
    SELECT doc_id, lang, CAST(difficulty_decile AS INTEGER) AS difficulty_decile,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang, difficulty_decile
                 ORDER BY quality_score DESC, doc_id ASC) AS BIGINT)
             AS pos_in_decile
    FROM n
    """,
)
def x84(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum bucketing: NTILE(10) difficulty deciles per language
    over the deterministic x7 quality order (desc, doc_id tie-break)
    plus the position within the decile — the schedule a curriculum
    trainer consumes. Window input is (id, lang, score); the text
    never moves."""
    d = load_tables(spark, sf, "documents")["documents"]
    return selection.curriculum_deciles(d, "text", "doc_id", "lang", n_buckets=10)


@register(
    "m7_ewma",
    """
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list(value ORDER BY ts, event_id)),
                       (acc, x) -> acc * 0.75 + 0.25 * x) AS ewma
    FROM events GROUP BY user_id, event_type
    """,
)
def m7(spark: SparkSession, sf: str) -> DataFrame:
    """Per-series EWMA (alpha = 0.25, exact in binary): a LEFT fold
    over the (ts, event_id)-sorted series in one fixed IEEE operation
    order — bit-identical to DuckDB's list_reduce (the x9 strategy).
    One groupBy on the series key; per-series state bounded by
    events-per-entity, carried as (order, value) pairs only."""
    e = load_tables(spark, sf, "events")["events"]
    return metrics.ewma(
        e, ["user_id", "event_type"], ["ts", "event_id"], "value", alpha=0.25
    )


# ---------------------------------------------------------------------------
# x85: quantized-integer Lloyd k-means — iterative training with a
# bit-exact unrolled-SQL oracle (the determinism a float Lloyd can't
# have)
# ---------------------------------------------------------------------------

_KM_ITER = """
d{i} AS (
  SELECT p.vec_id, c.cluster,
         CAST(SUM((p.qv - c.val) * (p.qv - c.val)) AS BIGINT) AS dist
  FROM pos p JOIN c{prev} c ON c.dim = p.dim
  GROUP BY p.vec_id, c.cluster
),
a{i} AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, cluster ASC) AS rn
    FROM d{i}) WHERE rn = 1
),
u{i} AS (
  SELECT a.cluster, p.dim,
         CAST(floor(CAST(CAST(SUM(p.qv) AS BIGINT) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS val,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM a{i} a JOIN pos p ON p.vec_id = a.vec_id
  GROUP BY a.cluster, p.dim
),
c{i} AS (
  SELECT s.cluster, dm.dim, COALESCE(u.val, c.val) AS val
  FROM spine s CROSS JOIN dims dm
  LEFT JOIN u{i} u ON u.cluster = s.cluster AND u.dim = dm.dim
  JOIN c{prev} c ON c.cluster = s.cluster AND c.dim = dm.dim
)"""


@register(
    "x85_kmeans_quantized",
    """
    WITH q AS (
      SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
              FOR x IN embedding] AS qx
      FROM embeddings
    ),
    init AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cluster, qx
      FROM (SELECT vec_id, qx FROM q ORDER BY vec_id LIMIT 4)
    ),
    pos AS (
      SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
             qx[CAST(i AS INTEGER)] AS qv
      FROM (SELECT vec_id, qx, unnest(generate_series(1, len(qx))) AS i
            FROM q)
    ),
    c0 AS (
      SELECT cluster, CAST(i - 1 AS INTEGER) AS dim,
             qx[CAST(i AS INTEGER)] AS val
      FROM (SELECT cluster, qx, unnest(generate_series(1, len(qx))) AS i
            FROM init)
    ),
    spine AS (SELECT DISTINCT cluster FROM c0),
    dims AS (SELECT DISTINCT dim FROM c0),
    """
    + _KM_ITER.format(i=1, prev=0)
    + ","
    + _KM_ITER.format(i=2, prev=1)
    + """
    SELECT s.cluster, dm.dim, COALESCE(u.val, c.val) AS centroid_q,
           CAST(COALESCE(u.n, 0) AS BIGINT) AS n_members
    FROM spine s CROSS JOIN dims dm
    LEFT JOIN u2 u ON u.cluster = s.cluster AND u.dim = dm.dim
    JOIN c1 c ON c.cluster = s.cluster AND c.dim = dm.dim
    """,
)
def x85(spark: SparkSession, sf: str) -> DataFrame:
    """Quantized-integer Lloyd k-means (k=4, 2 iterations) — the one
    integer Lloyd loop that also trains the PQ and IVF-PQ quantizers,
    run over whole vectors: vectors
    quantize once (x45 half-up), assignment is an exact integer
    squared-L2 argmin computed IN-ROW against literal centroid arrays
    (no join/shuffle), updates are map-side-combinable integer sums
    with at most k*dim reduce-side groups, and the centroid division
    is the one IEEE double op both engines run — so the full unrolled
    training replays bit-for-bit in DuckDB. The iteration barrier
    moves k*dim scalars to the driver (x14's bounded-state pattern).
    Returns the post-iteration-2 centroids + member counts."""
    e = load_tables(spark, sf, "embeddings")["embeddings"]
    return similarity.kmeans_quantized(
        e, "vec_id", "embedding", k=4, iters=2, quantum=1_000_000
    )


# ---------------------------------------------------------------------------
# x14: IVF-Flat ANN on a TRAINED coarse quantizer — fully oracle-checked
# by composing x85's bit-exact quantized Lloyd training with x55's
# proven probe machinery. This retires the corpus's last rows-only
# entry (r1-r6: float Lloyd training was not cross-engine
# deterministic; the quantized trainer is).
# ---------------------------------------------------------------------------

from wren_engine_spark.queries.llmops4 import _X55_D2, _X55_DOT  # noqa: E402

# nlist=4 (not 8): the in-row argmin trains against k x dim LITERAL
# centroid arrays, so expression size — and Catalyst/codegen cost —
# scales with k*dim; k=4 is x85's measured 2.4 s/2-iteration envelope
# at sf0.1 while k=8 quadrupled the fold work for no added coverage
# (nprobe=2 of 4 lists still scans ~50%, a genuine IVF trade)
_X14_NLIST = 4
_X14_NPROBE = 2
_X14_K = 5
_X14_ITERS = 2
_X14_QUANTUM = 1_000_000


@register(
    "x14_ivf_ann",
    f"""
    WITH q AS (
      SELECT vec_id, embedding,
             [CAST(floor(CAST(x AS DOUBLE) * {float(_X14_QUANTUM)!r} + 0.5)
                   AS BIGINT) FOR x IN embedding] AS qx
      FROM embeddings
    ),
    init AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cluster, qx
      FROM (SELECT vec_id, qx FROM q ORDER BY vec_id LIMIT {_X14_NLIST})
    ),
    pos AS (
      SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
             qx[CAST(i AS INTEGER)] AS qv
      FROM (SELECT vec_id, qx, unnest(generate_series(1, len(qx))) AS i
            FROM q)
    ),
    c0 AS (
      SELECT cluster, CAST(i - 1 AS INTEGER) AS dim,
             qx[CAST(i AS INTEGER)] AS val
      FROM (SELECT cluster, qx, unnest(generate_series(1, len(qx))) AS i
            FROM init)
    ),
    spine AS (SELECT DISTINCT cluster FROM c0),
    dims AS (SELECT DISTINCT dim FROM c0),
    """
    + _KM_ITER.format(i=1, prev=0)
    + ","
    + _KM_ITER.format(i=2, prev=1)
    + f""",
    cents AS (
      SELECT cluster AS i,
             list(CAST(val AS DOUBLE) / {float(_X14_QUANTUM)!r}
                  ORDER BY dim) AS c
      FROM c2 GROUP BY cluster
    ),
    assigned AS (
      SELECT vec_id, embedding, i AS list_id FROM (
        SELECT e.vec_id, e.embedding, c.i,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_X55_D2.format(a='c.c', b='e.embedding')}, c.i
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qe, i AS list_id FROM (
        SELECT e.vec_id AS query_id, e.embedding AS qe, c.i,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_X55_D2.format(a='c.c', b='e.embedding')}, c.i
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
        WHERE e.vec_id < 10
      ) WHERE rn <= {_X14_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_X55_DOT.format(a='p.qe', b='a.embedding')}
               / (sqrt({_X55_DOT.format(a='p.qe', b='p.qe')})
                  * sqrt({_X55_DOT.format(a='a.embedding', b='a.embedding')}))
               AS sim
      FROM probes p JOIN assigned a ON p.list_id = a.list_id
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(sim, 6) AS cosine_sim,
           CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {_X14_K}
    """,
)
def x14(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-Flat ANN with a TRAINED coarse quantizer, oracle-checked
    end-to-end (r7; rows-only through r6 while training rode a
    nondeterministic float Lloyd, since deleted). Training is the one
    bit-exact integer Lloyd loop (x85 / similarity.kmeans_quantized):
    quantize once with the x45 half-up,
    in-row integer argmin assignment against literal centroids (no
    join/shuffle), map-side integer sums with <= k*dim reduce groups,
    centroid = floor(sum/n) as the one IEEE double op both engines
    run. The trained centroids come back to double in ONE division
    (centroid_q / quantum) mirrored by the oracle, then probing is
    x55's proven machinery: argmin list assignment, nprobe nearest
    lists per query, inverted-list join with broadcast queries,
    exact-cosine top-k. The iteration barrier moves k*dim scalars to
    the driver — bounded state at any corpus size; at 100 TB the
    corpus is scanned once per Lloyd pass (map-side) and once to
    probe."""
    e = load_tables(spark, sf, "embeddings")["embeddings"]
    km = similarity.kmeans_quantized(
        e, "vec_id", "embedding",
        k=_X14_NLIST, iters=_X14_ITERS, quantum=_X14_QUANTUM,
    )
    # k*dim scalars: kmeans_quantized materializes its result as a
    # local relation, so this collect moves no executor data
    got = {(r.cluster, r.dim): r.centroid_q for r in km.collect()}
    dim = 1 + max(d for _, d in got)
    cents = [
        [got[(c, d)] / float(_X14_QUANTUM) for d in range(dim)]
        for c in range(_X14_NLIST)
    ]
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return similarity.ivf_topk(
        e, "vec_id", "embedding", queries, cents, k=_X14_K, nprobe=_X14_NPROBE
    )


# ---------------------------------------------------------------------------
# x86/x87: span-level decontamination — locate leaked spans, then
# surgically excise them (the modern upgrade over doc-level drops)
# ---------------------------------------------------------------------------

_TOKHASH = """[list_reduce(list_prepend(CAST(0 AS BIGINT),
                [CAST(ascii(substr(tok, CAST(i AS INTEGER), 1)) AS BIGINT)
                 FOR i IN generate_series(1, length(tok))]),
                (acc, c) -> (acc * 31 + c) % 2147483647)
              FOR tok IN t]"""

# shared CTE chain: 8-token two-plane window hashes over the 90/10
# train/test split (x26's convention), hit windows, maximal spans
_SPAN_CTES = rf"""
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS t
      FROM documents
    ),
    thall AS (SELECT doc_id, {_TOKHASH} AS th FROM toks),
    ok AS (SELECT doc_id, th FROM thall WHERE len(th) >= 8),
    wins AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+7]),
                 (acc, h) -> (acc * 1000003 + h) % 2147483647) * 2147483629
           + list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+7]),
                 (acc, h) -> (acc * 999983 + h) % 2147483629) AS wh
      FROM ok, LATERAL unnest(generate_series(1, len(th) - 7)) AS u(i)
    ),
    testw AS (SELECT DISTINCT wh FROM wins WHERE doc_id % 10 = 0),
    hits AS (SELECT wi.doc_id, wi.pos FROM wins wi
             JOIN testw ON testw.wh = wi.wh WHERE wi.doc_id % 10 <> 0),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       IS NULL
                    OR pos > lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) + 8
                  THEN 1 ELSE 0 END AS newspan
      FROM hits
    ),
    grp AS (
      SELECT doc_id, pos,
             SUM(newspan) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM isl
    ),
    spans AS (
      SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
             CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
             CAST(COUNT(*) AS BIGINT) AS n_windows
      FROM grp GROUP BY doc_id, g
    )"""


@register(
    "x86_contamination_spans",
    f"WITH {_SPAN_CTES}\n    SELECT doc_id, span_start, span_end, n_windows FROM spans",
)
def x86(spark: SparkSession, sf: str) -> DataFrame:
    """Span-level contamination localization: the 1-based token ranges
    of each training document (doc_id % 10 != 0) where an 8-token
    window also occurs in the held-out split (doc_id % 10 == 0) — the
    offsets a surgical decontamination pass excises. The held-out
    window-hash set broadcasts (benchmark-sized); training windows are
    probed map-side; only the hits reach the per-doc island window."""
    d = load_tables(spark, sf, "documents")["documents"]
    train = d.filter(F.col("doc_id") % 10 != 0)
    test = d.filter(F.col("doc_id") % 10 == 0)
    return text.contamination_spans(train, test, "text", "doc_id", window_tokens=8)


@register(
    "x87_surgical_decontamination",
    f"""
    WITH {_SPAN_CTES},
    pos AS (
      SELECT doc_id, CAST(i AS BIGINT) AS p, th[CAST(i AS INTEGER)] AS h
      FROM (SELECT doc_id, th, unnest(generate_series(1, len(th))) AS i
            FROM thall WHERE doc_id % 10 <> 0)
    ),
    kept AS (
      SELECT po.doc_id, po.p, po.h FROM pos po
      WHERE NOT EXISTS (SELECT 1 FROM spans s
                        WHERE s.doc_id = po.doc_id
                          AND po.p BETWEEN s.span_start AND s.span_end)
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list(h ORDER BY p)),
                         (acc, h) -> (acc * 1000003 + h) % 2147483647)
               AS clean_hash
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           b.n_tokens - CAST(COALESCE(a.n_kept, 0) AS BIGINT)
             AS n_tokens_removed,
           CAST(COALESCE(a.clean_hash, 0) AS BIGINT) AS clean_hash
    FROM (SELECT doc_id, CAST(len(th) AS BIGINT) AS n_tokens
          FROM thall WHERE doc_id % 10 <> 0) b
    LEFT JOIN agg a ON a.doc_id = b.doc_id
    """,
)
def x87(spark: SparkSession, sf: str) -> DataFrame:
    """Surgical decontamination: delete x86's leaked spans from each
    training document and fingerprint the cleaned token stream (fold
    over kept-token hashes in order) — every training doc emits a row,
    clean ones with 0 removed, fully-excised ones hashing to 0. The
    deletion is an in-row HOF position filter; spans join LEFT on the
    doc key (contamination-sized build side)."""
    d = load_tables(spark, sf, "documents")["documents"]
    train = d.filter(F.col("doc_id") % 10 != 0)
    test = d.filter(F.col("doc_id") % 10 == 0)
    spans = text.contamination_spans(train, test, "text", "doc_id", window_tokens=8)
    return text.remove_spans(train, spans, "text", "doc_id")
