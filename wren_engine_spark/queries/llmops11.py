"""Round-8 late additions: vector-serving completeness — tombstone
deletes, attribute-filtered probes, and hybrid lexical+vector fusion.

The persisted-index story so far covered build / probe / append /
compact / stream-ingest (x63/x99-x111, t15-t17). What a production
vector-serving engine still needs on top:

- **deletes** (x112): GDPR erasure and corpus-refresh pipelines must
  remove vectors without retraining or rewriting a 100 TB codes
  table. Tombstones are the merge-on-read half (an id-only sidecar,
  anti-joined broadcast at probe time — no codes file is touched);
  compaction is the merge-on-write half (folds tombstones into its
  rewrite and clears them).
- **filtered search** (x113): "nearest neighbors WHERE <metadata
  predicate>" — the index stores attribute columns with its rows, the
  predicate pushes into the bucketed parquet scan (PushedFilters:
  a filtered probe reads LESS, not a post-filter that returns fewer
  than k).
- **hybrid retrieval** (x114): reciprocal-rank fusion of a lexical
  posting-list ranking and the quantized-cosine vector ranking —
  the standard RAG serving front-end (RRF, SIGIR 2009).

Discipline (the r5 bar): DuckDB oracle per entry + plan asserts
(tests/test_llmops11.py pins the tombstone anti-join's no-extra-
shuffle shape and the filtered probe's PushedFilters) + brute-force
pytest (delete ≡ filtered re-rank of the full probe; compact folds
tombstones physically) + 10x spill receipt (SCALING.md round 8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wren_engine_spark.operators import retrieval, similarity
from wren_engine_spark.queries.io import load_tables
from wren_engine_spark.queries.llmops import _lsh_oracle
from wren_engine_spark.queries.llmops8 import _PQ_CTES
from wren_engine_spark.queries.memo import session_uid
from wren_engine_spark.queries.registry import register

# ---------------------------------------------------------------------------
# x112: tombstone-deleted PQ index probe
# ---------------------------------------------------------------------------

_PQ_DEL_MEMO: dict = {}


def _ensure_deleted_pq_index(spark: SparkSession, sf: str) -> str:
    """x112's index: build the PQ index on the FULL corpus (geometry
    is trained on everything — deletes freeze it by design, exactly
    like appends), then tombstone every ``vec_id % 7 == 0``. Own path
    (x99's shared index must never see these tombstones); marker file
    outside the index directory; session-scoped rebuild discipline as
    the other _ensure_* helpers. write_pq_index clears stale
    tombstones wholesale, so a re-entry can never double-delete."""
    import hashlib
    import os

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    path = f"{wh}/pq_del_{hashlib.md5(sf.encode()).hexdigest()[:10]}"
    marker = f"{path}__TOMBSTONED"
    key = (session_uid(spark), sf)
    complete = (
        os.path.isfile(marker)
        and os.path.isdir(f"{path}/codes")
        and os.path.isdir(f"{path}/tombstones")
    )
    if _PQ_DEL_MEMO.get(key) != path or not complete:
        if os.path.isfile(marker):
            os.remove(marker)
        e = load_tables(spark, sf, "embeddings")["embeddings"]
        similarity.write_pq_index(
            e, "vec_id", "embedding", path, n_subspaces=2, k_codes=4, iters=1
        )
        similarity.pq_index_delete(
            spark, path, e.filter(F.col("vec_id") % 7 == 0).select("vec_id")
        )
        with open(marker, "w", encoding="utf-8") as f:
            f.write("tombstoned\n")
        _PQ_DEL_MEMO[key] = path
    return path


@register(
    "x112_pq_index_delete",
    f"""
    WITH {_PQ_CTES},
    dranked AS (
      SELECT query_id, neighbor_id, adist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adist ASC, neighbor_id ASC) AS rnk
      FROM ad WHERE neighbor_id % 7 <> 0
    )
    SELECT query_id, neighbor_id, CAST(adist AS BIGINT) AS adist,
           CAST(rnk AS INTEGER) AS rnk
    FROM dranked WHERE rnk <= 5
    """,
)
def x112(spark: SparkSession, sf: str) -> DataFrame:
    """PQ index lifecycle — tombstone delete without rewrite: the
    index is built on the full corpus, every ``vec_id % 7 == 0`` is
    deleted (similarity.pq_index_delete — an id-only tombstone
    sidecar; NO codes file is read or rewritten), and the probe
    anti-joins the tombstones out (broadcast, no extra shuffle) before
    ranking — so deleted vectors vanish from results and survivors
    re-rank upward, exactly what the oracle replays by excluding the
    deleted ids from the candidate set of x93/x99's unrolled
    train->encode->ADC chain and re-ranking. Geometry is frozen
    (codebooks trained on the full corpus keep serving — the
    delete-side twin of the append contract), so the ADC distances of
    surviving rows are bit-identical to the undeleted index's.
    pq_index_compact folds the tombstones physically (pytest-pinned:
    probe bit-identical before/after, codes row count shrinks,
    tombstone directory cleared)."""
    path = _ensure_deleted_pq_index(spark, sf)
    e = load_tables(spark, sf, "embeddings")["embeddings"]
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return similarity.pq_index_topk(spark, path, queries, topk=5)


# ---------------------------------------------------------------------------
# x113: attribute-filtered ANN probe
# ---------------------------------------------------------------------------


def _lsh_filtered_oracle(query_pred: str, attr_pred: str) -> str:
    """x63's exact LSH oracle with the candidate side restricted to
    ids satisfying ``attr_pred`` (over the embeddings table) BEFORE
    ranking — filtered search ranks only qualifying candidates, k
    deep. Built by surgically narrowing `_lsh_oracle`'s candidate CTE
    rather than editing the shared helper (whose byte-exact output
    certifies x11/x63/x105)."""
    sql = _lsh_oracle(nbits=10, tables=4, query_pred=query_pred)
    anchor = "WHERE a.vec_id <> b.vec_id AND"
    assert sql.count(anchor) == 1, "lsh oracle changed shape"
    return sql.replace(
        anchor,
        "WHERE b.vec_id IN (SELECT vec_id FROM embeddings "
        f"WHERE {attr_pred}) AND a.vec_id <> b.vec_id AND",
        1,
    )


_ANN_FILT_MEMO: dict = {}


def _ensure_attr_ann_index(spark: SparkSession, sf: str) -> str:
    """x113's index: full corpus, hyperplane-LSH, with the ``label``
    attribute column stored alongside each (bucket, id, vector) row
    (write_ann_index attr_cols) so probes can filter on it inside the
    bucketed scan."""
    import hashlib
    import os

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    table = f"ann_filt_{hashlib.md5(sf.encode()).hexdigest()[:10]}"
    marker = f"{wh}/{table}__BUILT"
    key = (session_uid(spark), sf)
    complete = os.path.isfile(marker) and spark.catalog.tableExists(table)
    if _ANN_FILT_MEMO.get(key) != table or not complete:
        if os.path.isfile(marker):
            os.remove(marker)
        e = load_tables(spark, sf, "embeddings")["embeddings"]
        similarity.write_ann_index(
            e, "vec_id", "embedding", table, dim=64, nbits=10, tables=4,
            attr_cols=["label"],
        )
        with open(marker, "w", encoding="utf-8") as f:
            f.write("built\n")
        _ANN_FILT_MEMO[key] = table
    return table


@register(
    "x113_filtered_ann_probe",
    _lsh_filtered_oracle(query_pred="vec_id < 6", attr_pred="label < 5"),
)
def x113(spark: SparkSession, sf: str) -> DataFrame:
    """Attribute-FILTERED vector search: the persisted LSH index
    stores the ``label`` metadata column with every row
    (write_ann_index attr_cols), and the probe's ``where`` predicate
    is applied to the index side BEFORE the bucket join — it pushes
    into the bucketed parquet scan (PushedFilters, pytest-pinned), so
    the filtered probe reads LESS than an unfiltered one and the
    top-k ranks only qualifying candidates: every neighbor satisfies
    the predicate, k deep (pre-filtering semantics — a post-filter of
    an unfiltered top-k would return < k rows and miss qualifying
    neighbors ranked below unqualified ones). The oracle is x63's
    exact plane-replay with the candidate set narrowed by the same
    predicate."""
    table = _ensure_attr_ann_index(spark, sf)
    e = load_tables(spark, sf, "embeddings")["embeddings"]
    queries = e.filter(F.col("vec_id") < 6)
    return similarity.ann_index_topk(
        spark, table, queries, "vec_id", "embedding", dim=64, k=3,
        where="label < 5",
    )


# ---------------------------------------------------------------------------
# x115/x116: bucketed-family delete + compaction lifecycle
# ---------------------------------------------------------------------------

_ANN_DEL_MEMO: dict = {}


def _ensure_deleted_ann_index(spark: SparkSession, sf: str) -> str:
    """x115's index: full-corpus LSH build, then tombstone every
    ``vec_id % 6 == 0`` (similarity.ann_index_delete — id-only
    tombstone directory, the bucketed index itself is never
    rewritten)."""
    import hashlib
    import os

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    table = f"ann_del_{hashlib.md5(sf.encode()).hexdigest()[:10]}"
    marker = f"{wh}/{table}__TOMBSTONED"
    key = (session_uid(spark), sf)
    complete = os.path.isfile(marker) and spark.catalog.tableExists(table)
    if _ANN_DEL_MEMO.get(key) != table or not complete:
        if os.path.isfile(marker):
            os.remove(marker)
        e = load_tables(spark, sf, "embeddings")["embeddings"]
        # write_ann_index drops stale tombstones wholesale, so a
        # re-entry can never double-delete
        similarity.write_ann_index(
            e, "vec_id", "embedding", table, dim=64, nbits=10, tables=4
        )
        similarity.ann_index_delete(
            spark, table, e.filter(F.col("vec_id") % 6 == 0).select("vec_id")
        )
        with open(marker, "w", encoding="utf-8") as f:
            f.write("tombstoned\n")
        _ANN_DEL_MEMO[key] = table
    return table


@register(
    "x115_ann_index_delete",
    _lsh_filtered_oracle(query_pred="vec_id < 6", attr_pred="vec_id % 6 <> 0"),
)
def x115(spark: SparkSession, sf: str) -> DataFrame:
    """LSH index lifecycle — tombstone delete without rewrite
    (x112's contract, for the BUCKETED family): every ``vec_id % 6 ==
    0`` is deleted via an id-only tombstone directory and the probe
    anti-joins it out (broadcast, still the one-shuffle serving
    shape) before ranking, so deleted vectors vanish and survivors
    re-rank upward. The oracle is x63's exact plane replay with the
    deleted ids excluded from the candidate set — the same surgery as
    x113's filtered probe, because a tombstone IS a filter the index
    carries for you until compaction folds it."""
    table = _ensure_deleted_ann_index(spark, sf)
    e = load_tables(spark, sf, "embeddings")["embeddings"]
    queries = e.filter(F.col("vec_id") < 6)
    return similarity.ann_index_topk(
        spark, table, queries, "vec_id", "embedding", dim=64, k=3
    )


_ANN_LC_MEMO: dict = {}


def _ensure_full_lifecycle_ann_index(spark: SparkSession, sf: str) -> str:
    """x116's index: the COMPLETE lifecycle composed — build on the
    base split (vec_id % 4 != 0), append the delta through the
    ``__meta`` planes, tombstone every ``vec_id % 6 == 0``, then
    COMPACT (rewrite to one file per bucket, fold the tombstones,
    two-rename swap). A probe of the compacted index must equal the
    merge-on-read answer bit-for-bit, so the same oracle as x115
    certifies append + delete + compact in one row."""
    import hashlib
    import os

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    table = f"ann_lc_{hashlib.md5(sf.encode()).hexdigest()[:10]}"
    marker = f"{wh}/{table}__COMPACTED"
    key = (session_uid(spark), sf)
    complete = os.path.isfile(marker) and spark.catalog.tableExists(table)
    if _ANN_LC_MEMO.get(key) != table or not complete:
        if os.path.isfile(marker):
            os.remove(marker)
        e = load_tables(spark, sf, "embeddings")["embeddings"]
        similarity.write_ann_index(
            e.filter(F.col("vec_id") % 4 != 0), "vec_id", "embedding",
            table, dim=64, nbits=10, tables=4,
        )
        similarity.ann_index_append(
            spark, table, e.filter(F.col("vec_id") % 4 == 0),
            "vec_id", "embedding",
        )
        similarity.ann_index_delete(
            spark, table, e.filter(F.col("vec_id") % 6 == 0).select("vec_id")
        )
        similarity.ann_index_compact(spark, table)
        with open(marker, "w", encoding="utf-8") as f:
            f.write("compacted\n")
        _ANN_LC_MEMO[key] = table
    return table


@register(
    "x116_ann_index_lifecycle",
    _lsh_filtered_oracle(query_pred="vec_id < 6", attr_pred="vec_id % 6 <> 0"),
)
def x116(spark: SparkSession, sf: str) -> DataFrame:
    """The complete bucketed-index lifecycle under ONE oracle row:
    build on a base split, append the remainder (frozen ``__meta``
    planes), tombstone-delete a slice, COMPACT — one file per bucket,
    tombstones folded into the rewrite, atomic two-rename swap
    (layout.compact_bucketed) — then probe. Compaction is
    content-preserving by contract, so the bit-identical probe IS the
    certification (x101/x111's discipline, for the bucketed family):
    the result must equal x115's merge-on-read answer — append ≡
    build, fold ≡ anti-join — which the x63 plane replay computes
    independently."""
    table = _ensure_full_lifecycle_ann_index(spark, sf)
    e = load_tables(spark, sf, "embeddings")["embeddings"]
    queries = e.filter(F.col("vec_id") < 6)
    return similarity.ann_index_topk(
        spark, table, queries, "vec_id", "embedding", dim=64, k=3
    )


# ---------------------------------------------------------------------------
# x114: hybrid lexical + vector retrieval (reciprocal-rank fusion)
# ---------------------------------------------------------------------------

_X114_LEX = r"""
    htoks AS (
      SELECT doc_id,
             unnest(list_distinct(
               string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'))) AS tok
      FROM documents
    ),
    htoks2 AS (SELECT doc_id, tok FROM htoks WHERE tok <> ''),
    hnd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    hdf AS (
      SELECT tok FROM htoks2, hnd
      GROUP BY tok, n
      HAVING CAST(COUNT(*) AS DOUBLE) <= 0.5 * n
    ),
    hkept AS (SELECT t.doc_id, t.tok FROM htoks2 t JOIN hdf USING (tok)),
    hqt AS (SELECT doc_id AS query_id, tok FROM hkept WHERE doc_id < 4),
    hlp AS (
      SELECT q.query_id, k.doc_id, CAST(COUNT(*) AS BIGINT) AS overlap
      FROM hqt q JOIN hkept k USING (tok)
      WHERE k.doc_id <> q.query_id
      GROUP BY 1, 2
    ),
    hlex AS (
      SELECT query_id, doc_id, lex_rank FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY overlap DESC, doc_id) AS lex_rank
        FROM hlp) WHERE lex_rank <= 10
    )"""

_X114_VEC = """
    hq8 AS (
      SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS BIGINT)
              FOR x IN embedding] AS qv
      FROM (
        SELECT vec_id, embedding,
               greatest(list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]),
                        1e-12) / 127.0 AS s
        FROM embeddings
      )
    ),
    hqn AS (
      SELECT vec_id, qv,
             sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    [x * x FOR x IN qv]), (acc, x) -> acc + x) AS DOUBLE)) AS nrm
      FROM hq8
    ),
    hqs AS (SELECT vec_id AS query_id, qv AS qq, nrm AS qnrm FROM hqn
            WHERE vec_id < 4),
    hvp AS (
      SELECT query_id, vec_id AS doc_id,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    [p[1] * p[2] FOR p IN list_zip(qq, qv)]),
                    (acc, x) -> acc + x) AS DOUBLE) / (qnrm * nrm) AS sim
      FROM hqs, hqn WHERE vec_id <> query_id
    ),
    hvec AS (
      SELECT query_id, doc_id, vec_rank FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, doc_id) AS vec_rank
        FROM hvp) WHERE vec_rank <= 10
    )"""


@register(
    "x114_hybrid_rrf",
    f"""
    WITH {_X114_LEX},
    {_X114_VEC},
    hfused AS (
      SELECT COALESCE(l.query_id, v.query_id) AS query_id,
             COALESCE(l.doc_id, v.doc_id) AS doc_id,
             COALESCE(CAST(1 AS DOUBLE)
                        / (CAST(60 AS DOUBLE) + CAST(l.lex_rank AS DOUBLE)),
                      CAST(0 AS DOUBLE))
           + COALESCE(CAST(1 AS DOUBLE)
                        / (CAST(60 AS DOUBLE) + CAST(v.vec_rank AS DOUBLE)),
                      CAST(0 AS DOUBLE)) AS score,
             l.lex_rank, v.vec_rank
      FROM hlex l FULL OUTER JOIN hvec v
        ON v.query_id = l.query_id AND v.doc_id = l.doc_id
    ),
    hranked AS (
      SELECT query_id, doc_id, score, lex_rank, vec_rank,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rnk
      FROM hfused
    )
    SELECT query_id, doc_id, ROUND(score, 6) AS rrf_score,
           CAST(lex_rank AS INTEGER) AS lex_rank,
           CAST(vec_rank AS INTEGER) AS vec_rank,
           CAST(rnk AS INTEGER) AS rnk
    FROM hranked WHERE rnk <= 5
    """,
)
def x114(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (RRF, SIGIR 2009 —
    the production-default fusion for RAG serving): a lexical top-10
    by distinct shared-token overlap through a band-stop-capped
    posting-list join (operators/retrieval.lexical_overlap_topk —
    token-co-occurrence join, never doc x doc; stopword-skew bounded
    by the in-plan max-df cut) fused with the int8-quantized cosine
    top-10 (x45's integer kernel) by summing 1/(60+rank) per list.
    Rank fusion uses ONLY the integer ranks — never the incomparable
    raw scores — so the fused score is a two-term IEEE double sum,
    bit-identical in any engine, certified end-to-end by the oracle's
    replay of both rankings and the fusion. doc_id == vec_id is the
    RAG corpus shape: every chunk carries text AND an embedding."""
    d = load_tables(spark, sf, "documents")["documents"]
    e = load_tables(spark, sf, "embeddings")["embeddings"]
    qids = d.filter(F.col("doc_id") < 4).select("doc_id")
    return retrieval.hybrid_rrf_topk(
        d, "doc_id", "text", e, "vec_id", "embedding", qids,
        k_lex=10, k_vec=10, rrf_k=60, topk=5,
    )


# ---------------------------------------------------------------------------
# x117: recall-targeted nprobe auto-tuning over the persisted IVF-PQ index
# ---------------------------------------------------------------------------

from wren_engine_spark.queries.llmops10 import (  # noqa: E402
    _IVFPQ_NLIST,
    _IVFPQ_NPROBE,
    _IVFPQ_TOPK,
    _ensure_ivfpq_index,
    _ivfpq_ctes,
    _probe_queries,
)

_X117_TARGET = 0.8


def _ivfpq_tuner_oracle() -> str:
    """x107's unrolled IVF-PQ replay, widened to ALL cells with each
    cell's distance rank exposed, then every nprobe hypothesis
    (1..nlist) replayed as a ``cellrank <= np`` filter over the same
    scored candidates — exactly the one-pass plan the Spark tuner
    runs. Built by surgery on the shared `_ivfpq_ctes` template (the
    x113 convention: the byte-exact template output keeps certifying
    x107-x111)."""
    base = _ivfpq_ctes("TRUE")
    a1 = "SELECT query_id, list_id FROM ("
    assert base.count(a1) == 1, "ivfpq oracle changed shape (qp select)"
    base = base.replace(
        a1, "SELECT query_id, list_id, rn AS cellrank FROM (", 1
    )
    a2 = f"FROM ca WHERE vec_id < 8) WHERE rn <= {_IVFPQ_NPROBE}"
    assert base.count(a2) == 1, "ivfpq oracle changed shape (qp filter)"
    base = base.replace(
        a2, f"FROM ca WHERE vec_id < 8) WHERE rn <= {_IVFPQ_NLIST}", 1
    )
    denom = float(8 * _IVFPQ_TOPK)
    return f"""
    WITH {base},
    nps AS (SELECT CAST(unnest(generate_series(1, {_IVFPQ_NLIST})) AS INTEGER)
              AS nprobe),
    adn AS (
      SELECT n.nprobe, q0.query_id, k0.vec_id AS neighbor_id,
             q0.d + q1.d AS adist
      FROM rcode_0 k0
      JOIN rcode_1 k1 ON k1.vec_id = k0.vec_id
      JOIN al a ON a.vec_id = k0.vec_id
      JOIN qp p ON p.list_id = a.list_id
      JOIN nps n ON p.cellrank <= n.nprobe
      JOIN qd_0 q0 ON q0.query_id = p.query_id AND q0.list_id = a.list_id
                  AND q0.cluster = k0.code
      JOIN qd_1 q1 ON q1.query_id = q0.query_id AND q1.list_id = a.list_id
                  AND q1.cluster = k1.code
      WHERE k0.vec_id <> q0.query_id
    ),
    ptop AS (
      SELECT nprobe, query_id, neighbor_id FROM (
        SELECT nprobe, query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                                  ORDER BY adist ASC, neighbor_id ASC) AS rnk
        FROM adn) WHERE rnk <= {_IVFPQ_TOPK}
    ),
    exd AS (
      SELECT qq.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                 [(s[1] - s[2]) * (s[1] - s[2])
                  FOR s IN list_zip(qq.qx, b.qx)]),
                 (acc, v) -> acc + v) AS d
      FROM (SELECT vec_id, qx FROM q WHERE vec_id < 8) qq, q b
      WHERE b.vec_id <> qq.vec_id
    ),
    ext AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d ASC, neighbor_id ASC) AS rn
        FROM exd) WHERE rn <= {_IVFPQ_TOPK}
    ),
    rec AS (
      SELECT n.nprobe, CAST(COUNT(e.neighbor_id) AS BIGINT) AS n_hits
      FROM nps n
      LEFT JOIN ptop p ON p.nprobe = n.nprobe
      LEFT JOIN ext e ON e.query_id = p.query_id
                     AND e.neighbor_id = p.neighbor_id
      GROUP BY n.nprobe
    ),
    fin AS (
      SELECT nprobe, n_hits,
             ROUND(CAST(n_hits AS DOUBLE) / {denom!r}, 6) AS mean_recall
      FROM rec
    )
    SELECT nprobe, n_hits, mean_recall,
           mean_recall >= {_X117_TARGET!r} AS meets_target,
           (mean_recall >= {_X117_TARGET!r}) AND nprobe =
             MIN(CASE WHEN mean_recall >= {_X117_TARGET!r} THEN nprobe END)
               OVER () AS chosen
    FROM fin
    """


@register("x117_ivfpq_tune_nprobe", _ivfpq_tuner_oracle())
def x117(spark: SparkSession, sf: str) -> DataFrame:
    """Recall-targeted nprobe auto-tuning
    (similarity.ivfpq_tune_nprobe): recall@5 vs the exact quantized-L2
    answer for EVERY nprobe 1..nlist in ONE codes scan — the
    per-(query, cell) integer ADC tables are built for all cells with
    each cell's distance rank attached, and a broadcast nprobe spine
    replays each "what if nprobe=np" hypothesis as a cellrank filter
    over the same scored candidates. Marks the smallest nprobe meeting
    the 0.8 target — the automated form of x108's single-point gate,
    and the drift alarm for the append lifecycle (if nprobe=nlist
    misses the target, the frozen geometry is stale: retrain). Runs
    against x109's persisted index (shared memoized build), so the
    tuner exercises the true serving path: memoized sidecar geometry,
    codes-only scan, tombstones honored."""
    path = _ensure_ivfpq_index(spark, sf)
    e = load_tables(spark, sf, "embeddings")["embeddings"]
    return similarity.ivfpq_tune_nprobe(
        spark, path, e, "vec_id", "embedding", _probe_queries(spark, sf),
        topk=_IVFPQ_TOPK, recall_target=_X117_TARGET,
    )
