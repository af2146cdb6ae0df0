"""Round-6 LLM-pipeline additions: keep-best dedup representatives,
corpus collocation mining, and incremental near-dup ingestion against
a persisted signature index (SURVEY §2 extension block).

Oracle convention unchanged: exact integer arithmetic wherever the
value feeds a comparison, identical operation ORDER for the few double
expressions, identical aliases both sides (queries/registry.py
docstring). Discipline per the round-5 verdict: every entry lands with
(a) a DuckDB oracle, (b) a plan assert for its scale story
(tests/test_plans.py), (c) a brute-force property test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wren_engine_spark.operators import dedup, text
from wren_engine_spark.queries.io import load_tables
from wren_engine_spark.queries.memo import session_uid
from wren_engine_spark.queries.llmops import _PAIRS_CTES, _STOP
from wren_engine_spark.queries.llmops3 import _PORTABLE_SIMHASH_CTES
from wren_engine_spark.queries.registry import register

# ---------------------------------------------------------------------------
# x68: keep-BEST-quality representative per near-dup cluster
# ---------------------------------------------------------------------------

# x7's exact quality formula as a CTE (same _STOP list, same operation
# order — x7 is hash-exact green, so the doubles match bit-for-bit)
_QUALITY_CTE = f"""
    q AS (
      SELECT doc_id,
             0.4 * LEAST(
               (CAST(len(regexp_extract_all(lower(text), '{_STOP}')) AS DOUBLE)
                / CAST(len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS DOUBLE)) * 4.0, 1.0)
             + 0.4 * (CASE WHEN len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) BETWEEN 10 AND 1000
                           THEN 1.0 ELSE 0.0 END)
             + 0.2 * (1.0 - LEAST(
               (CAST(length(regexp_replace(text, '[A-Za-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g')) AS DOUBLE)
                / CAST(length(text) AS DOUBLE)) * 5.0, 1.0)) AS quality_score
      FROM documents
    )
"""


@register(
    "x68_cluster_best_representative",
    f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
      UNION
      SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.node
    ),
    comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
    labeled AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    {_QUALITY_CTE}
    SELECT l.doc_id, l.cluster_id,
           FIRST_VALUE(l.doc_id) OVER (
             PARTITION BY l.cluster_id
             ORDER BY q.quality_score DESC, l.doc_id ASC
           ) AS rep_id,
           l.doc_id = FIRST_VALUE(l.doc_id) OVER (
             PARTITION BY l.cluster_id
             ORDER BY q.quality_score DESC, l.doc_id ASC
           ) AS kept
    FROM labeled l JOIN q ON q.doc_id = l.doc_id
    """,
)
def x68(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-BEST dedup: near-dup clusters (exact Jaccard pairs ->
    connected components, the x24 pipeline) keep their HIGHEST-QUALITY
    member as the representative (x7's deterministic quality score,
    doc_id tie-break) instead of the arbitrary min-id — what a real
    curation pipeline ships: of N near-identical crawls, retain the
    cleanest one. Rolls up three already-proven surfaces (x3 pairs,
    x24 components, x7 quality) into the selection a trainer consumes;
    the oracle recomputes cluster, quality, and the per-cluster argmax
    from scratch. Per-cluster window cost is bounded by near-dup
    cluster size, never corpus size."""
    d = load_tables(spark, sf, "documents")["documents"]
    clusters = dedup.duplicate_clusters(d, "text", "doc_id", n=3, threshold=0.8)
    quality = text.quality_score(d, "text", "doc_id")
    from pyspark.sql import Window as W

    joined = clusters.join(quality, "doc_id")
    w = (
        W.partitionBy("cluster_id")
        .orderBy(F.col("quality_score").desc(), F.col("doc_id").asc())
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    rep = F.first("doc_id").over(w)
    return joined.select(
        "doc_id",
        "cluster_id",
        rep.alias("rep_id"),
        (F.col("doc_id") == rep).alias("kept"),
    )


# ---------------------------------------------------------------------------
# x69: bigram collocation lift (PMI numerator/denominator, exact counts)
# ---------------------------------------------------------------------------


@register(
    "x69_bigram_lift",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS toks
      FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(toks) AS tok,
             unnest(generate_series(1, len(toks))) AS i
      FROM t
    ),
    uni AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    n AS (SELECT COUNT(*) AS n FROM tok),
    bi AS (
      SELECT a.tok AS t1, b.tok AS t2, COUNT(*) AS c_ab
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      GROUP BY a.tok, b.tok
    )
    SELECT t1, t2, c_ab,
           (CAST(c_ab AS DOUBLE) * CAST(n.n AS DOUBLE))
             / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) AS lift
    FROM bi
    JOIN uni ua ON ua.tok = t1
    JOIN uni ub ON ub.tok = t2
    CROSS JOIN n
    WHERE c_ab >= 3
    ORDER BY lift DESC, t1, t2
    LIMIT 50
    """,
)
def x69(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus collocation mining: top-50 bigrams by LIFT
    (c_ab * N) / (c_a * c_b) — the PMI ratio without the log, so the
    two multiplications and one division happen in the SAME order both
    sides and the doubles match bit-for-bit (exact integer counts in,
    deterministic out; ties broken by the bigram itself).

    100 TB shape: one token explode feeding two map-side-combinable
    groupBys (bigrams via a self-zip on (doc, position) — per-doc
    keys, never a token-keyed shuffle of occurrences); the unigram
    attach joins DISTINCT-bigram rows (agg-fed, one row per bigram per
    map partition), so a hot word like 'the' contributes vocab-bounded
    rows, not occurrence-bounded. N is a broadcast scalar."""
    d = load_tables(spark, sf, "documents")["documents"]
    toks = d.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col("text"))), r"[ \t\n\x0B\f\r]+").alias("__t"),
    )
    # bigrams IN-ROW from the token array (no positional self-join at
    # all — the zip happens inside transform), then one combinable agg
    bi = (
        toks.filter(F.size("__t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(__t) - 2), "
                    "i -> struct(__t[i] AS t1, __t[i + 1] AS t2))"
                )
            ).alias("b")
        )
        .select(F.col("b.t1").alias("t1"), F.col("b.t2").alias("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 3)
    )
    tok = toks.select(F.explode("__t").alias("tok"))
    uni = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n = tok.agg(F.count(F.lit(1)).alias("n"))
    ua = uni.select(F.col("tok").alias("t1"), F.col("c").alias("__ca"))
    ub = uni.select(F.col("tok").alias("t2"), F.col("c").alias("__cb"))
    out = (
        bi.join(ua, "t1")
        .join(ub, "t2")
        .crossJoin(F.broadcast(n))
        .select(
            "t1",
            "t2",
            "c_ab",
            (
                (F.col("c_ab").cast("double") * F.col("n").cast("double"))
                / (F.col("__ca").cast("double") * F.col("__cb").cast("double"))
            ).alias("lift"),
        )
    )
    return out.orderBy(F.col("lift").desc(), "t1", "t2").limit(50)


# ---------------------------------------------------------------------------
# x70: incremental near-dup ingestion against a persisted simhash index
# ---------------------------------------------------------------------------

_SIMHASH_INDEX_MEMO: dict = {}


@register(
    "x70_incremental_simhash_probe",
    f"""
    WITH {_PORTABLE_SIMHASH_CTES},
    c AS (SELECT doc_id, simhash FROM sig WHERE doc_id % 10 <> 0),
    d AS (SELECT doc_id, simhash FROM sig WHERE doc_id % 10 = 0)
    SELECT d.doc_id AS delta_id, c.doc_id AS corpus_id,
           CAST(bit_count(xor(d.simhash, c.simhash)) AS INTEGER) AS hamming
    FROM d JOIN c ON bit_count(xor(d.simhash, c.simhash)) <= 3
    """,
)
def x70(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental ingestion dedup: which EXISTING corpus docs is each
    new-batch doc a near-duplicate of (Hamming <= 3 over the portable
    simhash)? The corpus's banded signatures are PERSISTED once as a
    bucketed table (dedup.write_simhash_index — build-once, the x63
    pattern applied to dedup) and each ingestion batch probes it
    (dedup.simhash_index_probe): batch signatures broadcast, index
    streaming with NO shuffle, corpus text never re-read or re-hashed.
    Pigeonhole banding (4 bands > 3) is lossless, so the oracle — the
    brute-force cross Hamming join over recomputed portable signatures
    — matches exactly. Corpus = doc_id % 10 != 0, batch = the rest."""
    import hashlib

    d = load_tables(spark, sf, "documents")["documents"]
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    delta = d.filter(F.col("doc_id") % 10 == 0)
    key = (session_uid(spark), sf)
    table = f"simhash_idx_{hashlib.md5(sf.encode()).hexdigest()[:10]}"
    if _SIMHASH_INDEX_MEMO.get(key) != table or not spark.catalog.tableExists(
        table
    ):
        dedup.write_simhash_index(corpus, "text", "doc_id", table)
        _SIMHASH_INDEX_MEMO[key] = table
    return dedup.simhash_index_probe(
        spark, table, delta, "text", "doc_id", max_hamming=3
    )


# ---------------------------------------------------------------------------
# t13: STREAMING incremental ingestion dedup (stream probes static index)
# ---------------------------------------------------------------------------


@register(
    "t13_stream_incremental_dedup_probe",
    f"""
    WITH {_PORTABLE_SIMHASH_CTES},
    c AS (SELECT doc_id, simhash FROM sig WHERE doc_id % 10 <> 0),
    d AS (SELECT doc_id, simhash FROM sig WHERE doc_id % 10 = 0)
    SELECT d.doc_id AS delta_id, c.doc_id AS corpus_id,
           CAST(bit_count(xor(d.simhash, c.simhash)) AS INTEGER) AS hamming
    FROM d JOIN c ON bit_count(xor(d.simhash, c.simhash)) <= 3
    """,
)
def t13(spark: SparkSession, sf: str) -> DataFrame:
    """x70 as a CONTINUOUS pipeline: the ingestion batch arrives as a
    STREAM, computes its portable simhash entirely map-side via the
    in-row nested-HOF kernel (dedup.simhash_portable_expr — no
    explode, no pre-join aggregation, so the stream stays stateless
    until the dedup), explodes its 4 pigeonhole band keys, and
    stream-static joins the persisted signature index built by
    dedup.write_simhash_index. Exact bit_count verify + streaming
    dropDuplicates collapse multi-band collisions; availableNow
    bounded replay (state is the emitted pair set, batch-bounded).
    Same oracle as x70 — the batch and streaming paths must agree
    bit-for-bit.

    Delete-visibility contract: whether the index HAS tombstones is
    decided once, when this query is DEFINED — a long-running stream
    started against a tombstone-free index will not anti-join deletes
    issued mid-stream until the query is redefined/restarted (an
    availableNow drain, like this entry and any scheduled ingestion,
    re-resolves on every invocation, so it always sees the current
    tombstone set). For a 24/7 stream that must honor mid-stream
    deletes, use ``dedup.simhash_index_probe_stream`` — the
    foreachBatch deployment that re-resolves the tombstone set on
    every microbatch (pytest: a delete issued between microbatches is
    honored by the next batch without restart)."""
    import hashlib

    d = load_tables(spark, sf, "documents")["documents"]
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    key = (session_uid(spark), sf)
    table = f"simhash_idx_{hashlib.md5(sf.encode()).hexdigest()[:10]}"
    if _SIMHASH_INDEX_MEMO.get(key) != table or not spark.catalog.tableExists(
        table
    ):
        dedup.write_simhash_index(corpus, "text", "doc_id", table)
        _SIMHASH_INDEX_MEMO[key] = table

    schema = spark.read.parquet(f"{sf}/documents.parquet").schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf)
    )
    # token-less docs have NO row in the exploded signature (and none
    # in the oracle's sig CTE); the in-row kernel would give them
    # signature 0 — filter to keep the two paths identical
    delta = src.filter(
        (F.col("doc_id") % 10 == 0) & (F.length(F.trim(F.col("text"))) > 0)
    )
    bands, width = 4, 32 // 4
    mask = (1 << width) - 1
    sig = delta.select(
        F.col("doc_id").alias("delta_id"),
        dedup.simhash_portable_expr("text").alias("__ds"),
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("__ds"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for i in range(bands)
        ]
    )
    q = sig.select("delta_id", "__ds", F.explode(band_arr).alias("b")).select(
        "delta_id", "__ds", F.col("b.band").alias("band"), F.col("b.val").alias("val")
    )
    # honor the delete contract every batch probe honors: tombstoned
    # corpus docs (dedup.simhash_index_delete) anti-join out of the
    # static index side before the stream-static join
    from wren_engine_spark.operators import layout

    idx = layout.without_tombstones(
        layout.read_index_table(spark, table), "corpus_id", table
    )
    hits = (
        q.join(idx, ["band", "val"])
        .filter(F.col("corpus_id") != F.col("delta_id"))
        .select(
            "delta_id",
            "corpus_id",
            F.bit_count(F.expr("corpus_simhash ^ __ds")).cast("int").alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= 3)
        .dropDuplicates(["delta_id", "corpus_id"])
    )
    from wren_engine_spark.streaming.ops import run_available_now

    return run_available_now(spark, hits, "t13_stream_sink", "append")


# ---------------------------------------------------------------------------
# x71: deterministic domain-mixing schedule (apply x34's weights)
# ---------------------------------------------------------------------------


@register(
    "x71_mixing_schedule",
    """
    WITH per AS (SELECT source, COUNT(*) AS ns FROM documents GROUP BY source),
    tot AS (SELECT SUM(ns) AS td, COUNT(*) AS s FROM per),
    thr AS (
      SELECT source,
             LEAST(CAST(FLOOR(0.5 * (CAST(td AS DOUBLE) / CAST(s * ns AS DOUBLE))
                              * 2147483647.0) AS BIGINT),
                   2147483647) AS thr
      FROM per, tot
    ),
    kept AS (
      SELECT d.doc_id, d.source,
             CAST(((d.doc_id * 131 + 174) % 2147483647)
               * ((d.doc_id * 40692 + 178) % 2147483647)
               % 2147483647 % 8 AS INTEGER) AS shard,
             ((d.doc_id * 37 + 150) % 2147483647)
               * ((d.doc_id * 69621 + 166) % 2147483647) % 1000000007 AS ph
      FROM documents d JOIN thr ON thr.source = d.source
      WHERE ((d.doc_id * 31 + 137) % 2147483647)
              * ((d.doc_id * 48271 + 144) % 2147483647) % 2147483647 < thr.thr
    )
    SELECT doc_id, source, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ph, doc_id)
                AS BIGINT) AS pos
    FROM kept
    """,
)
def x71(spark: SparkSession, sf: str) -> DataFrame:
    """APPLY the domain mix: deterministically resample so every source
    contributes equally in expectation (keep probability
    min(1, 0.5 * total / (n_sources * n_s)) per doc — x34's uniform-mix
    multiplier made executable), then lay kept docs out as
    shard+position (x65's layout) — the step a trainer actually
    consumes. Pure portable integer-hash arithmetic (product reduced
    mod the Mersenne prime BEFORE every comparison), one double chain
    for the threshold in a fixed operation order, so the oracle
    reproduces the schedule row-for-row
    (selection.mixing_schedule)."""
    d = load_tables(spark, sf, "documents")["documents"]
    from wren_engine_spark.operators import selection

    return selection.mixing_schedule(d, "source", "doc_id")


# ---------------------------------------------------------------------------
# x72: domain equalization WITH repetition (upsampling twin of x71)
# ---------------------------------------------------------------------------


@register(
    "x72_repetition_schedule",
    """
    WITH per AS (SELECT source, COUNT(*) AS ns FROM documents GROUP BY source),
    tot AS (SELECT SUM(ns) AS td, COUNT(*) AS s FROM per),
    thr AS (
      SELECT source,
             CAST(FLOOR(CAST(td AS DOUBLE) / CAST(s * ns AS DOUBLE)) AS BIGINT)
               AS base,
             CAST(FLOOR((CAST(td AS DOUBLE) / CAST(s * ns AS DOUBLE)
                         - FLOOR(CAST(td AS DOUBLE) / CAST(s * ns AS DOUBLE)))
                        * 2147483647.0) AS BIGINT) AS fthr
      FROM per, tot
    ),
    n AS (
      SELECT d.doc_id, d.source,
             thr.base + CASE WHEN ((d.doc_id * 31 + 211) % 2147483647)
                                * ((d.doc_id * 48271 + 218) % 2147483647)
                                % 2147483647 < thr.fthr
                             THEN 1 ELSE 0 END AS nc
      FROM documents d JOIN thr ON thr.source = d.source
    )
    SELECT doc_id, source, CAST(unnest(generate_series(1, nc)) AS BIGINT)
             AS copy_idx
    FROM n WHERE nc >= 1
    """,
)
def x72(spark: SparkSession, sf: str) -> DataFrame:
    """Equal-contribution mixing WITH repetition: each doc of source i
    gets floor(w) guaranteed copies plus one with probability frac(w),
    w = total/(n_sources * n_i) — small domains repeat ("4 epochs of
    the small corpus"), big ones thin (w < 1). Pure portable hash
    arithmetic + in-row sequence/explode, so the oracle reproduces
    every (doc, copy) row (selection.repetition_schedule)."""
    d = load_tables(spark, sf, "documents")["documents"]
    from wren_engine_spark.operators import selection

    return selection.repetition_schedule(d, "source", "doc_id")


# ---------------------------------------------------------------------------
# x73: full ingestion-cycle decisions (batch self-dedup + corpus probe)
# ---------------------------------------------------------------------------


@register(
    "x73_ingest_decisions",
    f"""
    WITH RECURSIVE {_PORTABLE_SIMHASH_CTES},
    c AS (SELECT doc_id, simhash FROM sig WHERE doc_id % 10 <> 0),
    dd AS (
      SELECT d.doc_id, s.simhash
      FROM documents d LEFT JOIN sig s ON s.doc_id = d.doc_id
      WHERE d.doc_id % 10 = 0
    ),
    bp AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM dd a JOIN dd b
        ON a.doc_id <> b.doc_id
       AND a.simhash IS NOT NULL AND b.simhash IS NOT NULL
       AND bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    reach(node, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM bp) t
      UNION
      SELECT e.v, reach.r FROM reach JOIN bp e ON e.u = reach.node
    ),
    comp AS (SELECT node, MIN(r) AS cid FROM reach GROUP BY node),
    lab AS (
      SELECT dd.doc_id, COALESCE(comp.cid, dd.doc_id) AS cluster_id,
             dd.simhash
      FROM dd LEFT JOIN comp ON comp.node = dd.doc_id
    ),
    cdj AS (
      SELECT l.doc_id, COUNT(c.doc_id) > 0 AS corpus_dup
      FROM lab l LEFT JOIN c
        ON l.simhash IS NOT NULL
       AND bit_count(xor(c.simhash, l.simhash)) <= 3
      GROUP BY l.doc_id
    ),
    anyd AS (
      SELECT l.cluster_id,
             MAX(CASE WHEN j.corpus_dup THEN 1 ELSE 0 END) AS a
      FROM lab l JOIN cdj j ON j.doc_id = l.doc_id
      GROUP BY l.cluster_id
    )
    SELECT l.doc_id, l.cluster_id, j.corpus_dup,
           (l.doc_id = l.cluster_id AND anyd.a = 0) AS accepted
    FROM lab l
    JOIN cdj j ON j.doc_id = l.doc_id
    JOIN anyd ON anyd.cluster_id = l.cluster_id
    """,
)
def x73(spark: SparkSession, sf: str) -> DataFrame:
    """The complete ingestion cycle in one decision: a new-batch doc is
    accepted iff it represents (min id) its WITHIN-BATCH near-dup
    cluster and no member of that cluster near-duplicates the existing
    corpus (persisted simhash index probe) — the self-dedup a naive
    probe-only ingestion misses when two near-dups arrive together.
    Cluster-level accept/reject is deterministic and parallel (CC over
    the batch pair graph), unlike sequential greedy acceptance; the
    oracle recomputes clusters, corpus hits, and the decision from
    scratch (dedup.ingest_decisions)."""
    import hashlib

    d = load_tables(spark, sf, "documents")["documents"]
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    delta = d.filter(F.col("doc_id") % 10 == 0)
    key = (session_uid(spark), sf)
    table = f"simhash_idx_{hashlib.md5(sf.encode()).hexdigest()[:10]}"
    if _SIMHASH_INDEX_MEMO.get(key) != table or not spark.catalog.tableExists(
        table
    ):
        dedup.write_simhash_index(corpus, "text", "doc_id", table)
        _SIMHASH_INDEX_MEMO[key] = table
    return dedup.ingest_decisions(spark, table, delta, "text", "doc_id")


# ---------------------------------------------------------------------------
# x74: Count-Min sketch token frequencies (mergeable point-query summary)
# ---------------------------------------------------------------------------


@register(
    "x74_count_min_estimates",
    r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+')) AS tok
      FROM documents
    ),
    nz AS (SELECT tok FROM toks WHERE length(tok) > 0),
    h AS (
      SELECT tok,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               [CAST(ascii(substr(tok, CAST(i AS INTEGER), 1)) AS BIGINT)
                FOR i IN generate_series(1, length(tok))]),
               (acc, c) -> (acc * 31 + c) % 2147483647) AS th
      FROM nz
    ),
    rs AS (
      SELECT r, a FROM (VALUES (0, 16807), (1, 48271), (2, 69621),
                               (3, 40692)) AS v(r, a)
    ),
    cells AS (
      SELECT r,
             ((th * a + (97 + 131*r)) % 2147483647) % 256 AS col,
             COUNT(*) AS c
      FROM h CROSS JOIN rs GROUP BY 1, 2
    ),
    exact AS (
      SELECT tok, COUNT(*) AS exact_count, MIN(th) AS th
      FROM h GROUP BY tok ORDER BY exact_count DESC, tok LIMIT 20
    ),
    probes AS (
      SELECT tok, exact_count, r,
             ((th * a + (97 + 131*r)) % 2147483647) % 256 AS col
      FROM exact CROSS JOIN rs
    )
    SELECT p.tok, p.exact_count, MIN(c.c) AS cms_estimate
    FROM probes p JOIN cells c ON c.r = p.r AND c.col = p.col
    GROUP BY p.tok, p.exact_count
    """,
)
def x74(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch over corpus token frequencies — the mergeable
    point-query summary completing the sketch family (HLL distinct d5,
    GK quantiles d4): a fixed 4x256 integer grid built by one
    map-side-combinable groupBy (the map combine IS the sketch merge),
    probed for the top-20 exact-frequent tokens. Every cell and every
    minimum is exact portable-hash integer arithmetic, so the oracle
    rebuilds the IDENTICAL sketch — the artifact is hash-checked, not
    just its error envelope (text.count_min_estimates; the e/w
    overestimate bound is pinned in pytest on a fixed corpus)."""
    d = load_tables(spark, sf, "documents")["documents"]
    return text.count_min_estimates(d, "text", "doc_id")


# ---------------------------------------------------------------------------
# x75: per-source quality floors (exact percentile thresholding)
# ---------------------------------------------------------------------------


@register(
    "x75_quality_floor",
    f"""
    WITH {_QUALITY_CTE},
    qq AS (
      SELECT d.doc_id, d.source, q.quality_score
      FROM documents d JOIN q ON q.doc_id = d.doc_id
    ),
    thr AS (
      SELECT source, quantile_cont(quality_score, 0.1) AS src_p10
      FROM qq GROUP BY source
    )
    SELECT qq.doc_id, qq.source, qq.quality_score, thr.src_p10,
           qq.quality_score >= thr.src_p10 AS kept
    FROM qq JOIN thr ON thr.source = qq.source
    """,
)
def x75(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source quality floors: drop each domain's own worst decile
    (exact interpolated P10 of x7's quality score, per source) rather
    than one global threshold — the curation policy that keeps a clean
    domain from eating a noisy domain's budget. Exact percentile
    (Spark percentile() ≡ DuckDB quantile_cont, the p2 convention)
    over a per-source aggregate: thresholds are source-cardinality
    rows broadcast back onto the corpus; one combinable agg + one
    narrow comparison at any scale."""
    d = load_tables(spark, sf, "documents")["documents"]
    quality = text.quality_score(d, "text", "doc_id")
    qq = d.select("doc_id", "source").join(quality, "doc_id")
    thr = qq.groupBy("source").agg(
        F.percentile("quality_score", F.lit(0.1)).alias("src_p10")
    )
    return qq.join(F.broadcast(thr), "source").select(
        "doc_id",
        "source",
        "quality_score",
        "src_p10",
        (F.col("quality_score") >= F.col("src_p10")).alias("kept"),
    )
