"""Round-4 surface: stream-stream joins, VARIANT JSON, error-safe
``try_`` scalar family, DSIR importance weights, Z-order layout keys,
SemDeDup semantic dedup.

Every query here is driver-oracle-checked (exact rows+schema+hash vs
DuckDB) — the determinism strategies are the repo conventions: exact
integer arithmetic for hashes/keys (portable base-31 fold, Morton bit
interleave), quantized-integer sums for anything accumulated in
parallel (DSIR micro-nats), and the shared left-fold double dot
product for cosines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wren_engine_spark.operators import layout, selection, similarity, text
from wren_engine_spark.queries.io import load_tables
from wren_engine_spark.queries.registry import register

_WS = r"[ \t\n\x0B\f\r]+"

# ---------------------------------------------------------------------------
# t10: watermarked stream-stream interval join (attribution)
# ---------------------------------------------------------------------------


@register(
    "t10_stream_stream_join",
    """
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id AS user_id, a.ts AS click_ts, b.ts AS purchase_ts,
           b.value AS purchase_value
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE
    """,
)
def t10(spark: SparkSession, sf: str) -> DataFrame:
    """STREAM-STREAM inner join with event-time interval bounds and
    watermarks on both sides (streaming/ops.stream_stream_interval_join):
    every 'click' matched to same-user 'purchase' events within 60
    minutes. The two-sided time bound is what lets Spark evict join
    state as watermarks advance — state is bounded by (watermark +
    interval) traffic, not stream length — and inner-join emission is
    immediate, so the availableNow replay equals the batch join the
    oracle runs. Parity: reference is batch-only; this is the streaming
    twin of the a3 as-of/attribution family."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from wren_engine_spark.streaming.ops import (
        run_available_now,
        stream_stream_interval_join,
    )

    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    def src():
        s = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf)
        )
        if dict((f.name, f.dataType.simpleString()) for f in schema.fields).get("ts") == "bigint":
            s = s.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ).cast("timestamp"),
            )
        return s

    clicks = src().filter(F.col("event_type") == "click")
    purchases = src().filter(F.col("event_type") == "purchase")
    joined = stream_stream_interval_join(
        clicks, purchases, "user_id", "ts", "ts", "60 minutes", "2 hours"
    )
    out = joined.select(
        F.col("event_id_l").alias("click_id"),
        F.col("event_id_r").alias("purchase_id"),
        F.col("user_id_l").alias("user_id"),
        F.col("ts_l").alias("click_ts"),
        F.col("ts_r").alias("purchase_ts"),
        F.col("value_r").alias("purchase_value"),
    )
    res = run_available_now(spark, out, "t10_stream_sink", "append")
    return res.select(
        "click_id",
        "purchase_id",
        "user_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "purchase_value",
    )


# ---------------------------------------------------------------------------
# f6: VARIANT semi-structured JSON (Spark 4 native type)
# ---------------------------------------------------------------------------


@register(
    "f6_variant_json",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.missing') AS VARCHAR) AS missing_val,
           event_type AS rt_event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) % 7 AS k_mod
    FROM events
    WHERE event_id < 500
    """,
)
def f6(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured JSON through Spark's native VARIANT type
    (parse_json / variant_get / try_parse_json — the engine-native
    binary JSON path, Spark 4's answer to the reference's JSON
    functions, ibis-server/app routers' json_extract surface). The
    round-trip column re-encodes a struct with to_json and pulls a
    nested path back out of the VARIANT, proving typed extraction; the
    oracle states the same results with DuckDB's JSON natives. VARIANT
    beats string re-parsing at scale: parse once, shred to columnar
    binary, every variant_get is a pointer chase instead of a text
    scan."""
    load_tables(spark, sf, "events")
    return spark.sql(
        """
        SELECT event_id,
               variant_get(parse_json(props), '$.k', 'bigint') AS k,
               variant_get(try_parse_json(props), '$.missing', 'string') AS missing_val,
               variant_get(
                 parse_json(to_json(named_struct('meta',
                   named_struct('event_type', event_type, 'k',
                     variant_get(parse_json(props), '$.k', 'bigint'))))),
                 '$.meta.event_type', 'string') AS rt_event_type,
               variant_get(parse_json(props), '$.k', 'bigint') % 7 AS k_mod
        FROM events
        WHERE event_id < 500
        """
    )


# ---------------------------------------------------------------------------
# f7: error-safe try_* scalar family
# ---------------------------------------------------------------------------


@register(
    "f7_try_functions",
    """
    SELECT c_custkey,
           CASE WHEN c_custkey % 3 = 0 THEN NULL
                ELSE c_acctbal / CAST(c_custkey % 3 AS DOUBLE) END AS safe_div,
           TRY_CAST(substr(c_name, -4) AS BIGINT) AS name_tail_num,
           TRY_CAST(c_mktsegment AS BIGINT) AS seg_num,
           string_split(c_name, '#')[5] AS part5,
           CASE WHEN c_custkey > 1 THEN NULL
                ELSE 9223372036854775807 * c_custkey END AS overflow_mul
    FROM customer
    WHERE c_custkey <= 300
    """,
)
def f7(spark: SparkSession, sf: str) -> DataFrame:
    """ANSI-mode error-safe scalar family: try_divide / try_cast /
    try_element_at / try_multiply return NULL instead of raising — the
    engine-native equivalent of the reference's fault-tolerant casts
    (wren-core type coercion returns errors as SQL nulls on lossy
    casts). The oracle spells each as the explicit guard it encodes
    (division-by-zero, unparsable cast, out-of-range index, int64
    overflow)."""
    load_tables(spark, sf, "customer")
    return spark.sql(
        """
        SELECT c_custkey,
               try_divide(c_acctbal, CAST(c_custkey % 3 AS DOUBLE)) AS safe_div,
               try_cast(substr(c_name, -4) AS BIGINT) AS name_tail_num,
               try_cast(c_mktsegment AS BIGINT) AS seg_num,
               try_element_at(split(c_name, '#'), 5) AS part5,
               try_multiply(9223372036854775807L, c_custkey) AS overflow_mul
        FROM customer
        WHERE c_custkey <= 300
        """
    )


# ---------------------------------------------------------------------------
# x48: DSIR importance-resampling weights
# ---------------------------------------------------------------------------

_DSIR_B = 1024
_DSIR_MICRO = 1_000_000

_DSIR_HASH = """list_reduce(list_prepend(CAST(0 AS BIGINT),
    [CAST(ascii(substr(bg, CAST(i AS INTEGER), 1)) AS BIGINT)
     FOR i IN generate_series(1, length(bg))]),
    (acc, c) -> (acc * 31 + c) % 2147483647)"""


@register(
    "x48_dsir_importance",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '{_WS}') AS t
      FROM documents
    ),
    occ AS (
      SELECT doc_id, ({_DSIR_HASH}) % {_DSIR_B} AS bucket
      FROM toks, LATERAL unnest(
        [t[i] || ' ' || t[i+1] FOR i IN generate_series(1, len(t) - 1)]
      ) AS u(bg)
      WHERE len(t) >= 2
    ),
    tgt AS (
      SELECT o.doc_id, o.bucket FROM occ o
      JOIN documents d ON o.doc_id = d.doc_id WHERE d.lang = 'en'
    ),
    nr AS (SELECT bucket, COUNT(*) AS n_r FROM occ GROUP BY bucket),
    nt AS (SELECT bucket, COUNT(*) AS n_t FROM tgt GROUP BY bucket),
    tot AS (SELECT (SELECT COUNT(*) FROM occ) AS tr,
                   (SELECT COUNT(*) FROM tgt) AS tt),
    lr AS (
      SELECT g.b AS bucket,
             CAST(ROUND({_DSIR_MICRO} * (
               ln((COALESCE(nt.n_t, 0) + 1) / (tot.tt + {_DSIR_B}.0))
             - ln((COALESCE(nr.n_r, 0) + 1) / (tot.tr + {_DSIR_B}.0))
             )) AS BIGINT) AS qlr
      FROM (SELECT unnest(generate_series(0, {_DSIR_B - 1})) AS b) g
      CROSS JOIN tot
      LEFT JOIN nr ON nr.bucket = g.b
      LEFT JOIN nt ON nt.bucket = g.b
    )
    SELECT o.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(lr.qlr) AS DOUBLE) / {_DSIR_MICRO} AS weight
    FROM occ o JOIN lr ON o.bucket = lr.bucket
    GROUP BY o.doc_id
    """,
)
def x48(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): hashed-bigram
    log-likelihood ratio of a target domain (lang='en') vs the raw
    corpus, per document — the standard importance-resampling score
    for pretraining-data selection. Global model state is two
    1024-bucket count tables (broadcastable at any corpus size);
    per-doc weights are exact integer micro-nat sums, so 1000
    executors combining partials in any order produce the identical
    result the oracle computes. operators/selection.py."""
    d = load_tables(spark, sf, "documents")["documents"]
    return selection.dsir_importance_weights(
        d, F.col("lang") == "en", "text", "doc_id", _DSIR_B, _DSIR_MICRO
    )


# ---------------------------------------------------------------------------
# x49: Z-order (Morton) clustering key
# ---------------------------------------------------------------------------

_Z_BITS = 16


def _z_oracle_expr() -> str:
    """DuckDB expression computing the identical Morton interleave:
    bit i of column j -> output bit i*2 + j, inputs mod 2^16."""
    terms = []
    for j, c in enumerate(("ck", "ed")):
        for i in range(_Z_BITS):
            terms.append(f"((({c} >> {i}) & 1) << {i * 2 + j})")
    return " | ".join(terms)


@register(
    "x49_zorder_key",
    f"""
    WITH q AS (
      SELECT o_orderkey,
             o_custkey % {1 << _Z_BITS} AS ck,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               % {1 << _Z_BITS} AS ed
      FROM orders WHERE o_orderkey <= 2000
    )
    SELECT o_orderkey, CAST({_z_oracle_expr()} AS BIGINT) AS zkey FROM q
    """,
)
def x49(spark: SparkSession, sf: str) -> DataFrame:
    """Morton Z-order clustering key over (customer, order-day) — the
    multi-dimensional layout key behind Delta/Iceberg OPTIMIZE ZORDER,
    computed with exact bit-interleave arithmetic (layout.zorder_key)
    so the oracle reproduces every key bit-for-bit. Pair with
    layout.zorder_write (range-partition + sort on zkey) so parquet
    min/max stats skip files/row-groups for predicates on EITHER
    dimension; pytest (test_layout) measures the per-file range
    shrinkage vs an unsorted layout."""
    o = load_tables(spark, sf, "orders")["orders"]
    q = o.filter(F.col("o_orderkey") <= 2000).select(
        "o_orderkey",
        F.col("o_custkey").alias("ck"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).alias("ed"),
    )
    return layout.zorder_key(q, ["ck", "ed"], _Z_BITS).select(
        "o_orderkey", F.col("zkey").cast("bigint").alias("zkey")
    )


# ---------------------------------------------------------------------------
# x50: SemDeDup semantic deduplication
# ---------------------------------------------------------------------------

_SD_BITS = 4
_SD_TAU = 0.35

_SD_CLUSTER = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(_SD_BITS)
)

_SD_NORM2 = (
    "list_reduce(list_prepend(0.0, [CAST(x AS DOUBLE)*CAST(x AS DOUBLE) "
    "FOR x IN embedding]), (acc, v) -> acc + v)"
)


@register(
    "x50_semantic_dedup",
    f"""
    WITH base AS (
      SELECT vec_id, embedding,
             CAST({_SD_CLUSTER} AS INTEGER) AS cluster_id,
             {_SD_NORM2} AS norm2
      FROM embeddings
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM base a JOIN base b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE ROUND(
        list_reduce(list_prepend(0.0, [CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)
            FOR s IN list_zip(a.embedding, b.embedding)]), (acc, v) -> acc + v)
        / (sqrt(a.norm2) * sqrt(b.norm2)), 6) >= {_SD_TAU}
    )
    SELECT base.vec_id, base.cluster_id,
           (d.vec_id IS NULL) AS kept
    FROM base LEFT JOIN dropped d ON base.vec_id = d.vec_id
    """,
)
def x50(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, keep
    one representative per within-cluster cosine neighborhood
    (similarity.semantic_dedup). Deterministic sign-bit clustering
    stands in for k-means so the whole operator is oracle-checkable;
    the keep rule (drop any vector with a >= tau neighbor of smaller
    id) matches the paper's one-per-neighborhood semantics. One
    cluster-key shuffle; within-cluster cost bounded by the
    prefix_bits knob."""
    e = load_tables(spark, sf, "embeddings")["embeddings"]
    return similarity.semantic_dedup(
        e, "vec_id", "embedding", _SD_TAU, _SD_BITS
    )


# ---------------------------------------------------------------------------
# x51: real audio (WAV/PCM) decode
# ---------------------------------------------------------------------------


@register(
    "x51_audio_decode",
    """
    WITH n AS (
      SELECT doc_id, GREATEST(n_chars, 1) AS ns FROM documents
    ),
    sums AS (
      SELECT doc_id, ns,
             list_sum([CAST((doc_id * 37 + j * 7919) % 65536 - 32768 AS BIGINT)
                       FOR j IN generate_series(0, ns - 1)]) AS tot,
             list_sum([CAST(((doc_id * 37 + j * 7919) % 65536 - 32768)
                          * ((doc_id * 37 + j * 7919) % 65536 - 32768) AS BIGINT)
                       FOR j IN generate_series(0, ns - 1)]) AS sq
      FROM n
    )
    SELECT doc_id,
           CAST(44 + 2 * ns AS BIGINT) AS n_bytes,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(ns AS BIGINT) AS n_samples,
           CAST(ns AS DOUBLE) / 8000.0 AS duration_s,
           CAST(tot AS DOUBLE) / CAST(ns AS DOUBLE) AS mean_amp,
           sqrt(CAST(sq AS DOUBLE) / CAST(ns AS DOUBLE)) AS rms_amp,
           'wav' AS status
    FROM sums
    """,
)
def x51(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio decode end-to-end, the WAV twin of x12's BMP path:
    each document is rendered as a genuine mono 16-bit PCM WAV file
    (RIFF + fmt + data chunks, operators/multimodal.encode_wav), then
    decode_wav parses the actual bytes — container magic, chunk walk,
    PCM format validation, int16 sample vector — and emits amplitude
    statistics. The sample pattern is doc_id-keyed modular arithmetic,
    so the oracle re-derives the exact mean/RMS the decoder must
    measure. Narrow Arrow-batched maps, no shuffle."""
    from wren_engine_spark.operators import multimodal

    d = load_tables(spark, sf, "documents")["documents"]
    src = d.select(
        "doc_id", F.greatest(F.col("n_chars"), F.lit(1)).alias("n_samples")
    )
    wavs = multimodal.encode_wav(src, "doc_id", "n_samples")
    return multimodal.decode_wav(wavs)


# ---------------------------------------------------------------------------
# x52: bigram-LM cross-entropy (CCNet-style quality signal)
# ---------------------------------------------------------------------------


@register(
    "x52_lm_cross_entropy",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '{_WS}') AS t
      FROM documents
    ),
    occ AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 2
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM occ GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
    v AS (SELECT COUNT(*) AS vocab FROM c1),
    logp AS (
      SELECT c12.w1, c12.w2,
             CAST(ROUND(-1000000 * ln(
               (c12.c12 + 1) / CAST(c1.c1 + v.vocab AS DOUBLE)
             )) AS BIGINT) AS qnll
      FROM c12 JOIN c1 ON c12.w1 = c1.w1 CROSS JOIN v
    )
    SELECT o.doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(l.qnll) AS DOUBLE) / (COUNT(*) * 1000000.0) AS cross_entropy
    FROM occ o JOIN logp l ON o.w1 = l.w1 AND o.w2 = l.w2
    GROUP BY o.doc_id
    """,
)
def x52(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style LM-quality signal (Wenzek et al. 2020): per-document
    cross-entropy under an add-one-smoothed bigram LM trained on the
    corpus (operators/selection.bigram_lm_cross_entropy). Low = fluent
    head-like text, high = tail/noise — the standard perplexity
    bucketing signal for pretraining curation. Quantized micro-nat
    sums make the parallel aggregation order-independent and the
    oracle bit-exact."""
    d = load_tables(spark, sf, "documents")["documents"]
    return selection.bigram_lm_cross_entropy(d, "text", "doc_id")


# ---------------------------------------------------------------------------
# x53: Gopher rule-based quality filter
# ---------------------------------------------------------------------------


@register(
    "x53_gopher_rules",
    f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '{_WS}')) AS BIGINT) AS n_words,
             CAST(length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]', '', 'g')) AS DOUBLE)
               / CAST(len(string_split_regex(trim(text), '{_WS}')) AS DOUBLE) AS mean_word_len,
             CAST(len(list_filter(string_split_regex(trim(text), '{_WS}'),
                                  w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
             CAST(len(list_distinct(regexp_extract_all(lower(text),
                  '\\b(the|a|an|and|of|to|in|is|it|that)\\b', 1))) AS BIGINT) AS n_stopword_kinds
      FROM documents
    )
    SELECT doc_id, n_words, mean_word_len,
           CAST(alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS alpha_word_ratio,
           n_stopword_kinds,
           (n_words >= 30 AND n_words <= 100000) AS ok_word_count,
           (mean_word_len >= 3.0 AND mean_word_len <= 4.5) AS ok_mean_word_len,
           (CAST(alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8) AS ok_alpha_ratio,
           (n_stopword_kinds >= 2) AS ok_stopwords,
           ((n_words >= 30 AND n_words <= 100000)
            AND (mean_word_len >= 3.0 AND mean_word_len <= 4.5)
            AND (CAST(alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8)
            AND (n_stopword_kinds >= 2)) AS keep
    FROM s
    """,
)
def x53(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021 §A1.1, the
    repetition-free subset for single-block docs): word count band,
    mean-word-length band, alphabetic-word ratio, distinct-stopword
    floor, and the conjunction as keep. Pure whole-stage-codegen
    expressions — one narrow pass, no shuffle (operators/
    text.gopher_quality_flags)."""
    d = load_tables(spark, sf, "documents")["documents"]
    return text.gopher_quality_flags(d, "text", "doc_id")


# ---------------------------------------------------------------------------
# x54: curation provenance (per-doc audit trail)
# ---------------------------------------------------------------------------

_X54_STOP = r"\b(the|a|an|and|of|to|in|is|it|that)\b"
_X54_ES = r"\b(el|la|los|las|que|de|y|en|un|una|es)\b"
_X54_DE = r"\b(der|die|das|und|ist|nicht|mit|ein|eine|zu)\b"
_X54_FR = r"\b(le|les|des|est|et|dans|pour|que|une|du)\b"
_X54_ZH = r"[一-鿿]"


@register(
    "x54_curation_provenance",
    f"""
    WITH s AS (
      SELECT doc_id, lang, md5(text) AS fp,
             CAST(len(string_split_regex(trim(text), '{_WS}')) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text, '[A-Za-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS punct_ratio,
             CAST(len(regexp_extract_all(lower(text), '{_X54_STOP}')) AS DOUBLE)
               / CAST(len(string_split_regex(trim(text), '{_WS}')) AS DOUBLE) AS stopword_ratio,
             len(regexp_extract_all(lower(text), '{_X54_ES}')) AS es,
             len(regexp_extract_all(lower(text), '{_X54_DE}')) AS de,
             len(regexp_extract_all(lower(text), '{_X54_FR}')) AS fr,
             len(regexp_extract_all(text, '{_X54_ZH}')) AS zh,
             CAST(length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]', '', 'g')) AS DOUBLE)
               / CAST(len(string_split_regex(trim(text), '{_WS}')) AS DOUBLE) AS mean_wl,
             CAST(len(list_filter(string_split_regex(trim(text), '{_WS}'),
                                  w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
               / CAST(len(string_split_regex(trim(text), '{_WS}')) AS DOUBLE) AS alpha_ratio,
             len(list_distinct(regexp_extract_all(lower(text), '{_X54_STOP}', 1))) AS stop_kinds
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, fp,
             ROUND(0.4 * LEAST(stopword_ratio * 4.0, 1.0)
                 + 0.4 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 1000 THEN 1.0 ELSE 0.0 END)
                 + 0.2 * (1.0 - LEAST(punct_ratio * 5.0, 1.0)), 6) AS quality_score,
             CASE WHEN zh > 0 THEN 'zh'
                  WHEN es > de AND es > fr AND es > 0 THEN 'es'
                  WHEN de > fr AND de > 0 THEN 'de'
                  WHEN fr > 0 THEN 'fr'
                  ELSE 'en' END AS lang_pred,
             (n_tokens >= 30 AND n_tokens <= 100000
              AND mean_wl >= 3.0 AND mean_wl <= 4.5
              AND alpha_ratio >= 0.8 AND stop_kinds >= 2) AS gopher_ok
      FROM s
    ),
    rep AS (SELECT fp, MIN(doc_id) AS rep_id FROM scored GROUP BY fp),
    flags AS (
      SELECT sc.doc_id, sc.quality_score, sc.lang_pred,
             (sc.doc_id <> r.rep_id) AS flag_duplicate,
             (sc.lang_pred <> sc.lang) AS flag_lang_mismatch,
             (sc.quality_score < 0.5) AS flag_quality,
             (NOT sc.gopher_ok) AS flag_gopher
      FROM scored sc JOIN rep r ON sc.fp = r.fp
    )
    SELECT doc_id, quality_score, lang_pred,
           flag_duplicate, flag_lang_mismatch, flag_quality, flag_gopher,
           NOT (flag_duplicate OR flag_lang_mismatch OR flag_quality OR flag_gopher) AS kept,
           CASE WHEN flag_duplicate THEN 'duplicate'
                WHEN flag_lang_mismatch THEN 'lang_mismatch'
                WHEN flag_quality THEN 'quality'
                WHEN flag_gopher THEN 'gopher'
                ELSE NULL END AS reject_reason
    FROM flags
    """,
)
def x54(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document curation audit trail (Dolma-toolkit attribute
    shape): one flag per filter (exact-dup, lang mismatch, quality,
    Gopher rules), the first-firing reject reason, and the keep
    verdict — row-level explainability for a curation run. All signals
    but dedup are row-local codegen expressions in one narrow pass;
    the fingerprint representative join is the single shuffle
    (operators/text.curation_provenance)."""
    d = load_tables(spark, sf, "documents")["documents"]
    return text.curation_provenance(d, "text", "doc_id", "lang")


# ---------------------------------------------------------------------------
# x55: IVF probe with seeded centroids — the bit-exact portable twin of
# x14's trained-kmeans IVF (the x42/x43 pattern: the probing machinery
# proven in isolation; x14 now trains via quantized Lloyd and is
# oracle-checked end-to-end)
# ---------------------------------------------------------------------------

_X55_NLIST = 16
_X55_NPROBE = 2
_X55_K = 5

_X55_D2 = (
    "list_reduce(list_prepend(0.0, [(CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
    " * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
    " FOR s IN list_zip({a}, {b})]), (acc, v) -> acc + v)"
)

_X55_DOT = (
    "list_reduce(list_prepend(0.0, [CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)"
    " FOR s IN list_zip({a}, {b})]), (acc, v) -> acc + v)"
)


@register(
    "x55_ivf_probe_portable",
    f"""
    WITH cents AS (
      SELECT vec_id AS i, embedding AS c FROM embeddings WHERE vec_id < {_X55_NLIST}
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
      ) WHERE rn <= {_X55_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_X55_DOT.format(a='p.qe', b='a.embedding')}
               / (sqrt({_X55_DOT.format(a='p.qe', b='p.qe')})
                  * sqrt({_X55_DOT.format(a='a.embedding', b='a.embedding')})) AS sim
      FROM probes p JOIN assigned a ON p.list_id = a.list_id
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(sim, 6) AS cosine_sim, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {_X55_K}
    """,
)
def x55(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-Flat probing with SEEDED centroids (the first nlist vectors
    by id) — the bit-exact portable twin of x14's trained-kmeans IVF:
    identical assignment (argmin L2, lowest-index ties), probe
    selection (nprobe nearest lists), inverted-list join and
    exact-cosine top-k code path (similarity.ivf_topk), but with
    centroids any engine can re-derive without training. x14 composes
    this same probe path with the one integer Lloyd trainer (x85's
    kmeans_quantized), making trained IVF oracle-checked end-to-end
    too."""
    e = load_tables(spark, sf, "embeddings")["embeddings"]
    cents = [
        [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id") < _X55_NLIST)
        .orderBy("vec_id")
        .collect()
    ]
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return similarity.ivf_topk(
        e, "vec_id", "embedding", queries, cents, k=_X55_K, nprobe=_X55_NPROBE
    )


# ---------------------------------------------------------------------------
# x56: near-dup cross-corpus decontamination (portable simhash)
# ---------------------------------------------------------------------------

from wren_engine_spark.queries.llmops3 import _PORTABLE_SIMHASH_CTES  # noqa: E402


@register(
    "x56_neardup_decontamination",
    f"""
    WITH {_PORTABLE_SIMHASH_CTES},
    -- t starts from documents (left join to sig), NOT from sig: the
    -- operator emits a row for every test doc, including empty /
    -- whitespace-only docs that have no tokens and hence no simhash
    -- (NULL simhash never matches the Hamming join, so they come out
    -- n=0 / contaminated=false, same as the operator's left join)
    t AS (SELECT d.doc_id, s.simhash
          FROM documents d LEFT JOIN sig s ON d.doc_id = s.doc_id
          WHERE d.doc_id < 50),
    r AS (SELECT doc_id, simhash FROM sig WHERE doc_id >= 50),
    hits AS (
      SELECT t.doc_id, COUNT(*) AS n
      FROM t JOIN r ON bit_count(xor(t.simhash, r.simhash)) <= 3
      GROUP BY t.doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_near_dup_train,
           (COALESCE(h.n, 0) > 0) AS contaminated
    FROM t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
)
def x56(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy test-set decontamination: count TRAINING docs within
    Hamming<=3 of each eval doc's portable simhash via lossless
    pigeonhole banding across corpora (dedup.simhash_cross_contamination
    — the near-dup complement of x26's exact n-gram leakage check). The
    oracle is the brute-force cross-corpus Hamming filter, so the
    driver hash-checks the banding theorem on the cross-join case too.
    Eval set = doc_id < 50, train = the rest."""
    from wren_engine_spark.operators import dedup as dd

    d = load_tables(spark, sf, "documents")["documents"]
    test_df = d.filter(F.col("doc_id") < 50)
    train_df = d.filter(F.col("doc_id") >= 50)
    return dd.simhash_cross_contamination(test_df, train_df, "text", "doc_id")


# ---------------------------------------------------------------------------
# p4/j3/f8: round-4 relational-surface breadth (UNPIVOT, LATERAL,
# GROUP BY ALL — Spark 4 SQL features with direct DuckDB twins)
# ---------------------------------------------------------------------------


@register(
    "p4_unpivot",
    """
    WITH wide AS (
      SELECT o_orderstatus,
             COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urgent,
             COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS high,
             COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS medium
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, priority, n_orders
    FROM wide UNPIVOT (n_orders FOR priority IN (urgent, high, medium))
    """,
)
def p4(spark: SparkSession, sf: str) -> DataFrame:
    """UNPIVOT (wide -> long), the inverse of the p1 pivot — Spark's
    native unpivot/stack (reference: DataFusion unnest/stack family).
    Oracle is DuckDB's UNPIVOT of the identically-built wide table."""
    o = load_tables(spark, sf, "orders")["orders"]
    pr = F.col("o_orderpriority")
    wide = o.groupBy("o_orderstatus").agg(
        F.count(F.when(pr == "1-URGENT", 1)).alias("urgent"),
        F.count(F.when(pr == "2-HIGH", 1)).alias("high"),
        F.count(F.when(pr == "3-MEDIUM", 1)).alias("medium"),
    )
    return wide.unpivot(
        ["o_orderstatus"], ["urgent", "high", "medium"], "priority", "n_orders"
    )


@register(
    "j3_lateral_topn",
    """
    SELECT n.n_name AS nation, t.c_custkey, t.c_acctbal
    FROM nation n,
         LATERAL (
           SELECT c_custkey, c_acctbal FROM customer c
           WHERE c.c_nationkey = n.n_nationkey
           ORDER BY c_acctbal DESC, c_custkey
           LIMIT 3
         ) t
    """,
)
def j3(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated LATERAL subquery join — top-3 customers by balance
    PER nation via a lateral per-row subquery (the SQL-standard
    alternative to a window-rank; reference supports lateral through
    DataFusion). Spark plans this as a ranked window or lateral join —
    either way no cartesian product."""
    load_tables(spark, sf, "nation", "customer")
    return spark.sql(
        """
        SELECT n.n_name AS nation, t.c_custkey, t.c_acctbal
        FROM nation n,
             LATERAL (
               SELECT c_custkey, c_acctbal FROM customer c
               WHERE c.c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_custkey
               LIMIT 3
             ) t
        """
    )


@register(
    "f8_group_by_all",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ALL
    """,
)
def f8(spark: SparkSession, sf: str) -> DataFrame:
    """GROUP BY ALL (infer grouping keys from the non-aggregate select
    list) — identical modern-SQL shorthand in Spark 4 and DuckDB."""
    load_tables(spark, sf, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY ALL
        """
    )


# ---------------------------------------------------------------------------
# x57: deterministic weight-proportional sampling
# ---------------------------------------------------------------------------


@register(
    "x57_weighted_sample",
    """
    WITH tot AS (
      SELECT CAST(SUM(n_chars) AS BIGINT) AS t, COUNT(*) AS c FROM documents
    ),
    thr AS (
      SELECT d.doc_id, CAST(d.n_chars AS DOUBLE) AS weight,
             LEAST(CAST(1000000 AS BIGINT),
                   CAST(ROUND(CAST(d.n_chars AS DOUBLE) * tot.c * 300000.0 / tot.t)
                        AS BIGINT)) AS threshold
      FROM documents d CROSS JOIN tot
    )
    SELECT doc_id, weight, threshold,
           ((doc_id * 31 + 42) % 2147483647) * ((doc_id * 48271 + 49) % 2147483647)
             % 1000000 < threshold AS sampled
    FROM thr
    """,
)
def x57(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weight-proportional Bernoulli sampling
    (selection.weighted_sample): inclusion probability follows the
    document weight (here n_chars — token-mass-proportional), decided
    by pure integer hash arithmetic, so the same rows are sampled on
    every engine, run and partitioning — unlike df.sample(), which is
    weightless and layout-dependent. Exact corpus totals (integer sum)
    keep the rounding boundary engine-stable."""
    d = load_tables(spark, sf, "documents")["documents"]
    return selection.weighted_sample(d, "n_chars", "doc_id", rate=0.3)


# ---------------------------------------------------------------------------
# x58: end-to-end curation capstone (provenance -> sample -> stats)
# ---------------------------------------------------------------------------


@register(
    "x58_curation_end_to_end",
    f"""
    WITH s AS (
      SELECT doc_id, lang, source, md5(text) AS fp,
             CAST(len(string_split_regex(trim(text), '{_WS}')) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text, '[A-Za-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS punct_ratio,
             CAST(len(regexp_extract_all(lower(text), '{_X54_STOP}')) AS DOUBLE)
               / CAST(len(string_split_regex(trim(text), '{_WS}')) AS DOUBLE) AS stopword_ratio,
             len(regexp_extract_all(lower(text), '{_X54_ES}')) AS es,
             len(regexp_extract_all(lower(text), '{_X54_DE}')) AS de,
             len(regexp_extract_all(lower(text), '{_X54_FR}')) AS fr,
             len(regexp_extract_all(text, '{_X54_ZH}')) AS zh,
             n_chars
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, source, fp, n_tokens, n_chars,
             ROUND(0.4 * LEAST(stopword_ratio * 4.0, 1.0)
                 + 0.4 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 1000 THEN 1.0 ELSE 0.0 END)
                 + 0.2 * (1.0 - LEAST(punct_ratio * 5.0, 1.0)), 6) AS q,
             CASE WHEN zh > 0 THEN 'zh'
                  WHEN es > de AND es > fr AND es > 0 THEN 'es'
                  WHEN de > fr AND de > 0 THEN 'de'
                  WHEN fr > 0 THEN 'fr'
                  ELSE 'en' END AS lang_pred
      FROM s
    ),
    rep AS (SELECT fp, MIN(doc_id) AS rep_id FROM scored GROUP BY fp),
    kept AS (
      SELECT sc.* FROM scored sc JOIN rep r ON sc.fp = r.fp
      WHERE sc.doc_id = r.rep_id AND sc.lang_pred = sc.lang AND sc.q >= 0.5
    ),
    tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS t, COUNT(*) AS c FROM kept),
    sampled AS (
      SELECT k.* FROM kept k CROSS JOIN tot
      WHERE ((k.doc_id * 31 + 42) % 2147483647)
            * ((k.doc_id * 48271 + 49) % 2147483647) % 1000000
          < LEAST(CAST(1000000 AS BIGINT),
                  CAST(ROUND(CAST(k.n_chars AS DOUBLE) * tot.c * 500000.0 / tot.t)
                       AS BIGINT))
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(CAST(q AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
             AS avg_quality
    FROM sampled GROUP BY source
    """,
)
def x58(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end curation CAPSTONE composing the round-4 selection
    stack exactly as a production pipeline would: per-doc provenance
    flags (keep = not duplicate / lang match / quality >= 0.5,
    operators/text.curation_provenance) -> deterministic
    length-proportional sampling at rate 0.5 (selection.weighted_sample)
    -> per-source corpus statistics. Every stage is the same
    oracle-checked operator registered standalone (x54/x57), so the
    composition is verified end-to-end too — the 'switch your pipeline
    to this engine' proof the north-star asks for. Gopher flags are
    intentionally excluded here: the capstone mirrors the x23 quality
    bar (q >= 0.5) so x23/x54/x58 stay mutually consistent."""
    d = load_tables(spark, sf, "documents")["documents"]
    prov = text.curation_provenance(d, "text", "doc_id", "lang")
    kept_ids = prov.filter(
        ~F.col("flag_duplicate") & ~F.col("flag_lang_mismatch") & ~F.col("flag_quality")
    ).select("doc_id")
    kept = d.join(kept_ids, "doc_id")
    samp = selection.weighted_sample(kept, "n_chars", "doc_id", rate=0.5)
    chosen = kept.join(samp.filter(F.col("sampled")).select("doc_id"), "doc_id")
    n_tokens = F.size(F.split(F.trim(F.col("text")), _WS)).cast("bigint")
    q = prov.select("doc_id", "quality_score")
    return (
        chosen.withColumn("__nt", n_tokens)
        .join(q, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt").alias("total_tokens"),
            # decimal-exact sum / count: a double AVG depends on partial
            # aggregation order (caught as an intermittent hash flip at
            # the 6th decimal in the round-4 closing sweep)
            F.round(
                F.sum(F.col("quality_score").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_quality"),
        )
    )


# ---------------------------------------------------------------------------
# x59: corpus snapshot diff (incremental-pipeline audit)
# ---------------------------------------------------------------------------


@register(
    "x59_corpus_snapshot_diff",
    """
    WITH old AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 10 = 0 THEN upper(text) ELSE text END) AS fp
      FROM documents WHERE doc_id % 7 <> 0
    ),
    new AS (SELECT doc_id, md5(text) AS fp FROM documents)
    SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.fp <> n.fp THEN 'modified'
                ELSE 'unchanged' END AS status
    FROM new n FULL OUTER JOIN old o ON n.doc_id = o.doc_id
    """,
)
def x59(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus snapshot diff — the audit step between two versions of a
    training corpus: content-fingerprint FULL OUTER join classifying
    every document added / removed / modified / unchanged. One
    fingerprint pass per snapshot + one doc-keyed join; at 100 TB pair
    with incremental_dedup (x30) so re-processing touches only the
    added+modified slice. (Old snapshot simulated deterministically:
    drop doc_id%7==0, uppercase doc_id%10==0.)"""
    d = load_tables(spark, sf, "documents")["documents"]
    old = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 10 == 0, F.upper(F.col("text"))).otherwise(
                F.col("text")
            )
        ).alias("fp"),
    )
    new = d.select("doc_id", F.md5("text").alias("fp"))
    n, o = new.alias("n"), old.alias("o")
    return n.join(o, F.col("n.doc_id") == F.col("o.doc_id"), "full_outer").select(
        F.coalesce(F.col("n.doc_id"), F.col("o.doc_id")).alias("doc_id"),
        F.when(F.col("o.doc_id").isNull(), "added")
        .when(F.col("n.doc_id").isNull(), "removed")
        .when(F.col("o.fp") != F.col("n.fp"), "modified")
        .otherwise("unchanged")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# m5: SCD2 history build (type-2 slowly-changing dimension)
# ---------------------------------------------------------------------------


# SCD2 versioning CTE chain, shared by the m5 oracle and the t12
# point-in-time-join oracle (llmops5).
_SCD2_CTES = """
    ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    ),
    versioned AS (
      SELECT user_id, event_type AS segment, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM changes
    )
"""


@register(
    "m5_scd2_history",
    f"""
    WITH {_SCD2_CTES}
    SELECT user_id, segment, valid_from, valid_to,
           (valid_to IS NULL) AS is_current
    FROM versioned
    """,
)
def m5(spark: SparkSession, sf: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history built from an event
    stream: collapse consecutive equal attribute values into validity
    intervals [valid_from, valid_to) with an is_current flag — the
    standard warehouse dimension-versioning shape (reference serves
    dimensions; this builds their history). Two windows over the
    user key, deterministic tie-break on (ts, event_id); no self-joins."""
    from pyspark.sql import Window as W

    e = load_tables(spark, sf, "events")["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
    )
    # same (ts, event_id) tie-break as the first window: two change
    # rows at an equal timestamp would otherwise make LEAD(ts) —
    # hence valid_to — nondeterministic across engines and runs
    w2 = W.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        F.col("event_type").alias("segment"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


# ---------------------------------------------------------------------------
# x60: RAG indexing capstone — chunk -> embed -> cluster -> nearest chunk
# ---------------------------------------------------------------------------

_X60_BYTES = """
      SELECT doc_id, chunk_id, ck,
             [ (instr('0123456789ABCDEF', h[2*j-1]) - 1) * 16
               + (instr('0123456789ABCDEF', h[2*j]) - 1)
               FOR j IN generate_series(1, length(h) // 2) ] AS b
      FROM (SELECT doc_id, chunk_id, ck, hex(encode(ck)) AS h FROM chunks)
"""

_X60_FEAT = """
      SELECT doc_id, chunk_id,
             [ CAST(list_sum([CASE WHEN (i - 1) % 8 = k THEN b[i] ELSE 0 END
                              FOR i IN generate_series(1, len(b))]) % 97 AS DOUBLE)
               FOR k IN generate_series(0, 7) ] AS f
      FROM bytes
"""


@register(
    "x60_rag_chunk_index",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS t
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, i AS chunk_id,
             array_to_string(t[(i*24+1):(i*24+32)], ' ') AS ck
      FROM (SELECT doc_id, t, unnest(generate_series(0,
              CAST(ceil(greatest(len(t) - 8, 1) / 24.0) AS BIGINT) - 1)) AS i
            FROM toks)
    ),
    bytes AS ("""
    + _X60_BYTES
    + """),
    feats AS ("""
    + _X60_FEAT
    + """),
    base AS (
      SELECT doc_id, chunk_id, f,
             (CASE WHEN f[1] >= 49 THEN 1 ELSE 0 END)
           + (CASE WHEN f[2] >= 49 THEN 2 ELSE 0 END)
           + (CASE WHEN f[3] >= 49 THEN 4 ELSE 0 END)
           + (CASE WHEN f[4] >= 49 THEN 8 ELSE 0 END)
           + (CASE WHEN f[5] >= 49 THEN 16 ELSE 0 END)
           + (CASE WHEN f[6] >= 49 THEN 32 ELSE 0 END) AS cluster_id,
             list_reduce(list_prepend(0.0, [x * x FOR x IN f]), (acc, v) -> acc + v)
               AS norm2
      FROM feats
    ),
    ok AS (SELECT * FROM base WHERE norm2 > 0),
    scored AS (
      SELECT a.doc_id, a.chunk_id,
             b.doc_id AS nn_doc_id, b.chunk_id AS nn_chunk_id,
             list_reduce(list_prepend(0.0, [s[1] * s[2] FOR s IN list_zip(a.f, b.f)]),
                         (acc, v) -> acc + v) / (sqrt(a.norm2) * sqrt(b.norm2)) AS sim
      FROM ok a JOIN ok b
        ON a.cluster_id = b.cluster_id AND a.doc_id <> b.doc_id
    ),
    ranked AS (
      SELECT doc_id, chunk_id, nn_doc_id, nn_chunk_id, sim,
             ROW_NUMBER() OVER (PARTITION BY doc_id, chunk_id
                                ORDER BY sim DESC, nn_doc_id, nn_chunk_id) AS rnk
      FROM scored
    )
    SELECT doc_id, chunk_id, nn_doc_id, nn_chunk_id,
           ROUND(sim, 6) AS cosine_sim
    FROM ranked WHERE rnk = 1
    """,
)
def x60(spark: SparkSession, sf: str) -> DataFrame:
    """RAG indexing pipeline CAPSTONE, oracle-checked end-to-end: slide
    32/8-overlap chunks over every document (text.chunk_with_overlap,
    shuffle-free), embed each chunk with the deterministic byte-feature
    encoder (multimodal.extract_features_stub over the UTF-8 payload —
    the x16 formula, so a real encoder drops in unchanged), partition
    the embedding space into 64 threshold-bit clusters, and return each
    chunk's nearest CROSS-DOCUMENT chunk within its cluster — the
    retrieve-similar-context shape. One cluster-key shuffle; every
    arithmetic step exact, so the oracle reproduces the full
    chunk->embed->cluster->top-1 chain bit-for-bit."""
    from wren_engine_spark.operators import multimodal
    from pyspark.sql import Window as W

    d = load_tables(spark, sf, "documents")["documents"]
    chunks = text.chunk_with_overlap(d, "text", "doc_id", 32, 8)
    pay = chunks.select(
        (F.col("doc_id") * 100000 + F.col("chunk_id")).alias("doc_id"),
        F.encode(F.col("chunk_text"), "utf-8").alias("payload"),
    )
    feats = multimodal.extract_features_stub(pay).select(
        (F.col("doc_id") / 100000).cast("bigint").alias("doc_id"),
        F.pmod(F.col("doc_id"), F.lit(100000)).cast("bigint").alias("chunk_id"),
        F.col("feature").alias("f"),
    )
    cluster = None
    for k in range(6):
        b = F.when(F.element_at(F.col("f"), k + 1) >= 49, F.lit(1 << k)).otherwise(
            F.lit(0)
        )
        cluster = b if cluster is None else cluster + b
    from wren_engine_spark.operators.similarity import _dot_dec, _norm2_dec

    base = feats.select(
        "doc_id",
        "chunk_id",
        "f",
        cluster.cast("int").alias("cluster_id"),
        _norm2_dec("f").alias("norm2"),
    ).filter(F.col("norm2") > 0)
    a = base.select(
        F.col("doc_id"), F.col("chunk_id"), F.col("cluster_id"),
        F.col("f").alias("__fa"), F.col("norm2").alias("__na"),
    )
    b = base.select(
        F.col("doc_id").alias("nn_doc_id"), F.col("chunk_id").alias("nn_chunk_id"),
        F.col("cluster_id"), F.col("f").alias("__fb"), F.col("norm2").alias("__nb"),
    )
    scored = (
        a.join(b, "cluster_id")
        .filter(F.col("doc_id") != F.col("nn_doc_id"))
        .select(
            "doc_id", "chunk_id", "nn_doc_id", "nn_chunk_id",
            (
                _dot_dec("__fa", "__fb")
                / (F.sqrt(F.col("__na")) * F.sqrt(F.col("__nb")))
            ).alias("sim"),
        )
    )
    w = W.partitionBy("doc_id", "chunk_id").orderBy(
        F.col("sim").desc(), "nn_doc_id", "nn_chunk_id"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "doc_id", "chunk_id", "nn_doc_id", "nn_chunk_id",
            F.round("sim", 6).alias("cosine_sim"),
        )
    )


# ---------------------------------------------------------------------------
# x61: per-group exact-k deterministic sample
# ---------------------------------------------------------------------------


@register(
    "x61_per_group_exact_k",
    """
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY (doc_id * 31 + 42) % 2147483647, doc_id
             ) AS rnk
      FROM documents
    )
    SELECT source, doc_id, n_chars, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def x61(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT-k per-group sampling with a deterministic hash order —
    the fixed-quota complement of x22 (hash-mod fraction) and x57
    (weight-proportional Bernoulli): exactly min(k, group size) rows
    per source, identical on every engine/run/layout because the
    'random' order is the portable integer hash of the id. One
    window per group key; at 100 TB groups partition the shuffle and
    k rows per group bound the output."""
    from pyspark.sql import Window as W

    d = load_tables(spark, sf, "documents")["documents"]
    w = W.partitionBy("source").orderBy(
        F.pmod(F.col("doc_id") * 31 + 42, F.lit(2147483647)), "doc_id"
    )
    return (
        d.select("source", "doc_id", "n_chars")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", "doc_id", "n_chars", F.col("rnk").cast("int").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# t11: watermark-bounded streaming dedup (dropDuplicatesWithinWatermark)
# ---------------------------------------------------------------------------


@register(
    "t11_stream_dedup_within_watermark",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def t11(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming dedup with WATERMARK-BOUNDED key state
    (dropDuplicatesWithinWatermark): unlike t6's dropDuplicates —
    whose state grows with every distinct key forever — key state here
    is evicted once the watermark passes it, so an unbounded key space
    (event ids, session tokens) stays bounded by the watermark horizon:
    the 100 TB ingest-dedup primitive. A bounded single-file replay
    drops nothing, so the result equals batch DISTINCT (the oracle);
    the multi-batch eviction path is pytest-covered."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from wren_engine_spark.streaming.ops import run_available_now

    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    if dict((f.name, f.dataType.simpleString()) for f in schema.fields).get("ts") == "bigint":
        src = src.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ).cast("timestamp"),
        )
    out = (
        src.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_available_now(spark, out, "t11_stream_sink", "append")


# ---------------------------------------------------------------------------
# f9: string-similarity scalar functions
# ---------------------------------------------------------------------------


@register(
    "f9_edit_distance",
    """
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_dist,
           (levenshtein(a.c_name, b.c_name) <= 2) AS near_name
    FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
    WHERE a.c_custkey < 200
    """,
)
def f9(spark: SparkSession, sf: str) -> DataFrame:
    """String-similarity scalars (reference: DataFusion levenshtein,
    function/scalar string family): exact edit distance between
    adjacent customer names plus a near-match flag — the scalar
    building block under fuzzy entity matching. Both engines implement
    the same Wagner-Fischer distance."""
    load_tables(spark, sf, "customer")
    return spark.sql(
        """
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist,
               (levenshtein(a.c_name, b.c_name) <= 2) AS near_name
        FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
        WHERE a.c_custkey < 200
        """
    )


# ---------------------------------------------------------------------------
# x62: MinHash estimate accuracy (signature-agreement error bound)
# ---------------------------------------------------------------------------

from wren_engine_spark.queries.llmops import _PAIRS_CTES  # noqa: E402
from wren_engine_spark.operators import dedup as _dedup  # noqa: E402


@register(
    "x62_minhash_estimate_accuracy",
    f"""
    WITH {_PAIRS_CTES}
    SELECT id_a, id_b, jaccard, TRUE AS est_in_bound FROM pairs
    """,
)
def x62(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash ESTIMATE accuracy, driver-verified (the d2 error-bound
    pattern applied to the sketch that drives x4's LSH): for every
    exact >=0.8 trigram-Jaccard pair, the fraction of agreeing minhash
    permutations (k=64) must land within 4 standard errors
    (4*sqrt(j(1-j)/k) ~ 0.2) of the true Jaccard. Sketch values are
    xxhash64-specific; the BOUND is engine-independent, so the oracle
    is the exact pair set plus literal TRUE — a hash-exact assertion
    that the estimator works, not just the candidate generator."""
    d = load_tables(spark, sf, "documents")["documents"]
    exact = _dedup.jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.8)
    sigs = _dedup.minhash_signatures(d, "text", "doc_id", 64, 3)
    sa = sigs.select(
        F.col("doc_id").alias("id_a"), "perm_id", F.col("minhash").alias("__ma")
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"), "perm_id", F.col("minhash").alias("__mb")
    )
    est = (
        exact.join(sa, "id_a")
        .join(sb, ["id_b", "perm_id"])
        .groupBy("id_a", "id_b", "jaccard")
        .agg(
            (
                F.sum(F.when(F.col("__ma") == F.col("__mb"), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("__est")
        )
    )
    bound = 4.0 * F.sqrt(F.col("jaccard") * (1 - F.col("jaccard")) / F.lit(64.0)) + F.lit(0.05)
    return est.select(
        "id_a",
        "id_b",
        "jaccard",
        (F.abs(F.col("__est") - F.col("jaccard")) <= bound).alias("est_in_bound"),
    )
