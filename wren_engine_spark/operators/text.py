"""Text-analysis operators: token stats, quality scoring, language-ID.

All formulas are pure built-in column expressions (whole-stage codegen,
zero Python) and are deliberately SQL-expressible so every operator has
a DuckDB oracle: integer counts divided as doubles — deterministic
across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wren_engine_spark.operators.textnorm import WS_RE

# tiny per-language marker lexicons for the n-gram/stopword heuristic;
# priority order matters and is mirrored in the oracle SQL.
LANG_MARKERS: dict[str, str] = {
    "es": r"\b(el|la|los|las|que|de|y|en|un|una|es)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein|eine|zu)\b",
    "fr": r"\b(le|les|des|est|et|dans|pour|que|une|du)\b",
    "zh": r"[一-鿿]",
}
EN_STOPWORDS = r"\b(the|a|an|and|of|to|in|is|it|that)\b"


def token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc token statistics: (id, n_chars, n_tokens, avg_token_len,
    punct_ratio, stopword_ratio)."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("bigint")
    n_tokens = F.size(F.split(F.trim(t), WS_RE)).cast("bigint")
    non_space = F.length(F.regexp_replace(t, r"[ \t\n\x0B\f\r]", ""))
    punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9 \t\n\x0B\f\r]", ""))
    stop = F.regexp_count(F.lower(t), F.lit(EN_STOPWORDS)).cast("bigint")
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (non_space.cast("double") / n_tokens.cast("double")).alias("avg_token_len"),
        (punct.cast("double") / n_chars.cast("double")).alias("punct_ratio"),
        (stop.cast("double") / n_tokens.cast("double")).alias("stopword_ratio"),
    )


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality score in [0,1]: rewards stopword presence and
    mid-range length, penalizes punctuation soup. Deterministic double
    arithmetic; formula mirrored in the oracle."""
    stats = token_stats(df, text_col, id_col)
    length_ok = F.when((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000), 1.0).otherwise(0.0)
    score = (
        F.lit(0.4) * F.least(F.col("stopword_ratio") * 4.0, F.lit(1.0))
        + F.lit(0.4) * length_ok
        + F.lit(0.2) * (F.lit(1.0) - F.least(F.col("punct_ratio") * 5.0, F.lit(1.0)))
    )
    return stats.select(F.col(id_col), score.alias("quality_score"))


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Marker-lexicon language-ID heuristic. Checks zh (CJK codepoints)
    first, then counts marker hits per language; 'en' is the fallback.
    Returns (id, lang_pred)."""
    low = F.lower(F.col(text_col))
    es = F.regexp_count(low, F.lit(LANG_MARKERS["es"]))
    de = F.regexp_count(low, F.lit(LANG_MARKERS["de"]))
    fr = F.regexp_count(low, F.lit(LANG_MARKERS["fr"]))
    zh = F.regexp_count(F.col(text_col), F.lit(LANG_MARKERS["zh"]))
    pred = (
        F.when(zh > 0, "zh")
        .when((es > de) & (es > fr) & (es > 0), "es")
        .when((de > fr) & (de > 0), "de")
        .when(fr > 0, "fr")
        .otherwise("en")
    )
    return df.select(F.col(id_col), pred.alias("lang_pred"))


# GPT-2-style pretokenizer shape: contractions, letter runs, digit runs,
# punctuation runs (each with optional leading space), whitespace runs.
BPE_PRETOKEN_RE = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+"
    r"| ?[^A-Za-z0-9 \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+"
)


def bpe_token_count(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Pretokenizer-based token counting (the BPE-ish proxy for LLM token
    budgeting): count GPT-2-pretokenizer segments, excluding pure
    whitespace segments; plus whitespace token count and the ratio.
    Pure regexp_count — JVM-side, no Python."""
    t = F.col(text_col)
    total = F.regexp_count(t, F.lit(BPE_PRETOKEN_RE)).cast("bigint")
    ws = F.regexp_count(t, F.lit(WS_RE)).cast("bigint")
    n_ws_tokens = F.size(F.split(F.trim(t), WS_RE)).cast("bigint")
    bpe = (total - ws).alias("n_bpe_tokens")
    return df.select(
        F.col(id_col),
        bpe,
        n_ws_tokens.alias("n_ws_tokens"),
        ((total - ws).cast("double") / n_ws_tokens.cast("double")).alias(
            "bpe_per_ws_token"
        ),
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Single-pass dataset profile: per column, row/null/distinct counts
    and min/max (as strings for type uniformity) — the pre-training
    sanity scan over a corpus table. One aggregation, map-side combined;
    exact distinct counts (swap in approx_count_distinct at the 100 TB
    tier where 2% error is acceptable to avoid the per-column shuffle
    width)."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__{c}_rows"),
            F.coalesce(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)), F.lit(0)
            ).alias(f"__{c}_nulls"),
            F.countDistinct(F.col(c)).alias(f"__{c}_distinct"),
            F.min(F.col(c).cast("string")).alias(f"__{c}_min"),
            F.max(F.col(c).cast("string")).alias(f"__{c}_max"),
        ]
    wide = df.agg(*aggs)
    profile = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__{c}_rows").alias("n_rows"),
                F.col(f"__{c}_nulls").cast("bigint").alias("n_nulls"),
                F.col(f"__{c}_distinct").alias("n_distinct"),
                F.col(f"__{c}_min").alias("min_value"),
                F.col(f"__{c}_max").alias("max_value"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(profile).alias("p")).select("p.*")


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Intra-document repetition signals (the Gopher/Rae et al. family of
    corpus filters): distinct-token ratio and the most frequent token's
    share of the document. Returns (id, n_tokens, distinct_ratio,
    top_token, top_token_frac).

    One explode + two aggregations, both keyed on the doc id (the second
    reuses the first's partitioning — AQE coalesces, no extra wide
    shuffle). The top token is selected with a lexicographic struct max
    (count, then token) so ties are deterministic; the oracle mirrors
    that with ORDER BY cnt DESC, tok DESC."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), WS_RE)).alias("tok"),
    ).filter(F.length("tok") > 0)
    counts = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))
    agg = counts.groupBy(id_col).agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max(F.struct("cnt", "tok")).alias("__top"),
    )
    return agg.select(
        F.col(id_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double")).alias(
            "distinct_ratio"
        ),
        F.col("__top.tok").alias("top_token"),
        (F.col("__top.cnt").cast("double") / F.col("n_tokens").cast("double")).alias(
            "top_token_frac"
        ),
    )


# PII patterns chosen for identical semantics under Java regex (Spark)
# and RE2 (DuckDB): no backrefs, no lookaround.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ip": (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    "phone": (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
}


def pii_scrub(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Regex PII redaction (emails, IPv4, US-style phone numbers) — the
    standard pre-training scrub pass. Applied in fixed order (email, ip,
    phone) so overlapping matches resolve identically everywhere.
    Returns (id, scrubbed, n_emails, n_ips, n_phones) — pure
    regexp_count/regexp_replace, JVM-side, one narrow stage."""
    t = F.col(text_col)
    counts = {
        name: F.regexp_count(t, F.lit(pat)).cast("bigint")
        for name, (pat, _) in PII_PATTERNS.items()
    }
    scrubbed = t
    for pat, repl in PII_PATTERNS.values():
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return df.select(
        F.col(id_col),
        scrubbed.alias("scrubbed"),
        counts["email"].alias("n_emails"),
        counts["ip"].alias("n_ips"),
        counts["phone"].alias("n_phones"),
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF with a rational
    idf: score = tf * (N + 1) / (df + 1). Exact small-integer division
    is correctly rounded in IEEE doubles, so scores are bit-identical
    across engines (no transcendental log in the oracle path). Ranking
    ties break on the token ascending. Returns
    (id, tok, tf, doc_freq, tfidf, rank).

    Shape: explode -> (doc,tok) count -> token doc-freq (map-side
    combined) joined back on token -> per-doc window top-k. The
    doc-freq table is vocabulary-sized (Zipf-small next to the corpus)
    so at scale that join is a broadcast."""
    from pyspark.sql import Window as W

    # N as a broadcast 1-row aggregate instead of a driver-side count:
    # saves a separate full corpus-scan job and keeps the whole score
    # one DAG (identical integer arithmetic)
    nd = F.broadcast(df.agg(F.count(F.lit(1)).alias("__n_docs")))
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), WS_RE)).alias("tok"),
    ).filter(F.length("tok") > 0)
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    docf = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("doc_freq"))
    scored = tf.join(F.broadcast(docf), "tok").crossJoin(nd).select(
        F.col(id_col),
        "tok",
        "tf",
        "doc_freq",
        (
            (F.col("tf") * (F.col("__n_docs") + F.lit(1))).cast("double")
            / (F.col("doc_freq") + 1).cast("double")
        ).alias("tfidf"),
    )
    w = W.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    id_col: str,
    budget: int,
    partition_col: str,
) -> DataFrame:
    """Token-budget sequence packing: group documents into training
    batches of ~``budget`` tokens by contiguous fill — within each
    ``partition_col`` shard, order docs by (tokens desc, id) and cut a
    new batch each time the running total crosses the budget (a doc
    joins the batch its first token lands in, so batches can overrun by
    at most one doc). Returns (partition, id, tokens, batch_id).

    All-integer arithmetic (cumsum + integer division), so batch
    assignment is bit-stable across engines. The window is partitioned
    by the shard column — no global sort, and each shard packs
    independently exactly as a distributed pipeline would pack per
    input split at 100 TB."""
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(partition_col)
        .orderBy(F.col(token_col).desc(), F.col(id_col))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum(token_col).over(w)
    base = df.select(
        F.col(partition_col),
        F.col(id_col),
        F.col(token_col).cast("bigint").alias(token_col),
        (cum - F.col(token_col)).cast("bigint").alias("__start"),
    )
    return base.select(
        partition_col,
        id_col,
        token_col,
        F.expr(f"__start div {budget}").alias("batch_id"),
    )


# Knuth multiplicative constant; the pre-modulus keeps the product well
# inside int64 so ANSI-mode Spark and DuckDB both evaluate it exactly
_DET_SAMPLE_MULT = 2654435761
_DET_SAMPLE_PREMOD = 1000003
_DET_SAMPLE_SCALE = 1_000_000


def deterministic_stratified_sample(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    frac_even_pm: int = 300_000,
    frac_odd_pm: int = 1_000_000,
) -> DataFrame:
    """Content-keyed stratified Bernoulli sample with ENGINE-PORTABLE
    determinism: the keep decision is pure int64 arithmetic on the row
    id (multiplicative hash mod 1e6 compared to the stratum's
    per-million fraction), so any SQL engine reproduces the exact row
    set — unlike ``sampleBy``, whose RNG is partition-layout dependent.

    Strata are ranked by name; even ranks keep ``frac_even_pm``/1e6 of
    rows, odd ranks keep ``frac_odd_pm``/1e6 (the "keep all of rare
    sources, downsample the rest" mixture-control shape with a
    deterministic assignment).

    Scale: the stratum->fraction table is built with a window over the
    DISTINCT strata (source-cardinality rows, single partition — fine:
    domains number in the hundreds, not billions) and broadcast into
    the probe side; the keep filter is a map-side integer predicate, no
    shuffle of the fact table.
    """
    from pyspark.sql import Window as W

    strata = (
        df.select(stratum_col)
        .distinct()
        .withColumn("__rk", F.dense_rank().over(W.orderBy(stratum_col)) - 1)
        .select(
            stratum_col,
            F.when(F.col("__rk") % 2 == 1, F.lit(frac_odd_pm))
            .otherwise(F.lit(frac_even_pm))
            .alias("__frac_pm"),
        )
    )
    key = F.pmod(
        F.pmod(F.col(id_col), F.lit(_DET_SAMPLE_PREMOD)) * F.lit(_DET_SAMPLE_MULT),
        F.lit(_DET_SAMPLE_SCALE),
    )
    return (
        df.join(F.broadcast(strata), stratum_col)
        .filter(key < F.col("__frac_pm"))
        .drop("__frac_pm")
    )


def mixing_weights(
    df: DataFrame, source_col: str, text_col: str
) -> DataFrame:
    """Per-source sampling weights to rebalance a multi-domain corpus to
    a uniform target mix (the static-reweighting step of domain-mixture
    training pipelines; the target vector is uniform here, any target is
    a one-line change). Returns (source, n_docs, n_tokens, doc_share,
    token_share, mix_weight) where mix_weight * doc_share == 1/S.

    One groupBy over the corpus (map-side combinable counts/sums) plus a
    broadcast of the S-row totals — scale-free at 100 TB. Shares are
    single double divisions of exact integers, so every engine computes
    the identical bits.
    """
    n_tokens = F.size(F.split(F.trim(F.col(text_col)), WS_RE)).cast("bigint")
    per = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens).alias("n_tokens"),
    )
    totals = per.agg(
        F.sum("n_docs").alias("__td"),
        F.sum("n_tokens").alias("__tt"),
        F.count(F.lit(1)).alias("__s"),
    )
    return per.crossJoin(F.broadcast(totals)).select(
        source_col,
        "n_docs",
        "n_tokens",
        (F.col("n_docs").cast("double") / F.col("__td").cast("double")).alias("doc_share"),
        (F.col("n_tokens").cast("double") / F.col("__tt").cast("double")).alias("token_share"),
        (
            F.col("__td").cast("double")
            / (F.col("__s") * F.col("n_docs")).cast("double")
        ).alias("mix_weight"),
    )


def length_buckets(
    df: DataFrame, source_col: str, text_col: str, bucket_tokens: int = 64,
    cap: int = 32,
) -> DataFrame:
    """Token-length histogram in fixed-width buckets per source — the
    planning input for sequence packing and length-curriculum sampling.
    Bucket = min(n_tokens div bucket_tokens, cap); pure integer
    arithmetic so the layout is engine-exact. Returns (source, bucket,
    n_docs, min_tokens, max_tokens, sum_tokens). One map-side-combinable
    groupBy; no shuffle beyond it."""
    n_tokens = F.size(F.split(F.trim(F.col(text_col)), WS_RE)).cast("bigint")
    bucket = F.least(
        (n_tokens / bucket_tokens).cast("bigint"), F.lit(cap).cast("bigint")
    )
    return (
        df.select(F.col(source_col), n_tokens.alias("__nt"), bucket.alias("bucket"))
        .groupBy(source_col, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("__nt").alias("min_tokens"),
            F.max("__nt").alias("max_tokens"),
            F.sum("__nt").alias("sum_tokens"),
        )
    )


def chunk_boilerplate_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Fixed-window boilerplate detection (the chunk-level analogue of
    CCNet's cross-document line dedup; reference scope: corpus curation
    beyond wren-engine — SURVEY §2 LLM-ops extensions).

    Each document's token stream is cut into ``chunk_tokens``-token
    windows; a chunk occurring in >= ``min_docs`` DISTINCT documents is
    boilerplate (headers, footers, license blocks). Returns per doc:
    (id, n_chunks, n_boilerplate, boiler_ratio).

    Scale: chunking is map-side (array HOFs, no Python); the frequency
    pass is one map-side-combinable groupBy on the chunk string; the
    boilerplate set (chunks seen in >= min_docs docs) is typically a
    tiny fraction of all chunks, so the indicator join's build side
    shrinks to true-duplicate density. No window functions, no sort.
    """
    toks = F.split(F.trim(F.col(text_col)), WS_RE)
    chunks = (
        df.select(F.col(id_col), toks.alias("__t"))
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"transform(sequence(0, cast(ceil(size(__t) / {chunk_tokens}.0) "
                    f"as int) - 1), i -> concat_ws(' ', slice(__t, "
                    f"i * {chunk_tokens} + 1, {chunk_tokens})))"
                )
            ).alias("__chunk"),
        )
    )
    boiler = (
        chunks.groupBy("__chunk")
        .agg(F.count_distinct(F.col(id_col)).alias("__docs"))
        .filter(F.col("__docs") >= min_docs)
        .select("__chunk", F.lit(1).alias("__b"))
    )
    return (
        chunks.join(boiler, "__chunk", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.coalesce(F.col("__b"), F.lit(0))).cast("bigint").alias("n_boilerplate"),
        )
        .withColumn(
            "boiler_ratio",
            F.col("n_boilerplate").cast("double") / F.col("n_chunks").cast("double"),
        )
    )


def token_novelty(
    df: DataFrame, text_col: str, id_col: str, group_col: str
) -> DataFrame:
    """Vocabulary-growth attribution: how many distinct tokens each
    group (source/domain) INTRODUCES to the corpus, scanning documents
    in ``id_col`` order. A token is introduced by the group of the
    lowest-id document containing it.

    Returns per group: (group, n_tokens_distinct, n_introduced,
    novelty_ratio). High novelty_ratio = the source contributes fresh
    vocabulary; near zero = it repeats what earlier sources covered.

    Scale: one explode + distinct, one min-groupBy on token (map-side
    combinable), one join back on (token, id) — all hash-partitioned by
    token, no windows; deterministic (min over ids, integer counts).
    """
    toks = (
        df.select(
            F.col(id_col).alias("__id"),
            F.col(group_col).alias("__g"),
            F.explode(F.split(F.trim(F.col(text_col)), WS_RE)).alias("__tok"),
        )
        .distinct()
    )
    first = toks.groupBy("__tok").agg(F.min("__id").alias("__first"))
    per_group = toks.groupBy("__g").agg(
        F.count_distinct("__tok").alias("n_tokens_distinct")
    )
    introduced = (
        toks.join(
            first,
            (toks["__tok"] == first["__tok"]) & (toks["__id"] == first["__first"]),
        )
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("n_introduced"))
    )
    return (
        per_group.join(introduced, "__g", "left")
        .select(
            F.col("__g").alias(group_col),
            "n_tokens_distinct",
            F.coalesce("n_introduced", F.lit(0)).cast("bigint").alias("n_introduced"),
            (
                F.coalesce("n_introduced", F.lit(0)).cast("double")
                / F.col("n_tokens_distinct").cast("double")
            ).alias("novelty_ratio"),
        )
    )


def token_rarity(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Unigram-model document scoring (the CCNet/perplexity-filter shape
    with engine-exact arithmetic): fit corpus unigram frequencies, then
    score each document by how rare its tokens are.

    Two scores per doc, both bit-reproducible across engines (no
    transcendental functions whose last-ulp differs between libm and the
    JVM):
      - ``mean_rarity``: mean over token occurrences of
        floor(N * 1e6 / count(tok)) / 1e6 — the inverse relative
        unigram frequency N/cnt, floor-quantized at 1e-6. N*1e6 is an
        exact double (< 2^53 up to multi-billion-token corpora), IEEE
        division and floor are deterministic.
      - ``mean_surprisal_bits``: mean of floor(log2 N) - floor(log2 cnt)
        per occurrence — integer bit-length surprisal (length of the
        binary representation), an exact +/-1 approximation of
        -log2 p(tok).

    High scores = rare vocabulary (specialist or noisy text), low =
    common filler; both ends are the standard cut candidates.

    Scale: token explode is map-side; the frequency table is one
    map-side-combinable groupBy on the token (vocab-sized result); the
    occurrence->frequency join is hash-partitioned by token on both
    sides; the per-doc reduction is a map-side-combinable integer sum.
    The corpus total N is a one-row aggregate broadcast into the join.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), WS_RE)).alias("__tok"),
    )
    freq = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__cnt"))
    total = freq.agg(F.sum("__cnt").cast("double").alias("__N"))
    scored = (
        toks.join(freq, "__tok")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.floor(F.col("__N") * 1e6 / F.col("__cnt")).alias("__rq"),
            (
                F.length(F.bin(F.col("__N").cast("bigint")))
                - F.length(F.bin(F.col("__cnt")))
            ).alias("__bits"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.sum("__rq").cast("double") / (F.count(F.lit(1)) * F.lit(1e6))).alias(
            "mean_rarity"
        ),
        (F.sum("__bits").cast("double") / F.count(F.lit(1))).alias(
            "mean_surprisal_bits"
        ),
    )


# Double polynomial window hash over per-token portable hashes: two
# independent moduli keep the combined space ~62 bits (collision odds
# ~n^2/2^62 — negligible at corpus scale), and every intermediate stays
# under 2^63 so ANSI-mode Spark and DuckDB compute identical values:
#   token hash  < 2^31;  acc < mod < 2^31;  acc*base < 2^31 * 10^6 < 2^51
#   h1 * _WH_MOD2 < 2^31 * 2^31 = 2^62;  + h2 < 2^63.
_WH_MOD1, _WH_BASE1 = 2147483647, 1000003
_WH_MOD2, _WH_BASE2 = 2147483629, 999983


def repeated_passages(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int = 16,
    mode: str = "hash",
) -> DataFrame:
    """Cross-document EXACT passage dedup at every token position — the
    suffix-array substring-dedup shape (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL'22) expressed as a
    distributed k-gram construction: slide a ``window_tokens`` window
    over every position of every doc, find windows occurring in >= 2
    DISTINCT documents, and report per doc how much of it is covered by
    cross-document repetition.

    Returns (id, n_positions, n_shared_positions, dup_fraction) for
    docs with at least one full window; dup_fraction ~ the fraction a
    substring-dedup pass would cut.

    Unlike chunk dedup (x36/x39, ALIGNED windows), this catches shared
    passages at arbitrary offsets — the thing suffix arrays buy — at
    the cost of one window per token position.

    ``mode='hash'`` (default, the 100 TB path): each window is reduced
    MAP-SIDE to one 62-bit double-polynomial hash over per-token
    portable hashes, so the frequency groupBy shuffles 8 bytes per
    position instead of the ~``window_tokens``-word window STRING
    (≈16× the corpus bytes — the round-3 shuffle-amplification flag).
    The hash is exact integer arithmetic reproducible in any SQL
    engine, so the oracle stays bit-exact; cross-window collisions are
    ~n²/2^62 — vanishing even at 10^12 positions. ``mode='string'``
    shuffles the literal window text (the human-auditable oracle path).

    Scale: windows explode map-side (array HOFs); the frequency pass is
    one map-side-combinable groupBy on the window key; the shared set
    is duplicate-density-sized, so the membership join's build side is
    small.
    """
    if mode not in ("hash", "string"):
        raise ValueError("mode must be 'hash' or 'string'")
    toks = F.split(F.trim(F.col(text_col)), WS_RE)
    if mode == "hash":
        # per-token portable hash once, then per-position double fold
        th = (
            "transform(__t, tok -> aggregate(transform(sequence(1, length(tok)), "
            "i -> cast(ascii(substring(tok, i, 1)) as bigint)), cast(0 as bigint), "
            "(acc, c) -> pmod(acc * 31 + c, 2147483647)))"
        )
        w = window_tokens
        fold = (
            "aggregate(slice(__th, i, {w}), cast(0 as bigint), "
            "(acc, h) -> pmod(acc * {b} + h, {m}))"
        )
        f1 = fold.format(w=w, b=_WH_BASE1, m=_WH_MOD1)
        f2 = fold.format(w=w, b=_WH_BASE2, m=_WH_MOD2)
        win_expr = (
            f"transform(sequence(1, size(__t) - {w} + 1), "
            f"i -> {f1} * cast({_WH_MOD2} as bigint) + {f2})"
        )
        wins = (
            df.select(F.col(id_col), toks.alias("__t"))
            .filter(F.size("__t") >= window_tokens)
            .withColumn("__th", F.expr(th))
            .select(
                id_col,
                F.posexplode(F.expr(win_expr)).alias("__pos", "__w"),
            )
        )
    else:
        wins = (
            df.select(F.col(id_col), toks.alias("__t"))
            .filter(F.size("__t") >= window_tokens)
            .select(
                id_col,
                F.posexplode(
                    F.expr(
                        f"transform(sequence(1, size(__t) - {window_tokens} + 1), "
                        f"i -> concat_ws(' ', slice(__t, i, {window_tokens})))"
                    )
                ).alias("__pos", "__w"),
            )
        )
    shared = (
        wins.groupBy("__w")
        .agg(F.count_distinct(F.col(id_col)).alias("__docs"))
        .filter(F.col("__docs") >= 2)
        .select("__w", F.lit(1).alias("__s"))
    )
    return (
        wins.join(shared, "__w", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_positions"),
            F.sum(F.coalesce(F.col("__s"), F.lit(0)))
            .cast("bigint")
            .alias("n_shared_positions"),
        )
        .withColumn(
            "dup_fraction",
            F.col("n_shared_positions").cast("double")
            / F.col("n_positions").cast("double"),
        )
    )


def chunk_with_overlap(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window document chunking with overlap — the retrieval /
    context-window preprocessing shape (RAG indexing, long-document
    training splits). Chunk i covers tokens [i*stride, i*stride+size)
    with stride = size - overlap; the final chunk may be short; every
    token belongs to at least one chunk.

    Returns (id, chunk_id, n_tokens, chunk_text) — one row per chunk.

    Scale: pure map-side array HOFs (split/sequence/slice/concat_ws) and
    one posexplode; no shuffle at all — the output inherits the scan's
    partitioning, ready for a downstream embed/encode stage.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), WS_RE)
    return (
        df.select(F.col(id_col), toks.alias("__t"))
        .select(
            id_col,
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, cast(ceil(greatest(size(__t) - {overlap}, 1)"
                    f" / {stride}.0) as int) - 1, 1), "
                    f"i -> slice(__t, i * {stride} + 1, {chunk_tokens}))"
                )
            ).alias("chunk_id", "__c"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.size("__c").cast("bigint").alias("n_tokens"),
            F.concat_ws(" ", F.col("__c")).alias("chunk_text"),
        )
    )


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 30,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 4.5,
    min_alpha_word_ratio: float = 0.8,
    min_distinct_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021,
    arXiv:2112.11446 §A1.1): per-document structural metrics, one
    boolean per rule, and the conjunction as ``keep``. The rule set is
    the repetition-free subset adapted to single-block documents (the
    line-level bullet/ellipsis rules need line structure; repetition
    signals live in repetition_stats/x27).

    Pure codegen expressions — one narrow pass, no shuffle, no UDFs;
    thresholds are parameters so corpora can re-tune without code
    changes. Returns (id, n_words, mean_word_len, alpha_word_ratio,
    n_stopword_kinds, ok_word_count, ok_mean_word_len, ok_alpha_ratio,
    ok_stopwords, keep).
    """
    from wren_engine_spark.operators.textnorm import WS_RE

    words = F.split(F.trim(F.col(text_col)), WS_RE)
    n_words = F.size(words).cast("bigint")
    # mean word length over non-whitespace chars (exact: total chars
    # minus whitespace, over the word count)
    nonws = F.length(F.regexp_replace(F.col(text_col), r"[ \t\n\x0B\f\r]", ""))
    mean_wl = nonws.cast("double") / n_words.cast("double")
    alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-zÀ-ɏ一-鿿]"))
    ).cast("bigint")
    alpha_ratio = alpha_words.cast("double") / n_words.cast("double")
    stop_kinds = F.size(
        F.array_distinct(
            F.expr(
                "regexp_extract_all(lower(" + text_col + "), "
                "'\\\\b(the|a|an|and|of|to|in|is|it|that)\\\\b', 1)"
            )
        )
    ).cast("bigint")

    ok_wc = (n_words >= min_words) & (n_words <= max_words)
    ok_mwl = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    ok_alpha = alpha_ratio >= min_alpha_word_ratio
    ok_stop = stop_kinds >= min_distinct_stopwords
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        alpha_ratio.alias("alpha_word_ratio"),
        stop_kinds.alias("n_stopword_kinds"),
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha_ratio"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_mwl & ok_alpha & ok_stop).alias("keep"),
    )


def curation_provenance(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    quality_threshold: float = 0.5,
) -> DataFrame:
    """Per-document curation AUDIT TRAIL (the Dolma-toolkit "attributes"
    shape): every filter decision recorded as a flag column, plus the
    first-firing reject reason and the final keep verdict — so a
    curation run is reproducible and debuggable row-by-row instead of
    an opaque kept-subset (x23 aggregates; this explains).

    Flags: exact-duplicate (md5 fingerprint, non-representative),
    language mismatch (marker-lexicon lang_pred != the claimed lang
    column), low quality (quality_score < threshold), Gopher rule
    failure. Precedence for reject_reason: duplicate > lang_mismatch >
    quality > gopher.

    Plan shape at 100 TB: the quality/lang/Gopher signals are ROW-LOCAL
    codegen expressions evaluated in one narrow pass (deliberately
    re-stated here instead of joining the per-operator outputs — four
    doc_id-keyed self-joins of corpus-sized frames would shuffle the
    corpus four times); the only shuffle is the fingerprint groupBy +
    representative join of exact dedup.
    """
    from wren_engine_spark.operators.textnorm import WS_RE

    t = F.col(text_col)
    low = F.lower(t)
    n_tokens = F.size(F.split(F.trim(t), WS_RE)).cast("bigint")
    punct_ratio = (
        F.length(F.regexp_replace(t, r"[A-Za-z0-9 \t\n\x0B\f\r]", "")).cast("double")
        / F.length(t).cast("double")
    )
    stopword_ratio = (
        F.regexp_count(low, F.lit(EN_STOPWORDS)).cast("double")
        / n_tokens.cast("double")
    )
    length_ok = F.when((n_tokens >= 10) & (n_tokens <= 1000), 1.0).otherwise(0.0)
    q = (
        F.lit(0.4) * F.least(stopword_ratio * 4.0, F.lit(1.0))
        + F.lit(0.4) * length_ok
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio * 5.0, F.lit(1.0)))
    )
    es = F.regexp_count(low, F.lit(LANG_MARKERS["es"]))
    de = F.regexp_count(low, F.lit(LANG_MARKERS["de"]))
    fr = F.regexp_count(low, F.lit(LANG_MARKERS["fr"]))
    zh = F.regexp_count(t, F.lit(LANG_MARKERS["zh"]))
    lang_pred = (
        F.when(zh > 0, "zh")
        .when((es > de) & (es > fr) & (es > 0), "es")
        .when((de > fr) & (de > 0), "de")
        .when(fr > 0, "fr")
        .otherwise("en")
    )
    nonws = F.length(F.regexp_replace(t, r"[ \t\n\x0B\f\r]", ""))
    mean_wl = nonws.cast("double") / n_tokens.cast("double")
    words = F.split(F.trim(t), WS_RE)
    alpha_ratio = (
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("double")
        / n_tokens.cast("double")
    )
    stop_kinds = F.size(
        F.array_distinct(
            F.expr(
                "regexp_extract_all(lower(" + text_col + "), "
                "'\\\\b(the|a|an|and|of|to|in|is|it|that)\\\\b', 1)"
            )
        )
    )
    gopher_ok = (
        (n_tokens >= 30) & (n_tokens <= 100_000)
        & (mean_wl >= 3.0) & (mean_wl <= 4.5)
        & (alpha_ratio >= 0.8) & (stop_kinds >= 2)
    )

    local = df.select(
        F.col(id_col),
        F.col(lang_col),
        F.md5(t).alias("__fp"),
        F.round(q, 6).alias("quality_score"),
        lang_pred.alias("lang_pred"),
        (F.round(q, 6) < quality_threshold).alias("flag_quality"),
        (lang_pred != F.col(lang_col)).alias("flag_lang_mismatch"),
        (~gopher_ok).alias("flag_gopher"),
    )
    rep = local.groupBy("__fp").agg(F.min(id_col).alias("__rep"))
    out = local.join(rep, "__fp").withColumn(
        "flag_duplicate", F.col(id_col) != F.col("__rep")
    )
    reason = (
        F.when(F.col("flag_duplicate"), "duplicate")
        .when(F.col("flag_lang_mismatch"), "lang_mismatch")
        .when(F.col("flag_quality"), "quality")
        .when(F.col("flag_gopher"), "gopher")
    )
    return out.select(
        F.col(id_col),
        "quality_score",
        "lang_pred",
        "flag_duplicate",
        "flag_lang_mismatch",
        "flag_quality",
        "flag_gopher",
        (
            ~(
                F.col("flag_duplicate")
                | F.col("flag_lang_mismatch")
                | F.col("flag_quality")
                | F.col("flag_gopher")
            )
        ).alias("kept"),
        reason.alias("reject_reason"),
    )


_CMS_A = [16807, 48271, 69621, 40692]


def count_min_estimates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    depth: int = 4,
    width: int = 256,
    top_k: int = 20,
    seed: int = 97,
) -> DataFrame:
    """Count-Min sketch over corpus token frequencies, with the
    estimates for the ``top_k`` exact-frequent tokens returned beside
    their true counts — the point-query sketch completing the
    mergeable-summary family (HLL distinct = d5, GK quantiles = d4).

    Every step is exact integer arithmetic on the PORTABLE base-31
    token hash: row r's column is ((a_r*th + b_r) mod 2147483647) mod
    width with a_r drawn from the spread multiplier family
    (16807, 48271, 69621, 40692) — four unrelated LCG multipliers, so
    row collisions decorrelate (near-identical multipliers made the
    rows collide TOGETHER and blew the e/w envelope on the bench
    corpus) — and b_r = seed + 131*r. Any SQL engine rebuilds the
    IDENTICAL d x w cell matrix and minimums —
    the sketch itself is the oracle-checked artifact, not just its
    error envelope. CMS cells only ever OVERESTIMATE
    (estimate >= exact always; the e/w error bound is probabilistic
    and pinned by pytest on a fixed corpus, not by the row oracle).

    At 100 TB: the sketch is a fixed d x w integer grid built by ONE
    map-side-combinable groupBy of the exploded tokens — constant
    state per executor, mergeable across any partitioning (the
    map-combine IS the sketch merge); the top-k exact pass is the same
    aggregation shape as ``frequent_tokens``. Returns
    (tok, exact_count, cms_estimate) ordered by the exact top-k.
    """
    from wren_engine_spark.operators.textnorm import WS_RE

    toks = df.select(
        F.explode(F.split(F.lower(F.col(text_col)), WS_RE)).alias("tok")
    ).filter(F.length("tok") > 0)
    th = F.expr(
        "aggregate(transform(sequence(1, length(tok)), "
        "i -> cast(ascii(substring(tok, i, 1)) as bigint)), "
        "cast(0 as bigint), (acc, c) -> pmod(acc * 31 + c, 2147483647))"
    )
    hashed = toks.select(F.col("tok"), th.alias("__th"))
    rows = [
        F.struct(
            F.lit(r).alias("r"),
            F.pmod(
                F.pmod(
                    F.col("__th") * F.lit(_CMS_A[r])
                    + F.lit(seed + 131 * r),
                    F.lit(2147483647),
                ),
                F.lit(width),
            ).alias("col"),
        )
        for r in range(depth)
    ]
    cells = (
        hashed.select(F.explode(F.array(*rows)).alias("rc"))
        .select(F.col("rc.r").alias("r"), F.col("rc.col").alias("col"))
        .groupBy("r", "col")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = (
        hashed.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_count"), F.first("__th").alias("__th"))
        .orderBy(F.col("exact_count").desc(), F.col("tok"))
        .limit(top_k)
    )
    probes = exact.select(
        "tok",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.pmod(
                            F.pmod(
                                F.col("__th") * F.lit(_CMS_A[r])
                                + F.lit(seed + 131 * r),
                                F.lit(2147483647),
                            ),
                            F.lit(width),
                        ).alias("col"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rc"),
    ).select(
        "tok", "exact_count",
        F.col("rc.r").alias("r"), F.col("rc.col").alias("col"),
    )
    return (
        F.broadcast(probes)
        .join(cells, ["r", "col"])
        .groupBy("tok", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
        .select("tok", "exact_count", "cms_estimate")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window RAG chunking: split each document into
    overlapping token-window chunks (``window`` tokens every
    ``stride``), the retrieval-corpus preparation step every RAG
    pipeline runs before embedding.

    Chunk count is ``1 + ceil(max(0, n - window) / stride)`` — exact
    integer arithmetic (`div`), so the last chunk may be short but a
    chunk fully contained in its predecessor is never emitted. Each
    chunk carries a fingerprint: the base-1000003 mod-2^31-1 left fold
    over the PORTABLE base-31 per-token hashes (the x44 construction),
    so downstream chunk-level dedup needs no text movement.

    Returns (id, chunk_id, chunk_start, n_chunk_tokens, chunk_hash);
    chunk_start is the 1-based token index.

    At 100 TB: entirely map-side — token split, per-token hashes, and
    the per-chunk folds are in-row array HOFs; NO shuffle, no text
    past the projection. Parallelism follows input splits.
    """
    toks = F.split(F.trim(F.col(text_col)), WS_RE)
    th = (
        "transform(__t, tok -> aggregate(transform(sequence(1, length(tok)), "
        "i -> cast(ascii(substring(tok, i, 1)) as bigint)), cast(0 as bigint), "
        "(acc, c) -> pmod(acc * 31 + c, 2147483647)))"
    )
    base = df.select(F.col(id_col), toks.alias("__t")).select(
        F.col(id_col),
        F.expr(th).alias("__th"),
        F.size("__t").cast("bigint").alias("__n"),
    )
    chunks = base.select(
        F.col(id_col),
        "__th",
        "__n",
        F.explode(
            F.expr(
                f"sequence(cast(0 as bigint), "
                f"if(__n > {window}, (__n - {window} + {stride} - 1) div {stride}, "
                f"cast(0 as bigint)))"
            )
        ).alias("__i"),
    ).withColumn("__start", F.col("__i") * stride + 1)
    return chunks.select(
        F.col(id_col),
        F.col("__i").cast("int").alias("chunk_id"),
        F.col("__start").alias("chunk_start"),
        F.least(F.lit(window).cast("bigint"), F.col("__n") - F.col("__start") + 1)
        .alias("n_chunk_tokens"),
        F.expr(
            f"aggregate(slice(__th, cast(__start as int), {window}), "
            f"cast(0 as bigint), (acc, h) -> pmod(acc * 1000003 + h, 2147483647))"
        ).alias("chunk_hash"),
    )


def oov_rate(
    df: DataFrame, text_col: str, id_col: str, vocab_size: int = 1000
) -> DataFrame:
    """Out-of-vocabulary rate per document against a corpus-learned
    vocabulary: the top ``vocab_size`` lowercased whitespace tokens by
    frequency (count desc, token asc tie-break — fully deterministic
    at the cut boundary). The tokenizer-coverage sanity check run
    before committing a vocab to a training run.

    Returns (id, n_tokens, n_oov, oov_rate); oov_rate is the double
    ratio of two exact integers.

    At 100 TB: token counting is one map-side-combinable groupBy on
    the token key; the vocab cut is a bounded TakeOrdered (K rows to
    the driver, K small); membership is a BROADCAST left join riding
    the exploded stream; the per-doc rollup is one groupBy on the doc
    key. The raw corpus shuffles only as (token) and (id) pairs.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), WS_RE)).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok", F.lit(1).alias("__in"))
    )
    joined = toks.join(F.broadcast(vocab), "tok", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
    ).select(
        F.col(id_col),
        "n_tokens",
        "n_oov",
        (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")).alias(
            "oov_rate"
        ),
    )


def boilerplate_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    prefix_tokens: int = 8,
    flag_share: float = 0.05,
) -> DataFrame:
    """Per-source modal-prefix boilerplate detection: the most common
    first-``prefix_tokens`` lowercased token prefix within each source
    and the share of the source's documents that start with it — the
    report that catches a mirror prepending the same header to every
    page (the dominant boilerplate mode in web crawls).

    Returns one row per source: (source, n_docs, modal_prefix,
    modal_count, modal_share, flagged) with ties broken by prefix
    ascending; ``flagged`` = modal_share >= flag_share.

    At 100 TB: the prefix is an in-row slice+join (no text beyond
    ``prefix_tokens`` tokens moves); counting is one map-side-
    combinable groupBy on (source, prefix); the argmax window is
    partitioned by source and bounded by the source's distinct-prefix
    count; output is source-cardinality rows.
    """
    from pyspark.sql import Window as W

    prefix = F.array_join(
        F.slice(F.split(F.trim(F.lower(F.col(text_col))), WS_RE), 1, prefix_tokens),
        " ",
    )
    d = df.select(F.col(source_col).alias("source"), prefix.alias("prefix"))
    counts = d.groupBy("source", "prefix").agg(F.count(F.lit(1)).alias("modal_count"))
    totals = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = W.partitionBy("source").orderBy(
        F.col("modal_count").desc(), F.col("prefix").asc()
    )
    modal = (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    share = F.col("modal_count").cast("double") / F.col("n_docs").cast("double")
    return modal.join(F.broadcast(totals), "source").select(
        "source",
        "n_docs",
        F.col("prefix").alias("modal_prefix"),
        "modal_count",
        share.alias("modal_share"),
        (share >= F.lit(float(flag_share))).alias("flagged"),
    )


def contamination_spans(
    train_df: DataFrame,
    test_df: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int = 8,
) -> DataFrame:
    """Span-level contamination localization: WHERE (token offsets)
    does held-out content appear inside training documents — the
    surgical upgrade over doc-level decontamination (x25/x56 drop the
    whole document; modern pipelines excise just the leaked span).

    Every ``window_tokens``-token window of each training doc is
    hashed with the x44 two-plane 62-bit construction; windows whose
    hash appears anywhere in the held-out set are contamination hits,
    and overlapping/adjacent hit windows merge into maximal spans
    (gaps-and-islands: a window starting within ``window_tokens``
    positions of the previous hit extends the span).

    Returns (id, span_start, span_end, n_windows) with 1-based
    inclusive token offsets.

    At 100 TB: the held-out side is benchmark-sized by construction —
    its DISTINCT window hashes broadcast; training windows explode
    map-side and are filtered by a broadcast semi join (the corpus
    never shuffles to be probed); only the HITS — contamination-sized,
    not corpus-sized — reach the per-doc island window (one hash
    shuffle on the doc key).
    """
    w = window_tokens
    from pyspark.sql import Window as W

    th = (
        "transform(__t, tok -> aggregate(transform(sequence(1, length(tok)), "
        "i -> cast(ascii(substring(tok, i, 1)) as bigint)), cast(0 as bigint), "
        "(acc, c) -> pmod(acc * 31 + c, 2147483647)))"
    )
    fold = (
        "aggregate(slice(__th, i, {w}), cast(0 as bigint), "
        "(acc, h) -> pmod(acc * {b} + h, {m}))"
    )
    f1 = fold.format(w=w, b=_WH_BASE1, m=_WH_MOD1)
    f2 = fold.format(w=w, b=_WH_BASE2, m=_WH_MOD2)
    win_expr = (
        f"transform(sequence(1, size(__th) - {w} + 1), "
        f"i -> {f1} * cast({_WH_MOD2} as bigint) + {f2})"
    )

    def _wins(df: DataFrame) -> DataFrame:
        toks = F.split(F.trim(F.col(text_col)), WS_RE)
        return (
            df.select(F.col(id_col), toks.alias("__t"))
            .filter(F.size("__t") >= w)
            .select(F.col(id_col), F.expr(th).alias("__th"))
            .select(F.col(id_col), F.posexplode(F.expr(win_expr)).alias("__p", "__w"))
            .select(F.col(id_col), (F.col("__p") + 1).cast("bigint").alias("pos"), "__w")
        )

    test_w = _wins(test_df).select("__w").distinct()
    hits = _wins(train_df).join(F.broadcast(test_w), "__w", "semi")
    ww = W.partitionBy(id_col).orderBy("pos")
    islands = hits.withColumn(
        "__new",
        F.when(
            F.lag("pos").over(ww).isNull()
            | (F.col("pos") > F.lag("pos").over(ww) + w),
            1,
        ).otherwise(0),
    ).withColumn(
        "__grp",
        F.sum("__new").over(ww.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return islands.groupBy(id_col, "__grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + w - 1).cast("bigint").alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).select(F.col(id_col), "span_start", "span_end", "n_windows")


def remove_spans(
    df: DataFrame,
    spans_df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Surgical span removal: given (id, span_start, span_end) spans
    (1-based inclusive token offsets, e.g. from
    ``contamination_spans``), delete those token ranges from each
    document and fingerprint the cleaned text — the "excise the leak,
    keep the document" rewrite step.

    Returns one row for EVERY input document: (id, n_tokens,
    n_tokens_removed, clean_hash); clean documents pass through with 0
    removed, and a fully-excised document hashes to 0 (the empty
    fold). ``clean_hash`` is the base-1000003 fold over the PORTABLE
    per-token hashes of the kept tokens in order.

    At 100 TB: spans are contamination-sized — the per-doc span list
    groups small and joins LEFT onto the corpus; the deletion itself
    is an in-row HOF filter over token positions (no text movement,
    no shuffle of the corpus beyond the span join's doc-key hash
    join).
    """
    th = (
        "transform(__t, tok -> aggregate(transform(sequence(1, length(tok)), "
        "i -> cast(ascii(substring(tok, i, 1)) as bigint)), cast(0 as bigint), "
        "(acc, c) -> pmod(acc * 31 + c, 2147483647)))"
    )
    sp = spans_df.groupBy(F.col(id_col)).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("span_start").alias("a"), F.col("span_end").alias("b")))
        ).alias("__sp")
    )
    toks = F.split(F.trim(F.col(text_col)), WS_RE)
    base = (
        df.select(F.col(id_col), toks.alias("__t"))
        .select(F.col(id_col), F.expr(th).alias("__th"), F.size("__t").cast("bigint").alias("n_tokens"))
        .join(sp, id_col, "left")
    )
    keep = (
        "filter(sequence(1, cast(n_tokens as int)), "
        "i -> __sp is null or not exists(__sp, s -> i >= s.a and i <= s.b))"
    )
    clean = (
        f"aggregate(transform({keep}, i -> element_at(__th, i)), "
        f"cast(0 as bigint), (acc, h) -> pmod(acc * {_WH_BASE1} + h, {_WH_MOD1}))"
    )
    return base.select(
        F.col(id_col),
        "n_tokens",
        (F.col("n_tokens") - F.size(F.expr(keep))).cast("bigint").alias(
            "n_tokens_removed"
        ),
        F.expr(clean).alias("clean_hash"),
    )


def encoding_health(df: DataFrame, text_col: str, source_col: str) -> DataFrame:
    """Per-source encoding/charset health report: the corpus-hygiene
    pass that catches a mis-decoded mirror (mojibake, replacement
    chars, binary-ish control bytes) before it trains. Per source:

    - ``total_chars`` / ``total_bytes``: UTF-8 code points vs octets —
      their difference (``multibyte_overhead``) and the
      ``bytes_per_char`` ratio expose the non-ASCII density without
      any per-character explode or regex (both engines agree exactly
      on length()/octet_length() of UTF-8).
    - ``n_ctrl_chars``: TAB/LF/CR occurrences via the translate-delta
      trick (length before minus length after stripping) — exact
      integers, no regex-dialect risk.
    - ``n_docs_replacement``: documents containing U+FFFD, the decoder
      failure marker.

    All sums are associative integers; the only doubles are final
    ratios of those exact sums, computed with the identical expression
    both sides. At 100 TB: one projection over the text, one
    map-side-combinable groupBy with source-cardinality groups;
    no shuffle carries text.
    """
    t = F.col(text_col)
    per = df.select(
        F.col(source_col).alias("source"),
        F.length(t).cast("long").alias("__chars"),
        F.octet_length(t).cast("long").alias("__bytes"),
        (F.length(t) - F.length(F.translate(t, "\t\n\r", ""))).cast("long").alias("__ctrl"),
        (F.instr(t, "�") > 0).cast("long").alias("__repl"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__chars").cast("long").alias("total_chars"),
        F.sum("__bytes").cast("long").alias("total_bytes"),
        (F.sum("__bytes") - F.sum("__chars")).cast("long").alias("multibyte_overhead"),
        # NULL (not a crash, not inf) for an all-empty source — ANSI
        # mode turns a bare x/0 into a job-killing error (found by the
        # hypothesis empty-text case)
        F.when(
            F.sum("__chars") > 0,
            F.sum("__bytes").cast("double") / F.sum("__chars").cast("double"),
        ).alias("bytes_per_char"),
        F.sum("__ctrl").cast("long").alias("n_ctrl_chars"),
        F.sum("__repl").cast("long").alias("n_docs_replacement"),
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str,
    sizes: tuple[int, ...] = (100, 500, 1000, 5000),
) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocab size N,
    what fraction of all corpus token OCCURRENCES the top-N tokens
    (count desc, token asc — deterministic) cover — the tokenizer-
    sizing report (pick the smallest vocab above the coverage bar).

    Tokenization matches x82's OOV convention (lowercase, whitespace
    split). The global token count is one map-side-combinable groupBy;
    the candidate head is a bounded TakeOrdered cut at max(sizes), so
    the rank window runs over at most max(sizes) rows — never the full
    vocabulary. A requested size larger than the distinct-token count
    clamps to the full vocabulary (coverage 1.0) rather than silently
    dropping the row. Exact integer sums; coverage divides two exact
    integers. Returns (vocab_size, eff_vocab, covered_tokens,
    total_tokens, coverage).
    """
    from pyspark.sql import Window as W

    toks = df.select(
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"[ \t\n\x0B\f\r]+")
        ).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    total = counts.agg(
        F.sum("cnt").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("tok").asc()).limit(max(sizes))
    w = W.orderBy(F.col("cnt").desc(), F.col("tok").asc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    ranked = top.select(
        F.row_number()
        .over(W.orderBy(F.col("cnt").desc(), F.col("tok").asc()))
        .alias("rn"),
        F.sum("cnt").over(w).cast("long").alias("cum"),
    )
    sz = df.sparkSession.createDataFrame(
        [(int(n),) for n in sizes], "vocab_size INT"
    )
    eff = sz.crossJoin(F.broadcast(total)).select(
        "vocab_size",
        "total_tokens",
        F.least(F.col("vocab_size").cast("long"), F.col("n_distinct"))
        .cast("long")
        .alias("eff_vocab"),
    )
    return (
        ranked.join(F.broadcast(eff), F.col("rn") == F.col("eff_vocab"))
        .select(
            "vocab_size",
            "eff_vocab",
            F.col("cum").alias("covered_tokens"),
            "total_tokens",
            (
                F.col("cum").cast("double") / F.col("total_tokens").cast("double")
            ).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


def _window_hash_exprs(w: int) -> tuple[str, str]:
    """(per-token portable-hash expr over ``__t``, per-window
    two-plane 62-bit hash expr over ``__th``) — the x44 window-hash
    construction as ONE implementation. New window-hash consumers must
    build from here; the older inline copies (winnowing,
    contamination_spans, remove_spans — written before this helper)
    stay byte-identical under their recorded driver fingerprints and
    migrate opportunistically at a round start."""
    th = (
        "transform(__t, tok -> aggregate(transform(sequence(1, length(tok)), "
        "i -> cast(ascii(substring(tok, i, 1)) as bigint)), cast(0 as bigint), "
        "(acc, c) -> pmod(acc * 31 + c, 2147483647)))"
    )
    fold = (
        "aggregate(slice(__th, i, {w}), cast(0 as bigint), "
        "(acc, h) -> pmod(acc * {b} + h, {m}))"
    )
    f1 = fold.format(w=w, b=_WH_BASE1, m=_WH_MOD1)
    f2 = fold.format(w=w, b=_WH_BASE2, m=_WH_MOD2)
    win_expr = (
        f"transform(sequence(1, size(__th) - {w} + 1), "
        f"i -> {f1} * cast({_WH_MOD2} as bigint) + {f2})"
    )
    return th, win_expr


def bloom_decontamination_screen(
    train_df: DataFrame,
    test_df: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int = 8,
    n_words: int = 1024,
) -> DataFrame:
    """Bloom-filter contamination SCREEN: a constant-size membership
    test that flags which training documents MIGHT contain a held-out
    ``window_tokens``-token window — the cheap first pass a 100 TB
    pipeline runs before the exact span localization
    (``contamination_spans``). The filter is ``n_words`` 63-bit words
    (8 KB at the default) REGARDLESS of held-out size, rides the plan
    as a literal array, and the probe is one in-row HOF over each
    training doc's window hashes: no join, no shuffle, no broadcast
    that scales with the held-out corpus. False positives are possible
    (that is the trade); false negatives are not — every genuinely
    contaminated doc is flagged, so the exact pass only needs to read
    the screened subset.

    PORTABLE by construction, so a SQL oracle replays it bit-for-bit:
    window hashes are the x44 two-plane 62-bit construction (same
    arithmetic as contamination_spans), and each window sets k=3 bits
    at pmod(pmod(wh, M1) * A_k, M1) % (n_words*63) with the reduce-
    before-small-modulus rule (multiplying first and taking the small
    modulus directly would leak the product's even factor — the r5
    x65 parity postmortem). Bits pack 63 per word (bit 63 unused) so
    shifts never touch the sign bit in any engine.

    Returns (id, n_windows, n_bloom_hits, maybe_contaminated) for
    every training doc with >= ``window_tokens`` tokens.

    Build cost: the held-out windows explode map-side, 3 positions
    each, then ONE bit_or groupBy with at most ``n_words`` reduce-side
    groups; the collected filter is bounded driver state (n_words
    longs — the x85 convergence-scalar pattern).
    """
    w = window_tokens
    n_bits = n_words * 63
    th, win_expr = _window_hash_exprs(w)

    def _wins(df: DataFrame) -> DataFrame:
        toks = F.split(F.trim(F.col(text_col)), WS_RE)
        return (
            df.select(F.col(id_col), toks.alias("__t"))
            .filter(F.size("__t") >= w)
            .select(F.col(id_col), F.expr(th).alias("__th"))
            .select(F.col(id_col), F.explode(F.expr(win_expr)).alias("__w"))
        )

    mults = (48271, 69621, 16807)
    pos_exprs = [
        f"pmod(pmod(__w, {_WH_MOD1}) * {a}, {_WH_MOD1}) % {n_bits}"
        for a in mults
    ]
    # build: held-out windows -> 3 bit positions each -> one bit_or
    # groupBy (<= n_words reduce groups) -> n_words driver longs
    built = (
        _wins(test_df)
        .select(F.explode(F.array(*[F.expr(p) for p in pos_exprs])).alias("__p"))
        .select(
            F.expr("cast(__p div 63 as int)").alias("__word"),
            F.expr("shiftleft(cast(1 as bigint), cast(__p % 63 as int))").alias(
                "__mask"
            ),
        )
        .groupBy("__word")
        .agg(F.expr("bit_or(__mask)").alias("__v"))
        .collect()
    )
    words = [0] * n_words
    for r in built:
        words[r["__word"]] = r["__v"]
    words_lit = F.array(*[F.lit(int(v)).cast("long") for v in words])

    checks = " AND ".join(
        f"(shiftright(element_at(__bf, cast(({p}) div 63 as int) + 1), "
        f"cast(({p}) % 63 as int)) & 1) = 1"
        for p in pos_exprs
    )
    hits_expr = f"size(filter(__ws, __w -> {checks}))"
    toks = F.split(F.trim(F.col(text_col)), WS_RE)
    # hits_expr is a lambda-bearing HOF, which Spark's subexpression
    # elimination skips — evaluate it ONCE and derive the flag from
    # the materialized count, not from a second pass over the windows
    return (
        train_df.select(F.col(id_col), toks.alias("__t"))
        .filter(F.size("__t") >= w)
        .select(F.col(id_col), F.expr(th).alias("__th"))
        .select(F.col(id_col), F.expr(win_expr).alias("__ws"))
        .withColumn("__bf", words_lit)
        .select(
            F.col(id_col),
            F.size("__ws").cast("bigint").alias("n_windows"),
            F.expr(hits_expr).cast("bigint").alias("n_bloom_hits"),
        )
        .withColumn("maybe_contaminated", F.col("n_bloom_hits") > 0)
    )
