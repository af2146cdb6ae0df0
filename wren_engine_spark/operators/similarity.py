"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query set and
scan the corpus once; all arithmetic is JVM-side higher-order functions
(zip_with/aggregate), no Python. Dot products and norms use plain DOUBLE
arithmetic in a sequential left fold: Spark's ``aggregate`` HOF and
DuckDB's ``list_reduce`` both fold left-to-right, so the IEEE rounding
sequence is identical and results hash-match the oracle bit-for-bit
(verified over 44k pairs) at ~10x the speed of decimal accumulation.

Scale path: random-hyperplane LSH bucketing — each vector maps to a
``nbits``-bit signature; neighbor search only compares vectors sharing a
bucket. At 100 TB this turns a full cross product into a bucket-local
join; recall is tuned by nbits / multiple tables.

The ANN kernels — hyperplane signatures (``_all_table_signatures``), IVF
list assignment (``_assign_lists``) and the candidate dots of
``ivf_topk`` / ``lsh_ann_topk`` (``_dot_fast``) — are Arrow-batched numpy
UDFs that accumulate dimension by dimension, the same left fold, so
their output equals the DuckDB oracles (x11, x55, x63) bit for bit.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _literal_df(spark, rows, schema):
    """True-LocalRelation literal frame for a BOUNDED driver-side row
    set (probe signatures, ADC tables). ``spark.createDataFrame(list)``
    parallelizes local data into default-parallelism RDD slices, and
    every ACTION on a plan containing that scan then spins one Python
    worker per slice just to re-pickle the same handful of rows —
    measured ~200 ms x 32 tasks per probe on the bench box, more
    wall-clock than the probe's real work. The Arrow pandas path
    materializes a driver-side LocalTableScan instead: no job, no
    Python workers, and the broadcast build is driver-local. Values
    are bit-identical (both routes cast the collected doubles through
    the same target schema). Falls back to plain createDataFrame when
    pandas/Arrow is unavailable — or when any cell is None: pandas
    coerces object columns containing None to float64 NaN, which the
    Arrow path would then ship as NaN where the plain path keeps a
    true NULL, breaking the bit-identical claim. (Current call sites
    are non-null by construction; the guard keeps the helper honest
    for general rows.)"""
    rows = [tuple(r) for r in rows]
    if not rows:
        return spark.createDataFrame(rows, schema)
    if any(c is None for r in rows for c in r):
        return spark.createDataFrame(rows, schema)
    try:
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=[str(i) for i in range(len(rows[0]))])
        out = spark.createDataFrame(pdf, schema)
        # the Arrow path must yield a LocalRelation (no RDD scan); if
        # the conf routed it elsewhere, the fallback is still correct
        if "LocalRelation" not in out._jdf.queryExecution().analyzed().toString():
            return spark.createDataFrame(rows, schema)
        return out
    except Exception:
        return spark.createDataFrame(rows, schema)


def _dot_dec(a, b) -> F.Column:
    """Dot product of two float arrays as a deterministic double left
    fold (bit-identical to DuckDB list_reduce over the same products).

    String args are column NAMES compiled as ONE SQL expression — a
    single py4j round trip where the Python-lambda HOF form pays ~30
    per construction (measured round 11; the resolved fold and its
    results are bit-identical). Column args keep the lambda form for
    composed expressions.
    """
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"aggregate(zip_with(`{a}`, `{b}`, (x, y) ->"
            " CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
        )
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm2_dec(a) -> F.Column:
    """Squared L2 norm as the same deterministic left fold; str arg =
    column name -> one-expr SQL form (see ``_dot_dec``)."""
    if isinstance(a, str):
        return F.expr(
            f"aggregate(transform(`{a}`, x ->"
            " CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
        )
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)


def _make_fold_dot_udf():
    """Arrow-batched dot product with the SAME fp semantics as
    ``_dot_dec``: accumulate dimension-by-dimension, so each row's sum
    is the sequential left fold (((0+p0)+p1)+...) — bit-identical to the
    HOF/list_reduce fold — while numpy vectorizes ACROSS rows. ~40x
    faster than interpreted HOF lambdas on wide candidate sets."""
    import numpy as np
    import pandas as pd  # noqa: F401 - pandas_udf signature
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def fold_dot(a, b):
        A = np.asarray([np.asarray(x, dtype=np.float64) for x in a])
        B = np.asarray([np.asarray(x, dtype=np.float64) for x in b])
        if A.ndim != 2 or B.shape != A.shape:
            # ragged arrays: per-row exact fallback
            out = []
            for x, y in zip(A, B):
                acc = 0.0
                for p, q in zip(
                    np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64)
                ):
                    acc += p * q
                out.append(acc)
            import pandas as _pd

            return _pd.Series(out)
        acc = np.zeros(len(A))
        for j in range(A.shape[1]):
            acc = acc + A[:, j] * B[:, j]
        import pandas as _pd

        return _pd.Series(acc)

    return fold_dot


_FOLD_DOT = None


def _dot_fast(a, b) -> F.Column:
    """Vectorized exact-fold dot product (Arrow batches, numpy)."""
    global _FOLD_DOT
    if _FOLD_DOT is None:
        _FOLD_DOT = _make_fold_dot_udf()
    return _FOLD_DOT(a, b)


def with_norm(df: DataFrame, vec_col: str, out_col: str = "norm2") -> DataFrame:
    return df.withColumn(out_col, _norm2_dec(vec_col))


def _make_multi_sig_udf(planes: list[list[list[float]]]):
    """Arrow-batched hyperplane signatures for ALL tables in one pass:
    vec -> array<long> of per-table bucket ids. Per (table, bit) the dot
    accumulates dimension-by-dimension, so each row's sum is the same
    sequential left fold as DuckDB's ``list_reduce`` in the oracles —
    identical IEEE rounding sequence, identical sign, identical bucket —
    while numpy vectorizes across the Arrow batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = [
        [np.asarray(p, dtype=np.float64) for p in tbl] for tbl in planes
    ]

    @pandas_udf("array<long>")
    def multi_sig(vs):
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        A = np.vstack([np.asarray(x, dtype=np.float64) for x in vs])
        out = np.zeros((len(A), len(P)), dtype=np.int64)
        for t, tbl in enumerate(P):
            for j, plane in enumerate(tbl):
                acc = np.zeros(len(A))
                for d in range(plane.shape[0]):
                    acc = acc + A[:, d] * plane[d]
                out[:, t] |= np.where(acc > 0, np.int64(1) << j, np.int64(0))
        return pd.Series([row for row in out])

    return multi_sig


def _make_argmin_udf(centroids: list[list[float]]):
    """Arrow-batched nearest-centroid assignment: vec -> argmin_c
    L2^2(vec, c). Distance accumulates dimension-by-dimension (the
    left fold's exact IEEE sequence) and ties keep the FIRST minimum
    (strict less-than), i.e. the lowest centroid index."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = [np.asarray(c, dtype=np.float64) for c in centroids]

    @pandas_udf("int")
    def argmin_c(vs):
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        A = np.vstack([np.asarray(x, dtype=np.float64) for x in vs])
        best_d = np.full(len(A), np.inf)
        best_i = np.full(len(A), -1, dtype=np.int32)
        for i, c in enumerate(C):
            acc = np.zeros(len(A))
            for d in range(c.shape[0]):
                diff = c[d] - A[:, d]
                acc = acc + diff * diff
            better = acc < best_d
            best_d = np.where(better, acc, best_d)
            best_i = np.where(better, np.int32(i), best_i)
        return pd.Series(best_i)

    return argmin_c


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k: for each row of ``query_df`` (columns:
    query_id, qvec) return the k nearest corpus vectors.

    Returns (query_id, neighbor_id, cosine_sim, rnk). Ties broken by
    neighbor id for full determinism.
    """
    from pyspark.sql import Window as W

    corpus = with_norm(df, vec_col, "__vn").select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v"), "__vn"
    )
    queries = with_norm(query_df, "qvec", "__qn").select("query_id", F.col("qvec").alias("__q"), "__qn")
    sim = (
        corpus.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot_dec("__q", "__v")
                / (F.sqrt(F.col("__qn")) * F.sqrt(F.col("__vn")))
            ).alias("__sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("__sim").desc(), F.col("neighbor_id"))
    return (
        sim.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__sim"), round_digits).alias("cosine_sim"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    method: str = "exact",
    dim: int | None = None,
    nbits: int = 8,
    tables: int = 8,
    round_digits: int = 6,
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-based near-duplicate pairs: (id_a, id_b, cosine_sim)
    with id_a < id_b and cosine >= threshold.

    method='exact': distributed block-pair all-pairs — every unordered
    pair is scored exactly once inside a pair-bucket task (no driver
    collect, no corpus broadcast). Compute is inherently quadratic but
    fully distributed: shuffle cost O(N*n_blocks), parallelism
    n_blocks*(n_blocks+1)/2 tasks.

    method='exact_driver': the original broadcast-matrix baseline —
    collects the corpus to the driver; kept as the pytest
    cross-validation oracle for the distributed path.

    method='lsh': hyperplane-LSH blocking (OR over ``tables`` tables)
    then exact scoring of colliding pairs only — the sub-quadratic
    100 TB path for HIGH thresholds. Collision probability per table is
    (1-arccos(t)/pi)^nbits, so near-dup pairs survive with recall
    1-(1-p^nbits)^tables while the cross product never materializes.
    """
    if method == "exact":
        return _exact_pairs_distributed(
            df, id_col, vec_col, threshold, round_digits, n_blocks=n_blocks
        )
    elif method == "exact_driver":
        return _exact_blocked_pairs(df, id_col, vec_col, threshold, round_digits)
    elif method == "lsh":
        if dim is None:
            raise ValueError("dim is required for method='lsh'")
        normed = with_norm(df, vec_col, "__n")
        sigs = _all_table_signatures(normed, id_col, vec_col, dim, nbits, tables, seed=7000)
        s1 = sigs.select(F.col(id_col).alias("id_a"), "table_id", "bucket")
        s2 = sigs.select(F.col(id_col).alias("id_b"), "table_id", "bucket")
        cand = (
            s1.join(s2, ["table_id", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        va = normed.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
                           F.col("__n").alias("__na"))
        vb = normed.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
                           F.col("__n").alias("__nb"))
        pairs = cand.distinct().join(va, "id_a").join(vb, "id_b")
    else:
        raise ValueError(f"unknown method {method!r}")
    sim = _dot_dec("__va", "__vb") / (
        F.sqrt(F.col("__na")) * F.sqrt(F.col("__nb"))
    )
    return (
        pairs.select("id_a", "id_b", F.round(sim, round_digits).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def _exact_pairs_distributed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    round_digits: int,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold with NO driver-side state.

    Block-pair scheme (the classic distributed all-pairs triangle):
    rows are hashed into ``n_blocks`` blocks; each unordered block pair
    (bi <= bj) is a bucket, and each row is replicated to the n_blocks
    buckets it participates in. One shuffle of O(N * n_blocks) rows,
    then each bucket task scores its block pair with numpy
    dimension-at-a-time accumulation — the same sequential left fold as
    the HOF/list_reduce path, so values are bit-identical to the SQL
    oracle. Every unordered row pair lands in exactly one bucket
    (the diagonal bucket when both rows share a block, else
    (min_blk, max_blk)), so no dedup pass is needed.

    At 100 TB: compute is inherently quadratic (that is what "exact"
    means), but the plan is fully distributed — pick n_blocks so a
    block fits executor memory; parallelism is n_blocks*(n_blocks+1)/2
    independent tasks and the driver holds nothing. Reference parity:
    wren-engine has no vector dedup; this extends the dedup family
    (SURVEY.md north-star ops).
    """
    import numpy as np

    pad = 10.0 ** (-round_digits)
    blocked = df.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("__blk"),
    )
    rep = blocked.select(
        "__id",
        "__vec",
        "__blk",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_blocks - 1}), o -> "
                "named_struct('bi', least(__blk, o), 'bj', greatest(__blk, o)))"
            )
        ).alias("__bucket"),
    ).select("__id", "__vec", "__blk", F.col("__bucket.bi").alias("__bi"), F.col("__bucket.bj").alias("__bj"))

    def score(pdf):
        import pandas as pd

        bi = int(pdf["__bi"].iloc[0])
        bj = int(pdf["__bj"].iloc[0])
        ids = pdf["__id"].to_numpy(dtype=np.int64)
        V = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["__vec"]])
        norms = np.zeros(len(V))
        for j in range(V.shape[1]):
            norms = norms + V[:, j] * V[:, j]
        if bi == bj:
            a_idx = np.arange(len(V))
            b_idx = a_idx
        else:
            a_idx = np.nonzero(pdf["__blk"].to_numpy() == bi)[0]
            b_idx = np.nonzero(pdf["__blk"].to_numpy() == bj)[0]
        if len(a_idx) == 0 or len(b_idx) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "__sim": []})
        A, B = V[a_idx], V[b_idx]
        acc = np.zeros((len(A), len(B)))
        for j in range(V.shape[1]):
            acc = acc + A[:, j][:, None] * B[:, j][None, :]
        sim = acc / (np.sqrt(norms[a_idx])[:, None] * np.sqrt(norms[b_idx])[None, :])
        ia, ib = ids[a_idx], ids[b_idx]
        if bi == bj:
            # within-block: upper triangle gives each unordered pair once
            keep = (sim >= threshold - pad) & (ia[:, None] < ib[None, :])
            ki, kj = np.nonzero(keep)
            left, right = ia[ki], ib[kj]
        else:
            # cross-block: every (a,b) pair occurs exactly once here;
            # order the ids on emission (sim is symmetric in the fold)
            ki, kj = np.nonzero(sim >= threshold - pad)
            la, lb = ia[ki], ib[kj]
            left, right = np.minimum(la, lb), np.maximum(la, lb)
        return pd.DataFrame({"id_a": left, "id_b": right, "__sim": sim[ki, kj]})

    out = rep.groupBy("__bi", "__bj").applyInPandas(
        score, "id_a LONG, id_b LONG, __sim DOUBLE"
    )
    # authoritative rounded filter runs in Spark so rounding semantics
    # match the SQL oracle exactly
    return out.select(
        "id_a", "id_b", F.round("__sim", round_digits).alias("cosine_sim")
    ).filter(F.col("cosine_sim") >= threshold)


def _exact_blocked_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float, round_digits: int
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via blocked matrix
    self-similarity: the corpus matrix is broadcast once, each partition
    scores its block against the full matrix with numpy outer-product
    accumulation (dimension-at-a-time, so every pair's sum is the exact
    sequential left fold — bit-identical to the HOF/list_reduce fold),
    and ONLY above-threshold pairs are emitted. The O(N^2) pair set is
    never materialized as rows.

    This is the quadratic verification baseline: usable while the
    corpus matrix fits an executor (~10^5-10^6 vectors). Past that,
    block the broadcast side too (outer loop over corpus chunks), or
    use method='lsh' / ivf_topk — the sub-quadratic scale paths.
    """
    import numpy as np

    spark = df.sparkSession
    rows = df.select(id_col, vec_col).collect()
    if not rows:
        return spark.createDataFrame([], "id_a LONG, id_b LONG, cosine_sim DOUBLE")
    ids_c = np.asarray([r[0] for r in rows], dtype=np.int64)
    C = np.asarray([np.asarray(r[1], dtype=np.float64) for r in rows])
    cn = np.zeros(len(C))
    for j in range(C.shape[1]):
        cn = cn + C[:, j] * C[:, j]
    bc = spark.sparkContext.broadcast((ids_c, C, cn))
    # pre-filter with a one-ulp pad; the authoritative rounded filter
    # runs in Spark below so rounding semantics match the SQL oracle
    pad = 10.0 ** (-round_digits)

    def gen(batches):
        import pandas as pd

        b_ids, Cm, cn_ = bc.value
        for pdf in batches:
            A = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            if len(A) == 0:
                continue
            aid = pdf[id_col].to_numpy(dtype=np.int64)
            an = np.zeros(len(A))
            for j in range(A.shape[1]):
                an = an + A[:, j] * A[:, j]
            acc = np.zeros((len(A), len(Cm)))
            for j in range(A.shape[1]):
                acc = acc + A[:, j][:, None] * Cm[:, j][None, :]
            sim = acc / (np.sqrt(an)[:, None] * np.sqrt(cn_)[None, :])
            keep = (sim >= threshold - pad) & (aid[:, None] < b_ids[None, :])
            ai, bi = np.nonzero(keep)
            yield pd.DataFrame(
                {"id_a": aid[ai], "id_b": b_ids[bi], "__sim": sim[ai, bi]}
            )

    out = df.select(id_col, vec_col).mapInPandas(
        gen, "id_a LONG, id_b LONG, __sim DOUBLE"
    )
    return out.select(
        "id_a", "id_b", F.round("__sim", round_digits).alias("cosine_sim")
    ).filter(F.col("cosine_sim") >= threshold)


def _assign_lists(df: DataFrame, vec_col: str, centroids: list[list[float]]):
    """Attach __list = argmin_c L2(vec, centroid_c) through the Arrow
    argmin kernel — one narrow map, no shuffle. The distance folds in
    the oracle's left-to-right order and ties keep the lowest centroid
    index, so assignments match x55's DuckDB oracle bit for bit."""
    argmin = _make_argmin_udf(centroids)
    return df.withColumn("__list", argmin(F.col(vec_col)))


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors over a given
    coarse quantizer: the corpus partitions into one inverted list per
    centroid, and each query scans only its ``nprobe`` nearest lists —
    the classic IVF-Flat trade: recall vs fraction of corpus scanned
    (~nprobe/len(centroids)). With nprobe == len(centroids) the result
    is exactly brute force (tested against cosine_topk).

    The centroids come from the caller: x14 trains them with
    ``kmeans_quantized`` (bit-exact integer Lloyd), x55 seeds them with
    the first vectors by id, so the whole assignment->probe->score path
    is SQL-oracle-checkable. The corpus assignment (every row) runs the
    Arrow argmin kernel; the query-side probe ranking stays one SQL
    expression — the query set is tiny by design.

    At 100 TB the corpus is hash-partitioned by __list so a probe
    touches only matching partitions; queries are broadcast.

    Returns (query_id, neighbor_id, cosine_sim, rnk).
    """
    from pyspark.sql import Window as W

    corpus = _assign_lists(with_norm(df, vec_col, "__vn"), vec_col, centroids).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v"), "__vn", "__list"
    )
    # nprobe nearest centroids per query, via the same literal centroid
    # array: rank centroid distances inside a single expression
    q = with_norm(query_df, "qvec", "__qn")
    carr = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.array(*[F.lit(float(x)) for x in c]).alias("c"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    dist2 = (
        "aggregate(zip_with(s.c, qvec, (p, qq) -> (p - CAST(qq AS DOUBLE)) * "
        "(p - CAST(qq AS DOUBLE))), 0.0D, (acc, x) -> acc + x)"
    )
    probes = F.expr(
        f"transform(slice(array_sort(transform(__cands, s -> named_struct('d', {dist2}, "
        f"'i', s.i))), 1, {nprobe}), p -> p.i)"
    )
    queries = (
        q.withColumn("__cands", carr)
        .withColumn("__probe", probes)
        .select("query_id", F.col("qvec").alias("__q"), "__qn",
                F.explode("__probe").alias("__list"))
    )
    sim = _dot_fast("__q", "__v") / (
        F.sqrt(F.col("__qn")) * F.sqrt(F.col("__vn"))
    )
    scored = (
        corpus.join(F.broadcast(queries), "__list")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("__sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("__sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__sim"), round_digits).alias("cosine_sim"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def lsh_ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 3,
    nbits: int = 12,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate nearest neighbors: ``tables`` independent hyperplane
    hash tables (OR-amplification — recall for sim s is
    1-(1-p(s)^nbits)^tables with p(s)=1-arccos(s)/pi), bucket-local exact
    cosine, global top-k per query over the union of candidates.

    Returns (query_id, neighbor_id, cosine_sim, rnk). At 100 TB each
    table is one narrow map (signature) + one bucket-key shuffle; the
    cross product never materializes — cost follows bucket occupancy,
    tuned by nbits.

    Signatures and candidate dots run through the Arrow kernels
    (``_all_table_signatures``, ``_dot_fast``), which fold in the same
    left-to-right order as the x11 DuckDB oracle, so buckets,
    candidates, similarities and ranks reproduce it bit for bit.
    """
    from pyspark.sql import Window as W

    normed = with_norm(df, vec_col, "__n")
    # ONE corpus pass computes every table's signature; the
    # (table, bucket) pair key then drives a single self-join
    sigs = _all_table_signatures(normed, id_col, vec_col, dim, nbits, tables, seed)
    a = sigs.select(F.col(id_col).alias("query_id"), "table_id", "bucket")
    b = sigs.select(F.col(id_col).alias("neighbor_id"), "table_id", "bucket")
    cand = (
        a.join(b, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qside = normed.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__q"), F.col("__n").alias("__qn")
    )
    vside = normed.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v"), F.col("__n").alias("__vn")
    )
    scored = (
        cand.join(qside, "query_id")
        .join(vside, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot_fast("__q", "__v")
                / (F.sqrt(F.col("__qn")) * F.sqrt(F.col("__vn")))
            ).alias("__sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("__sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id",
                F.round(F.col("__sim"), 6).alias("cosine_sim"),
                F.col("rnk").cast("int").alias("rnk"))
    )


def label_centroids(
    df: DataFrame, vec_col: str, label_col: str, quantum: int = 1_000_000
) -> DataFrame:
    """Per-label embedding centroids (class prototypes / IVF seeding /
    dataset fingerprints), one row per (label, dimension).

    Determinism at scale: float elements are quantized to integers
    (``round(v * quantum)``, half-away-from-zero in every engine), so
    the per-dimension sums are exact integer arithmetic — associative
    and commutative, immune to partition order, and map-side combinable
    (one narrow explode + one groupBy shuffle; no sorted collect_list
    bottleneck per label). The 1/quantum (~1e-6) quantization error is
    orders below float32 embedding noise.

    Returns (label, d, centroid, n_vecs).
    """
    ex = df.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("d", "__v")
    )
    q = ex.groupBy(label_col, "d").agg(
        F.sum(
            F.round(F.col("__v").cast("double") * quantum).cast("bigint")
        ).alias("__qsum"),
        F.count(F.lit(1)).alias("n_vecs"),
    )
    return q.select(
        label_col,
        "d",
        (
            F.col("__qsum").cast("double")
            / (F.col("n_vecs") * quantum).cast("double")
        ).alias("centroid"),
        "n_vecs",
    )


def quantize_int8(
    df: DataFrame, id_col: str, vec_col: str, out_col: str = "qvec"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x|/127,
    q_i = floor(x_i/scale + 0.5). The standard 4x storage compression
    for corpus-scale ANN (int8 dot products, SIMD-friendly downstream).

    Rounding is spelled floor(x+0.5) — not round() — because IEEE floor
    is bit-identical across engines while round() half-even/half-up
    conventions differ; with float inputs widened to double first, any
    SQL engine reproduces the exact quantized vectors (oracle x45).
    Map-side only: no shuffle. Returns (id, qvec ARRAY<BIGINT>, scale).
    """
    as_d = "transform({v}, x -> cast(x as double))"
    scale = F.expr(
        f"greatest(array_max(transform({as_d.format(v=vec_col)}, x -> abs(x))), 1e-12) / 127.0d"
    )
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        scale.alias("__s"),
    ).select(
        id_col,
        F.expr(
            f"transform({as_d.format(v=vec_col)}, x -> cast(floor(x / __s + 0.5d) as bigint))"
        ).alias(out_col),
        F.col("__s").alias("scale"),
    )


def quantized_cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k over int8-QUANTIZED vectors — the
    compressed-corpus twin of :func:`cosine_topk`. The per-vector
    scales cancel in the cosine, so similarity is computed purely from
    integer dot products and integer norms (exact in int64: |q|<=127,
    so a 64-dim dot <= ~1e6), making the whole pipeline bit-portable
    across engines. Recall vs full-precision cosine is asserted in
    tests; at 100 TB the corpus side is 4x smaller on disk and in
    shuffle than float32.

    Returns (query_id, neighbor_id, q_cosine, rnk), ties broken by
    neighbor id.
    """
    from pyspark.sql import Window as W

    idot = "aggregate(zip_with(__q, __v, (a, b) -> a * b), cast(0 as bigint), (acc, x) -> acc + x)"
    inorm = "sqrt(cast(aggregate(transform({v}, x -> x * x), cast(0 as bigint), (acc, x) -> acc + x) as double))"
    # integer norms precomputed ONCE per corpus row / query row BEFORE
    # the pair join (cosine_topk's shape): the join multiplies rows by
    # |queries|, so computing the corpus norm inside the pair select
    # repeated it per query. Same expression on the same integers —
    # the published doubles are bit-identical.
    corpus = quantize_int8(df, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("__v"),
    ).withColumn("__vnorm", F.expr(inorm.format(v="__v")))
    queries = quantize_int8(query_df, "query_id", "qvec").select(
        "query_id", F.col("qvec").alias("__q")
    ).withColumn("__qnorm", F.expr(inorm.format(v="__q")))
    sim = corpus.join(
        F.broadcast(queries), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        (
            F.expr(idot).cast("double")
            / (F.col("__qnorm") * F.col("__vnorm"))
        ).alias("__sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("__sim").desc(), F.col("neighbor_id"))
    return (
        sim.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__sim"), round_digits).alias("q_cosine"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.35,
    prefix_bits: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the embedding space into clusters,
    then inside each cluster drop every vector that has a
    cosine-similar (>= threshold) neighbor with a smaller id — keeping
    exactly one representative per similarity neighborhood.

    Clustering here is DETERMINISTIC sign-bit partitioning: cluster id
    = the sign bits of the first ``prefix_bits`` dimensions (a fixed
    axis-aligned hyperplane LSH table). Unlike k-means (the paper's
    choice, our ivf_topk's coarse quantizer), it is data-independent
    and exact-arithmetic, so the entire operator — clustering, pairing,
    keep rule — is reproducible bit-for-bit by a SQL oracle. Swap in
    ``kmeans_quantized`` centroids (the one Lloyd trainer, bit-exact)
    for production corpora where learned clusters balance better.

    Scale: one shuffle on cluster_id for the self-join; within-cluster
    work is quadratic in CLUSTER size, bounded by choosing prefix_bits
    ~ log2(N / target_cluster_size) (the same knob as SemDeDup's k).
    No driver state, no corpus broadcast.

    Returns (id_col, cluster_id, kept) for every input row.
    """
    bits = None
    for i in range(prefix_bits):
        b = F.when(
            F.element_at(F.col(vec_col), i + 1) >= 0, F.shiftleft(F.lit(1), i)
        ).otherwise(F.lit(0))
        bits = b if bits is None else bits + b
    base = df.select(
        F.col(id_col),
        F.col(vec_col),
        bits.cast("int").alias("cluster_id"),
        _norm2_dec(vec_col).alias("__n"),
    )
    a = base.select(
        F.col(id_col).alias("id_a"),
        F.col("cluster_id"),
        F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        F.col("cluster_id"),
        F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    sim = F.round(
        _dot_dec("__va", "__vb")
        / (F.sqrt(F.col("__na")) * F.sqrt(F.col("__nb"))),
        round_digits,
    )
    dropped = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("__sim"))
        .filter(F.col("__sim") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return base.join(
        dropped.withColumn("__drop", F.lit(True)), id_col, "left"
    ).select(
        F.col(id_col),
        F.col("cluster_id"),
        F.coalesce(~F.col("__drop"), F.lit(True)).alias("kept"),
    )


def _all_table_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    nbits: int,
    tables: int,
    seed: int,
    carry_cols: tuple = (),
) -> DataFrame:
    """(id, vec, table_id, bucket[, carry...]) for ALL hash tables in
    ONE pass through the Arrow signature kernel — one plan, one scan.
    Table ``t`` draws its nbits x dim planes from
    ``random.Random(seed + 1000 * t)``, and bit j is set when the
    left-fold dot with plane j is > 0, so buckets equal the DuckDB
    oracles' (x11, x63). A per-table loop of plans would scan the input
    ``tables`` times and put ``tables`` literal plane matrices through
    analysis and codegen (measured: 3.3 s of x63's 4 s probe was four
    10-row signature plans). ``carry_cols`` pass through untouched
    (attribute columns an index stores for filtered probes)."""
    v = F.col(vec_col)
    all_planes = []
    for t in range(tables):
        rng = random.Random(seed + 1000 * t)
        all_planes.append(
            [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(nbits)]
        )
    multi_sig = _make_multi_sig_udf(all_planes)
    return df.select(
        F.col(id_col),
        v.alias(vec_col),
        *[F.col(c) for c in carry_cols],
        F.posexplode(multi_sig(v)).alias("table_id", "bucket"),
    ).select(id_col, vec_col, "table_id", "bucket", *carry_cols)


def write_ann_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    table: str,
    dim: int,
    nbits: int = 12,
    tables: int = 4,
    seed: int = 42,
    buckets: int = 16,
    attr_cols: list[str] | None = None,
) -> str:
    """Persist a hyperplane-LSH ANN index as a BUCKETED table: one row
    per (hash-table, bucket, id, vector), bucketed+sorted on the bucket
    signature. Build once, probe many — the serving-side complement of
    the one-shot lsh_ann_topk.

    Why bucketed: every probe joins candidates on (table_id, bucket);
    with the index pre-bucketed on bucket, that join needs NO shuffle
    of the (huge) index side — only the (small) query side moves, and
    Spark prunes non-matching index buckets from the scan. At 100 TB
    the index is written once per corpus version and each probe reads
    ~tables x (occupancy of the probed buckets), not the corpus.

    ``attr_cols`` stores extra metadata columns WITH the index rows so
    probes can filter candidates by attribute (``ann_index_topk``'s
    ``where``) — the predicate pushes into the bucketed parquet scan
    itself (PushedFilters), so a filtered probe reads LESS than an
    unfiltered one instead of post-filtering a result set. The column
    list is recorded in the ``__meta`` sidecar so appends always carry
    the same attributes.
    """
    attr_cols = list(attr_cols or [])
    out = _all_table_signatures(
        df, id_col, vec_col, dim, nbits, tables, seed,
        carry_cols=tuple(attr_cols),
    ).select(
        "table_id", "bucket", F.col(id_col), F.col(vec_col),
        *[F.col(c) for c in attr_cols],
    )
    from wren_engine_spark.operators import layout

    # one shuffle on bucket before the bucketed write keeps file count at
    # `buckets` instead of tasks x buckets (write_bucketed handles stale
    # managed-location cleanup and the bucketBy+sortBy persistence)
    spark = df.sparkSession
    result = layout.write_bucketed(
        out.repartition(buckets, F.col("bucket")), table, "bucket", buckets
    )
    layout.clear_tombstones(spark, table)
    # meta sidecar: an append must hash with the SAME planes (dim,
    # nbits, tables, seed) and bucket layout as the build — parameters
    # live with the index, never with the caller (the PQ-index lesson)
    layout.write_small_table(
        spark,
        spark.createDataFrame(
            [(int(dim), int(nbits), int(tables), int(seed), int(buckets),
              id_col, vec_col, ",".join(attr_cols))],
            "dim INT, nbits INT, tables INT, seed INT, buckets INT, "
            "id_col STRING, vec_col STRING, attr_cols STRING",
        ),
        f"{table}__meta",
    )
    return result


def ann_index_append(
    spark,
    table: str,
    df: DataFrame,
    id_col: str,
    vec_col: str,
) -> int:
    """Append a batch of new vectors to the persisted hyperplane-LSH
    index: signatures are computed with the EXACT plane set the build
    used (dim/nbits/tables/seed read from the index's ``__meta``
    sidecar — a batch can never hash on different planes than the
    corpus), then bucket-appended; Spark validates the bucket spec on
    the write. Probes see appended vectors identically to build-time
    vectors (pytest pins append ≡ rebuild). Cost: one narrow map over
    the batch + a bucketed append — the index is never read, the
    corpus never re-hashed (the LSH complement of
    ``pq_index_append``).

    Returns the number of appended vectors.
    """
    from wren_engine_spark.operators import index_meta

    meta = index_meta.table_meta_row(spark, table)
    if meta is None:
        raise ValueError(
            f"ann_index_append: index '{table}' has no __meta sidecar; "
            "rebuild it with write_ann_index before appending"
        )
    # attribute columns recorded at build time must travel with every
    # appended row too (same names; a missing column fails loudly in
    # the select below) — a pre-attr_cols index has the empty string
    attrs = [c for c in getattr(meta, "attr_cols", "").split(",") if c]
    # the returned count is observed DURING the append write (one job,
    # one pass over the batch's upstream lineage — it cannot disagree
    # with what was written; replaces the persist+count+write pattern)
    from pyspark.sql import Observation

    obs = Observation()
    out = _all_table_signatures(
        df.observe(obs, F.count(F.lit(1)).alias("n")).select(
            F.col(id_col).alias(meta.id_col),
            F.col(vec_col).alias(meta.vec_col),
            *[F.col(c) for c in attrs],
        ),
        meta.id_col, meta.vec_col,
        int(meta.dim), int(meta.nbits), int(meta.tables), int(meta.seed),
        carry_cols=tuple(attrs),
    ).select(
        "table_id", "bucket", F.col(meta.id_col), F.col(meta.vec_col),
        *[F.col(c) for c in attrs],
    )
    from wren_engine_spark.operators import layout

    layout.write_bucketed(
        out.repartition(int(meta.buckets), F.col("bucket")),
        table,
        "bucket",
        int(meta.buckets),
        mode="append",
    )
    return int(obs.get["n"])


def ann_index_delete(spark, table: str, ids) -> dict:
    """Tombstone-delete vectors from the persisted LSH index
    (``layout.append_tombstones``, under the index's own id column
    from its ``__meta``); every probe anti-joins them out until
    ``ann_index_compact`` folds them."""
    from wren_engine_spark.operators import index_meta, layout

    m = index_meta.table_meta_row(spark, table)
    if m is None:
        raise ValueError(
            f"ann_index_delete: index '{table}' has no __meta sidecar; "
            "rebuild it with write_ann_index"
        )
    return layout.append_tombstones(spark, ids, m.id_col, table)


def ann_index_compact(spark, table: str) -> dict:
    """Compact the persisted LSH index after many appends (each
    bucketed append adds >= 1 file per occupied bucket): rewrite to
    one file per bucket and swap via two catalog renames, folding any
    pending tombstones into the rewrite (``layout.compact_bucketed``).
    Content-preserving by contract: probes — which already excluded
    tombstoned rows — are bit-identical before and after."""
    from wren_engine_spark.operators import index_meta, layout

    m = index_meta.table_meta_row(spark, table)
    if m is None:
        raise ValueError(
            f"ann_index_compact: index '{table}' has no __meta sidecar; "
            "rebuild it with write_ann_index"
        )
    return layout.compact_bucketed(spark, table, "bucket", int(m.buckets), m.id_col)


def ann_index_topk(
    spark,
    table: str,
    query_df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 3,
    nbits: int = 12,
    tables: int = 4,
    seed: int = 42,
    allow_legacy: bool = False,
    where: str | F.Column | None = None,
    max_literal_queries: int = 4096,
) -> DataFrame:
    """Probe a persisted ANN index (same nbits/tables/seed as the
    build): hash each query into its per-table bucket, join the
    bucketed index on (table_id, bucket) — query side broadcast, index
    side scanned bucket-locally with no shuffle — then exact-cosine
    score the union of candidates and keep the top-k per query.

    ``where`` is a FILTERED-search predicate over the index's stored
    attribute columns (``write_ann_index(attr_cols=...)``): applied to
    the index side BEFORE the bucket join, so it pushes into the
    bucketed parquet scan (PushedFilters — a filtered probe reads
    LESS than an unfiltered one) and the top-k ranks only qualifying
    candidates — every returned neighbor satisfies the predicate,
    k results deep (pre-filtering, not a post-filter that can return
    fewer than k).

    Returns (query_id, neighbor_id, cosine_sim, rnk)."""
    from pyspark.sql import Window as W

    from wren_engine_spark.operators import index_meta

    # the index's __meta sidecar (write_ann_index) is authoritative for
    # the plane parameters: probing with a different dim/nbits/tables/
    # seed than the build hashes queries on planes the corpus was never
    # indexed under and silently returns wrong/empty neighbors. The
    # sidecar read is memoized per (session, index) — it only changes
    # on rebuild, which rewrites its files and busts the token — so a
    # probe costs zero extra Spark jobs after the first. A missing
    # sidecar is an ERROR for indexes this package wrote (every
    # builder has shipped one since the meta release); probing a
    # pre-meta index with caller parameters requires an explicit
    # allow_legacy=True.
    m = index_meta.table_meta_row(spark, table)
    if m is not None:
        dim, nbits, tables, seed = (
            int(m.dim), int(m.nbits), int(m.tables), int(m.seed),
        )
    elif not allow_legacy:
        raise ValueError(
            f"ann_index_topk: index '{table}' has no __meta sidecar; "
            "rebuild it with write_ann_index, or pass allow_legacy=True "
            "to probe a pre-meta index with caller parameters"
        )
    from wren_engine_spark.operators import layout

    idx = layout.read_index_table(spark, table)
    if where is not None:
        idx = idx.filter(where)
    # tombstoned ids (ann_index_delete) anti-join out — broadcast, no
    # extra shuffle; an index with no tombstones pays nothing

    idx = layout.without_tombstones(idx, id_col, table)
    # materialize the BOUNDED query side's signatures driver-side (the
    # codes-layout families' _ivfpq_quantized_queries convention): the
    # in-plan plane kernel is tables x nbits dot products of dim terms
    # each — thousands of expression nodes that Catalyst re-analyzes,
    # re-optimizes, and re-codegens on EVERY action against the probe
    # DataFrame (measured: more driver time than the probe's executed
    # jobs). One tiny job runs the exact same kernel over the query
    # batch once; the probe plan then carries the signatures as a
    # literal local relation — same values (the kernel is identical),
    # same broadcast join, a fraction of the planning surface.
    qsig_df = _all_table_signatures(
        query_df, id_col, vec_col, dim, nbits, tables, seed
    ).select(
        "table_id",
        "bucket",
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__q"),
    )
    # BOUNDED-batch guard (round-10, advisor ask): the literal
    # materialization collects |queries| x tables signature rows — each
    # carrying the full query vector — to the driver at CONSTRUCTION
    # time. The public API cannot assume callers honor the "query side
    # is a probe batch" convention, so the collect is capped: fetch at
    # most the cap + 1 rows (one bounded job, bounded driver memory —
    # never an unbounded collect), and when the batch exceeds
    # ``max_literal_queries`` keep the signature kernel IN-PLAN
    # (lazy, distributed, broadcast at execution) instead. Below the
    # cap the behavior is the prepared-plan LocalRelation fast path.
    cap_rows = int(max_literal_queries) * max(int(tables), 1)
    head = qsig_df.limit(cap_rows + 1).collect()
    if len(head) > cap_rows:
        qsigs = qsig_df
    else:
        qsigs = _literal_df(spark, head, qsig_df.schema)
    # a candidate colliding in several hash tables appears once per
    # collision; scoring is deterministic per (query, neighbor), so
    # instead of a distinct() BEFORE the window (a second shuffle,
    # carrying both vectors through the exchange) rank the duplicated
    # rows with dense_rank — duplicates share an identical (sim,
    # neighbor_id) ordering key, so dense_rank over duplicates equals
    # row_number over deduplicated rows — and dedup AFTER the rank
    # filter, where the window's own hash partitioning on query_id
    # already satisfies the aggregation's distribution: the whole
    # probe runs on ONE shuffle (pytest-pinned via shuffle_exchanges)
    cand = (
        idx.join(F.broadcast(qsigs), ["table_id", "bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            "__q",
            F.col(vec_col).alias("__v"),
        )
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (
            _dot_dec("__q", "__v")
            / (F.sqrt(_norm2_dec("__q")) * F.sqrt(_norm2_dec("__v")))
        ).alias("__sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("__sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.dense_rank().over(w))
        .filter(F.col("rnk") <= k)
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.round(F.first("__sim"), 6).alias("cosine_sim"),
            F.first("rnk").cast("int").alias("rnk"),
        )
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


def hard_negatives(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    query_df: DataFrame,
    k: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the k most-similar corpus vectors whose LABEL DIFFERS from
    the query's — the near-misses a retrieval/embedding model must
    learn to push apart (the standard in-batch-negatives upgrade).

    ``query_df`` columns: (query_id, qvec, qlabel). Returns (query_id,
    neighbor_id, neighbor_label, cosine_sim, rnk), ties broken by
    neighbor id. Same deterministic left-fold cosine as
    ``cosine_topk`` (bit-identical to the DuckDB list_reduce oracle).

    At 100 TB: the query side is the small side by construction
    (a training batch / probe set) and is BROADCAST, so the corpus
    never shuffles; the label filter rides the broadcast join
    condition; per-query top-k is a bounded window. Reference parity:
    the reference engine has no ANN/mining surface — this extends the
    SURVEY §2 LLM-pipeline block alongside cosine_topk/lsh_ann.
    """
    from pyspark.sql import Window as W

    corpus = with_norm(df, vec_col, "__vn").select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("__v"),
        "__vn",
    )
    queries = with_norm(query_df, "qvec", "__qn").select(
        "query_id", "qlabel", F.col("qvec").alias("__q"), "__qn"
    )
    sim = corpus.join(
        F.broadcast(queries), F.col("neighbor_label") != F.col("qlabel")
    ).select(
        "query_id",
        "neighbor_id",
        "neighbor_label",
        (
            _dot_dec("__q", "__v")
            / (F.sqrt(F.col("__qn")) * F.sqrt(F.col("__vn")))
        ).alias("__sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("__sim").desc(), F.col("neighbor_id"))
    return (
        sim.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round(F.col("__sim"), round_digits).alias("cosine_sim"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def embedding_dim_stats(
    df: DataFrame, vec_col: str, quantum: int = 1_000_000, dead_var: float = 1e-9
) -> DataFrame:
    """Per-dimension embedding health: mean / variance / dead-dim flag.

    A corpus-wide sanity pass a training pipeline runs before indexing:
    a dimension whose variance collapsed (dead ReLU, truncated export)
    poisons every downstream cosine. Values are QUANTIZED to exact
    integers (floor(x * quantum + 0.5), the engine-portable half-up
    rounding x45 established) before summation so the per-dim sums
    are associative integer arithmetic — independent of partition
    order, bit-reproducible in any engine (the x31/x48 strategy); the
    two moments come back to double only at the end, in one fixed
    operation order mirrored by the oracle.

    At 100 TB: posexplode is narrow (rows x dim, no shuffle), then ONE
    map-side-combinable groupBy on the dim key — at most ``dim``
    groups reach the reduce side regardless of corpus size.

    Returns (dim, n_vals, mean, variance, dead); mean/variance in
    original (un-quantized) units.
    """
    q = float(quantum)
    exploded = df.select(F.posexplode(F.col(vec_col)).alias("dim", "__x")).select(
        F.col("dim").cast("int").alias("dim"),
        F.floor(F.col("__x").cast("double") * F.lit(q) + F.lit(0.5))
        .cast("long")
        .alias("__qx"),
    )
    agg = exploded.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_vals"),
        F.sum("__qx").alias("__sq"),
        F.sum(F.col("__qx").cast("decimal(19,0)") * F.col("__qx")).alias("__sqq"),
    )
    mean_q = F.col("__sq").cast("double") / F.col("n_vals").cast("double")
    var_q = (
        F.col("__sqq").cast("double") / F.col("n_vals").cast("double")
        - mean_q * mean_q
    )
    return agg.select(
        "dim",
        "n_vals",
        (mean_q / F.lit(q)).alias("mean"),
        (var_q / F.lit(q * q)).alias("variance"),
        (var_q / F.lit(q * q) < F.lit(dead_var)).alias("dead"),
    ).orderBy("dim")


def kmeans_quantized(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iters: int = 2,
    quantum: int = 1_000_000,
) -> DataFrame:
    """Lloyd k-means with a bit-exact cross-engine oracle (x85), and
    the trainer behind x14's oracle-checked IVF: the vectors quantize
    to integers once (floor(x*quantum + 0.5), the x45/x80 half-up),
    then the one integer Lloyd loop (``_lloyd``) trains ``k``
    centroids over whole vectors. Every quantity an iteration produces
    is an exact integer or a double computed in one fixed operation
    order, so an unrolled SQL replay reproduces the training
    bit-for-bit.

    Returns (cluster, dim, centroid_q, n_members): the post-``iters``
    centroids (quantized units) and the member counts of the
    assignment that produced them.
    """
    (cents,), (counts,) = _lloyd(
        _pq_quantize(df, id_col, vec_col, quantum), k, iters
    )
    rows = [
        (c, d, v, counts[c])
        for c, cent in enumerate(cents)
        for d, v in enumerate(cent)
    ]
    return df.sparkSession.createDataFrame(
        rows, "cluster INT, dim INT, centroid_q BIGINT, n_members BIGINT"
    )


def diverse_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    query_df: DataFrame,
    k: int = 5,
    per_label_cap: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """Diversity-capped retrieval: per query vector, the overall top-k
    by cosine among candidates restricted to at most ``per_label_cap``
    results per label — the cluster-capped variant of MMR that keeps a
    result list from collapsing onto one near-duplicate cluster, and
    (unlike greedy MMR) is expressible as two rank windows with an
    exact SQL twin.

    ``query_df`` columns: (query_id, qvec). Self-matches
    (neighbor_id == query_id) are excluded. Returns (query_id,
    neighbor_id, neighbor_label, cosine_sim, rnk) with rnk over the
    capped candidate set; ties broken by neighbor id everywhere. The
    cosine is the deterministic left fold (``cosine_topk``), so both
    rank windows order on bit-identical doubles.

    At 100 TB: the query side is a probe set and BROADCASTS — the
    corpus never shuffles for the similarity step. The first window
    partitions by (query, label): the standard top-k-per-group cut,
    after which the second window sees at most cap × n_labels rows per
    query. Skew follows label balance, same exposure as
    ``hard_negatives``.
    """
    from pyspark.sql import Window as W

    corpus = with_norm(df, vec_col, "__vn").select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("__v"),
        "__vn",
    )
    queries = with_norm(query_df, "qvec", "__qn").select(
        "query_id", F.col("qvec").alias("__q"), "__qn"
    )
    sim = corpus.join(
        F.broadcast(queries), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        "neighbor_label",
        (
            _dot_dec("__q", "__v")
            / (F.sqrt(F.col("__qn")) * F.sqrt(F.col("__vn")))
        ).alias("__sim"),
    )
    wl = W.partitionBy("query_id", "neighbor_label").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id")
    )
    capped = (
        sim.withColumn("__lr", F.row_number().over(wl))
        .filter(F.col("__lr") <= per_label_cap)
        .drop("__lr")
    )
    wq = W.partitionBy("query_id").orderBy(F.col("__sim").desc(), F.col("neighbor_id"))
    return (
        capped.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round(F.col("__sim"), round_digits).alias("cosine_sim"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ------------------------------------------------------- product quantization

def _pq_quantize(df: DataFrame, id_col: str, vec_col: str, quantum: int) -> DataFrame:
    q = float(quantum)
    return df.select(
        F.col(id_col).alias("__id"),
        F.expr(
            f"transform({vec_col}, x -> cast(floor(cast(x as double) * {q!r} "
            f"+ 0.5) as bigint))"
        ).alias("qx"),
    )


def _lloyd_step(qdf: DataFrame, cents: list[list[list[int]]]) -> DataFrame:
    """One Lloyd pass over the (__id, qx) integer vectors: each vector
    explodes into its ``len(cents)`` subspace slices (the vectors are
    read once, total exploded bytes == one full pass), each slice is
    assigned in-row by ``_pq_argmin`` against its subspace's literal
    centroids (join-free), and one (__s, cluster, dim) aggregation of
    integer sums — map-side combinable, at most n_subspaces*k*dim
    reduce groups at any corpus size — yields the new centroid
    val = floor(sum/n) (the one IEEE double division both engines run)
    and the member count n. Returns (__s, cluster, dim, val, n)."""
    sub = len(cents[0][0])
    parts = qdf.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("s"),
                        F.slice(F.col("qx"), s * sub + 1, sub).alias("qx"),
                    )
                    for s in range(len(cents))
                ]
            )
        ).alias("p")
    ).select(F.col("p.s").alias("__s"), F.col("p.qx").alias("qx"))
    cl = _pq_argmin(F.col("qx"), cents[0])
    for s in range(1, len(cents)):
        cl = F.when(
            F.col("__s") == s, _pq_argmin(F.col("qx"), cents[s])
        ).otherwise(cl)
    return (
        parts.select("__s", cl.alias("cluster"), "qx")
        .select("__s", "cluster", F.posexplode("qx").alias("dim", "qv"))
        .groupBy("__s", "cluster", "dim")
        .agg(F.sum("qv").alias("sm"), F.count(F.lit(1)).alias("n"))
        .select(
            "__s",
            "cluster",
            "dim",
            F.floor(F.col("sm").cast("double") / F.col("n").cast("double"))
            .cast("bigint")
            .alias("val"),
            "n",
        )
    )


def _lloyd(
    qdf: DataFrame, k: int, iters: int, n_subspaces: int = 1, k_name: str = "k"
) -> tuple[list[list[list[int]]], list[list[int]]]:
    """The one integer Lloyd k-means, behind ``kmeans_quantized`` (x85,
    x14), the PQ codebooks and the IVF-PQ coarse quantizer. ``qdf``
    holds quantized (__id, qx) vectors (``_pq_quantize``); each splits
    into ``n_subspaces`` equal slices and every subspace trains its own
    ``k`` centroids in the same corpus pass (``_lloyd_step``).

    Init: the slices of the ``k`` smallest ids. An emptied cluster
    keeps its centroid. Each iteration moves n_subspaces*k*dim scalars
    through ONE collect — bounded driver state at any corpus size.
    Returns (cents[s][c], counts[s][c]): the trained centroids and the
    member counts of the last assignment (all 0 when ``iters`` is 0)."""
    first = qdf.orderBy("__id").limit(k).collect()
    if len(first) < k:
        # the init collect already materialized this information — a
        # loud error here protects every caller from the cryptic
        # downstream IndexError for free
        raise ValueError(
            f"Lloyd k-means needs at least {k_name}={k} vectors to seed "
            f"the centroids; corpus has {len(first)}"
        )
    dim = len(first[0].qx)
    if dim % n_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible into {n_subspaces} subspaces")
    sub = dim // n_subspaces
    cents = [
        [list(r.qx)[s * sub : (s + 1) * sub] for r in first]
        for s in range(n_subspaces)
    ]
    counts = [[0] * k for _ in range(n_subspaces)]
    for _ in range(iters):
        counts = [[0] * k for _ in range(n_subspaces)]
        for r in _lloyd_step(qdf, cents).collect():
            cents[r["__s"]][r.cluster][r.dim] = r.val
            counts[r["__s"]][r.cluster] = r.n
    return cents, counts


def _train_pq(
    qdf: DataFrame, n_subspaces: int, k_codes: int, iters: int
) -> tuple[list[list[list[int]]], DataFrame, int, int]:
    """Train the per-subspace codebooks (``_lloyd``) and encode the
    corpus — the SINGLE implementation behind pq_topk and
    write_pq_index, so the inline and persisted paths cannot drift
    (their bit-identity is a pytest-pinned contract). Returns
    (codebooks, codes_df(__id, __code_0..), dim, sub)."""
    codebooks, _counts = _lloyd(qdf, k_codes, iters, n_subspaces, "k_codes")
    sub = len(codebooks[0][0])
    # encode with the frozen codebooks in ONE projection (`_pq_encode`
    # — every subspace's argmin side by side, join-free and
    # shuffle-free; append ≡ rebuild-encode is already the
    # pytest-pinned contract), instead of the per-subspace
    # assignment-frame chain equi-joined on __id — at 100 TB that
    # chain was n_subspaces-1 corpus-scale shuffle joins for what is
    # in-row literal arithmetic.
    codes = _pq_encode(qdf, codebooks, sub, n_subspaces).select(
        "__id",
        *[F.col(f"code_{s}").alias(f"__code_{s}") for s in range(n_subspaces)],
    )
    return codebooks, codes, sub * n_subspaces, sub


def _adc_tables(query_df: DataFrame, codebooks, sub: int, quantum: int):
    """Collect the (bounded) query probe set and build each query's
    integer L2^2 lookup table per subspace: [(query_id, tab_0, ...)]."""
    q = float(quantum)
    qrows = query_df.select(
        "query_id",
        F.expr(
            f"transform(qvec, x -> cast(floor(cast(x as double) * {q!r} "
            f"+ 0.5) as bigint))"
        ).alias("qx"),
    ).collect()
    out = []
    for r in qrows:
        qx = [int(v) for v in r.qx]
        tabs = []
        for s, book in enumerate(codebooks):
            qs = qx[s * sub : (s + 1) * sub]
            tabs.append(
                [sum((a - b) * (a - b) for a, b in zip(qs, c)) for c in book]
            )
        out.append((r.query_id, *tabs))
    return out


def _adc_rank(spark, codes: DataFrame, tab_rows, n_subspaces: int, topk: int) -> DataFrame:
    """Broadcast the per-query ADC tables against the encoded corpus,
    score by summed lookups, and take the per-query top-k (adist asc,
    neighbor id tie-break)."""
    schema = "query_id BIGINT, " + ", ".join(
        f"__adt_{s} ARRAY<BIGINT>" for s in range(n_subspaces)
    )
    qtab = _literal_df(spark, tab_rows, schema)
    adist = None
    for s in range(n_subspaces):
        term = F.element_at(F.col(f"__adt_{s}"), F.col(f"__code_{s}") + 1)
        adist = term if adist is None else adist + term
    from pyspark.sql import Window as W

    scored = (
        codes.crossJoin(F.broadcast(qtab))
        .filter(F.col("__id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("__id").alias("neighbor_id"),
            adist.cast("bigint").alias("adist"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select(
            "query_id", "neighbor_id", "adist", F.col("rnk").cast("int").alias("rnk")
        )
    )


def pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    n_subspaces: int = 2,
    k_codes: int = 4,
    iters: int = 1,
    topk: int = 5,
    quantum: int = 1_000_000,
) -> DataFrame:
    """Product-quantization ANN (IVF-PQ's compression half) with a
    bit-exact cross-engine oracle: split each vector into
    ``n_subspaces`` contiguous subvectors, train a tiny
    ``k_codes``-centroid quantized-Lloyd codebook per subspace (the
    x85 machinery on sliced arrays — every quantity integer or a
    single fixed IEEE division), encode every corpus vector as one
    code per subspace, and answer queries by ASYMMETRIC DISTANCE
    COMPUTATION: per query, precompute the integer L2^2 table query
    subvector -> each codebook centroid, then score a corpus vector as
    the SUM of table lookups on its codes — never touching the raw
    corpus vector again.

    This is the canonical 100 TB ANN shape: the corpus compresses from
    dim floats to ``n_subspaces`` small ints per vector (here 64 dims
    -> 2 bytes), the scan reads only the code columns, the per-query
    state is a k_codes x n_subspaces lookup table riding a broadcast,
    and the ranking is a bounded per-query window. Codebook training
    moves k*dim scalars per iteration through the driver barrier
    (x85's bounded-state pattern); queries are a probe set collected
    once to build the literal ADC tables.

    Everything is exact integer arithmetic (quantize half-up once;
    centroids via floor(sum/n) — the one shared IEEE division), so
    DuckDB replays training + encoding + ADC bit-for-bit. Ties: lowest
    cluster id on assignment, lowest neighbor id on rank.

    Returns (query_id, neighbor_id, adist, rnk) for rnk <= topk,
    self-matches excluded.
    """
    qdf = _pq_quantize(df, id_col, vec_col, quantum)
    codebooks, codes, _dim, sub = _train_pq(qdf, n_subspaces, k_codes, iters)
    tab_rows = _adc_tables(query_df, codebooks, sub, quantum)
    return _adc_rank(df.sparkSession, codes, tab_rows, n_subspaces, topk)


def write_pq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_subspaces: int = 2,
    k_codes: int = 4,
    iters: int = 1,
    quantum: int = 1_000_000,
) -> dict:
    """Persist a product-quantization index: train the per-subspace
    codebooks once (``_train_pq`` — the same machinery pq_topk runs
    inline), then write ``{path}/codes`` (one small int per subspace
    per vector — the only thing a probe ever scans),
    ``{path}/codebooks`` ((subspace, cluster, dim, val) rows — k*dim
    scalars), and ``{path}/meta`` (one row: n_subspaces, k_codes,
    quantum, dim — so probes CANNOT silently quantize on a different
    scale than the build). The build-once/probe-many upgrade over
    re-training per query batch (the PQ analog of ``write_ann_index``):
    at 100 TB the codes table is ~n_subspaces bytes/vector and
    partitions like any fact, while the codebooks are driver-trivial.

    Returns {"dim", "sub", "n_subspaces", "k_codes", "quantum",
    "n_vectors"}.
    """
    import glob as _glob
    import os as _os

    spark = df.sparkSession
    qdf = _pq_quantize(df, id_col, vec_col, quantum)
    codebooks, codes, dim, sub = _train_pq(qdf, n_subspaces, k_codes, iters)
    out_codes = codes.select(
        "__id", *[F.col(f"__code_{s}").alias(f"code_{s}") for s in range(n_subspaces)]
    )
    # n_vectors observed during the codes write (no post-hoc re-scan)
    from pyspark.sql import Observation

    _obs = Observation()
    out_codes.observe(_obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(f"{path}/codes")
    # a (re)build resets the index wholesale: stale idempotent-append
    # epoch markers from a previous incarnation must not make a
    # replayed epoch skip its append into the NEW index, and stale
    # tombstones must not delete freshly re-encoded rows
    for m in _glob.glob(f"{path}/_epoch_*"):
        _os.remove(m)
    from wren_engine_spark.operators import layout

    layout.clear_tombstones(spark, path=path)
    book_rows = [
        (s, c, d, int(codebooks[s][c][d]))
        for s in range(n_subspaces)
        for c in range(k_codes)
        for d in range(sub)
    ]
    spark.createDataFrame(
        book_rows, "subspace INT, cluster INT, dim INT, val BIGINT"
    ).write.mode("overwrite").parquet(f"{path}/codebooks")
    spark.createDataFrame(
        [(n_subspaces, k_codes, int(quantum), dim)],
        "n_subspaces INT, k_codes INT, quantum BIGINT, dim INT",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    n_vec = int(_obs.get["n"])
    return {
        "dim": dim,
        "sub": sub,
        "n_subspaces": n_subspaces,
        "k_codes": k_codes,
        "quantum": quantum,
        "n_vectors": n_vec,
    }


def _load_pq_index(spark, path: str):
    """Load a persisted PQ index's codebooks + meta. Returns
    (books: s -> cluster -> [vals by dim], meta row).

    Memoized per (session, path): meta + codebooks only change on a
    full rebuild (appends/compactions freeze them by design), and an
    uncached load costs two scheduled Spark jobs — on the probe-many
    serving path (pq_index_topk / pq_stream_search) that overhead
    dominated the probe itself. Invalidation is the sidecar files'
    own (name, size, mtime) token, so a rebuild by ANY process misses
    the cache (operators/index_meta.py)."""
    from wren_engine_spark.operators import index_meta

    def load():
        meta = spark.read.parquet(f"{path}/meta").collect()[0]
        raw: dict[int, dict[int, dict[int, int]]] = {}
        for r in spark.read.parquet(f"{path}/codebooks").collect():
            raw.setdefault(r.subspace, {}).setdefault(r.cluster, {})[r.dim] = r.val
        books = [
            [
                [raw[s][c][d] for d in range(len(raw[s][c]))]
                for c in sorted(raw[s])
            ]
            for s in sorted(raw)
        ]
        return books, meta

    return index_meta.cached_read(
        spark, ("pq", path), [f"{path}/meta", f"{path}/codebooks"], load
    )


def pq_index_delete(spark, path: str, ids) -> dict:
    """Tombstone-delete vectors from a persisted codes-layout index
    (PQ, and the IVF-PQ composite, which shares the layout and the
    compactor): ``layout.append_tombstones`` to ``{path}/tombstones``;
    every probe (``pq_index_topk`` / ``pq_stream_search`` /
    ``ivfpq_index_topk``) anti-joins them out until
    ``pq_index_compact`` folds them into its codes rewrite. A delete
    never touches a codes file — the merge-on-read half of a
    delete-vector design, with compaction as the merge-on-write half.
    Geometry is untouched by design (the codebooks keep serving — the
    same frozen-geometry contract as append; re-train when the recall
    gate says the distribution moved).

    ``ids``: a DataFrame (its first column) or an iterable of plain
    values, cast to the codes table's own ``__id`` type.
    Returns {"n_tombstones": distinct ids appended by this call}.
    """
    from wren_engine_spark.operators import layout

    return layout.append_tombstones(spark, ids, "__id", path=path)


def pq_index_topk(
    spark,
    path: str,
    query_df: DataFrame,
    topk: int = 5,
) -> DataFrame:
    """Probe a persisted PQ index (``write_pq_index``): load the
    k*dim codebook scalars + build parameters from the index itself
    (the probe can never quantize on a different scale than the
    build), build each query's integer ADC tables, and scan ONLY the
    codes table — a broadcast of the per-query tables against a
    narrow-integer fact scan, then the bounded per-query rank window.
    Training cost is fully amortized out of the probe path (the x63
    build-once/probe-many contract, for PQ). Bit-identical to
    ``pq_topk`` on the same corpus (pytest-pinned).

    Returns (query_id, neighbor_id, adist, rnk).
    """
    books, meta = _load_pq_index(spark, path)
    sub = meta.dim // meta.n_subspaces
    tab_rows = _adc_tables(query_df, books, sub, meta.quantum)
    from wren_engine_spark.operators import layout

    codes = layout.without_tombstones(
        spark.read.parquet(f"{path}/codes"), "__id", path=path
    ).select(
        "__id",
        *[F.col(f"code_{s}").alias(f"__code_{s}") for s in range(meta.n_subspaces)],
    )
    return _adc_rank(spark, codes, tab_rows, meta.n_subspaces, topk)


def _pq_argmin(vec, centroids: list[list[int]]):
    """Integer squared-L2 argmin of the array column ``vec`` against
    literal centroid arrays, ties to the lowest cluster id: the one
    integer assignment kernel — the Lloyd step, the encodes and the
    IVF-PQ cell assignment all call it, and as a bare Column ONE
    projection can encode every subspace of a vector at once."""
    dists = [
        F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(int(v)).cast("bigint") for v in c]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        for c in centroids
    ]
    best = F.struct(dists[0].alias("d"), F.lit(0).cast("int").alias("c"))
    for i in range(1, len(dists)):
        cand = F.struct(dists[i].alias("d"), F.lit(i).cast("int").alias("c"))
        best = F.when(cand["d"] < best["d"], cand).otherwise(best)
    return best["c"]


def _pq_encode(qdf: DataFrame, books, sub: int, n_subspaces: int) -> DataFrame:
    """Frozen-codebook encode of quantized vectors: every subspace's
    integer argmin in ONE projection — join-free and shuffle-free by
    construction (no per-subspace self-join chain on ``__id``;
    pytest-pinned with a no-Join/no-Exchange plan assert)."""
    return qdf.select(
        "__id",
        *[
            _pq_argmin(
                F.slice(F.col("qx"), s * sub + 1, sub), books[s]
            ).alias(f"code_{s}")
            for s in range(n_subspaces)
        ],
    )


def pq_index_append(
    spark,
    path: str,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    epoch_id: int | None = None,
) -> dict:
    """Append a batch of new vectors to a persisted PQ index WITHOUT
    retraining: encode the batch with the index's FROZEN codebooks —
    the in-row integer argmin against literal centroid arrays
    (``_pq_argmin``, join-free and shuffle-free by construction) —
    and append the resulting codes to ``{path}/codes``. Codebooks and
    meta are never touched: appended rows probe through the identical
    ADC tables as build-time rows, so append ≡ rebuild-encode under
    the same codebooks (pytest-pinned), and codebook drift is an
    explicit retrain decision, not an ingestion side-effect.

    This is the index-freshness half of the 100 TB story
    (write_pq_index is build-once; continuous ingestion needs
    append-many): the cost per batch is ONE narrow projection that
    quantizes, slices, and argmins every subspace at once — no join
    anywhere in the encode, and the CORPUS is never read, shuffled,
    or re-encoded — then a parquet append; the only index state
    touched is the k*dim codebook scalars.
    Quantization scale and shape come from the index's own meta, so a
    batch can never be encoded on a different scale than the corpus;
    a wrong-dimension vector fails the write loudly via an in-plan
    assert (x66's budget-guard pattern) instead of silently encoding
    garbage. Dedup of the batch against the corpus is upstream policy
    (x70/x73's ingest_decisions family), not the encoder's.

    Delivery semantics: a bare append is AT-LEAST-ONCE — a caller that
    retries after a crash between the parquet append and its own
    bookkeeping would double-append. Pass ``epoch_id`` (e.g. the
    foreachBatch batch id) for an IDEMPOTENT append: the batch's codes
    are staged, moved into the codes directory under deterministic
    ``epoch-{id}-*`` names (any stragglers from a crashed earlier
    attempt of the SAME epoch are deleted first), and the epoch is
    marked done — a replayed microbatch converges to exactly one copy
    no matter where the previous attempt died.

    Returns {"n_appended", "dim", "n_subspaces"} (+"skipped": True
    when the epoch was already fully applied).
    """
    books, meta = _load_pq_index(spark, path)
    sub = meta.dim // meta.n_subspaces
    # the returned count is observed DURING the (single) append write:
    # one job, one pass over the batch's upstream lineage, and the
    # count cannot disagree with what was written even under a
    # nondeterministic upstream — the ann/simhash append discipline
    from pyspark.sql import Observation

    obs = Observation()
    qdf = _pq_quantize(
        df.observe(obs, F.count(F.lit(1)).alias("n")), id_col, vec_col,
        meta.quantum,
    ).withColumn(
        "qx",
        F.expr(
            f"CASE WHEN assert_true(size(qx) = {meta.dim}, "
            f"'pq_index_append: vector dim != index dim {meta.dim}') IS NULL "
            f"THEN qx END"
        ),
    )
    out = _pq_encode(qdf, books, sub, meta.n_subspaces)
    if epoch_id is None:
        out.write.mode("append").parquet(f"{path}/codes")
    elif not _epoch_staged_append(path, out, epoch_id, "pq_index_append"):
        return {
            "n_appended": 0,
            "dim": meta.dim,
            "n_subspaces": meta.n_subspaces,
            "skipped": True,
        }
    n = int(obs.get["n"])
    return {"n_appended": n, "dim": meta.dim, "n_subspaces": meta.n_subspaces}


def _epoch_staged_append(path: str, out: DataFrame, epoch_id, op: str) -> bool:
    """Idempotent staged append of ``out`` into ``{path}/codes`` under
    ``epoch_id`` — the exactly-once protocol every persisted index's
    streaming ingestion shares (pq_index_append / ivfpq_index_append):
    stage to a scratch directory, delete stragglers from a crashed
    earlier attempt of this epoch, move the parts in under
    deterministic epoch-qualified names (os.replace is idempotent, so
    a re-run converges), then write the ``_epoch_{{id}}`` marker. Only
    atomic on a local (POSIX/HDFS-style) filesystem — refuses
    object-store paths loudly. Returns False (no write) when the
    epoch's marker says it was already fully applied."""
    import glob
    import os
    import shutil

    from wren_engine_spark.operators import index_meta

    index_meta.require_local_index_path(path, op)
    marker = f"{path}/_epoch_{int(epoch_id)}"
    if os.path.isfile(marker):
        return False
    staging = f"{path}/.staging-{int(epoch_id)}"
    out.write.mode("overwrite").parquet(staging)
    for stale in glob.glob(f"{path}/codes/epoch-{int(epoch_id)}-*.parquet"):
        os.remove(stale)
    parts = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    for i, f in enumerate(parts):
        os.replace(
            os.path.join(staging, f),
            f"{path}/codes/epoch-{int(epoch_id)}-{i:05d}.parquet",
        )
    shutil.rmtree(staging)
    with open(marker, "w", encoding="utf-8") as fh:
        fh.write("done\n")
    return True


def pq_index_compact(
    spark,
    path: str,
    target_files: int | None = None,
    target_bytes_per_file: int = 128 * 1024 * 1024,
) -> dict:
    """Compact the PQ index's codes table after many appends. Every
    ``pq_index_append`` batch adds >= 1 parquet file; under continuous
    ingestion the codes directory degrades into the classic small-file
    problem (per-file open/footer cost dominates the narrow-int scan,
    and listing slows every probe). Compaction coalesces the codes to
    ``target_files`` (default: total bytes / 128 MiB, min 1) WITHOUT a
    shuffle — ``coalesce`` merges input splits narrowly; codebooks and
    meta are untouched. Tombstones (``pq_index_delete``) are folded
    into the rewrite (``layout.folded_tombstones``), so probes — which
    already excluded tombstoned rows — are bit-identical before and
    after (pytest-pinned, and x101 re-certifies through the same
    driver oracle as x100).

    The rewrite goes to ``{path}/codes.compacting`` and is swapped in
    with two directory renames. Each rename is atomic (POSIX/HDFS),
    but the PAIR is not: a crash between them leaves ``codes`` absent
    with the previous data intact at ``codes.old`` — the next call
    (or probe-side rebuild) restores it, and the recovery guard below
    runs first thing. A production object store would swap a manifest
    pointer instead, collapsing the window to one atomic write.

    Returns {"files_before", "files_after", "n_rows"}.
    """
    import math
    import os
    import re
    import shutil

    from wren_engine_spark.operators import index_meta

    # the two-rename swap below is only atomic on a local (POSIX/
    # HDFS-style) filesystem — refuse loudly on object-store paths
    index_meta.require_local_index_path(path, "pq_index_compact")
    codes_dir = f"{path}/codes"
    old = f"{path}/codes.old"
    # crash recovery: a previous compaction that died between its two
    # renames left the data at codes.old — restore before proceeding
    if not os.path.isdir(codes_dir) and os.path.isdir(old):
        os.rename(old, codes_dir)
    # ingestion-crash hygiene: epoch-{id}-*.parquet files WITHOUT their
    # _epoch_{id} marker are a partial append (the appender died
    # between its file moves and its marker write). Folding them into
    # generic part files would make the epoch's eventual replay append
    # a full second copy — its straggler glob would match nothing — so
    # delete them first, exactly what the replay itself would do.
    # Single-writer discipline assumed (the lifecycle's ingestion is a
    # sequential foreachBatch; see t16).
    done = {
        int(f[len("_epoch_"):])
        for f in os.listdir(path)
        if f.startswith("_epoch_") and f[len("_epoch_"):].isdigit()
    }
    for f in os.listdir(codes_dir):
        m = re.match(r"epoch-(\d+)-\d+\.parquet$", f)
        if m and int(m.group(1)) not in done:
            os.remove(os.path.join(codes_dir, f))
    df = spark.read.parquet(codes_dir)
    files_before = len(df.inputFiles())
    if target_files is None:
        total = 0
        for dirpath, _dirs, files in os.walk(codes_dir):
            for fn in files:
                if fn.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(dirpath, fn))
        target_files = max(1, math.ceil(total / float(target_bytes_per_file)))
    tmp = f"{path}/codes.compacting"
    # the compacted row count is observed DURING the rewrite itself —
    # no post-hoc scan of the rewritten files, no second anti-join
    from pyspark.sql import Observation

    from wren_engine_spark.operators import layout

    obs = Observation()
    with layout.folded_tombstones(df, "__id", path=path) as live:
        live.observe(obs, F.count(F.lit(1)).alias("n")).coalesce(
            target_files
        ).write.mode("overwrite").parquet(tmp)
        n_rows = int(obs.get["n"])
        if os.path.isdir(old):
            shutil.rmtree(old)
        os.rename(codes_dir, old)
        os.rename(tmp, codes_dir)
        shutil.rmtree(old)
    files_after = len(spark.read.parquet(codes_dir).inputFiles())
    return {
        "files_before": files_before,
        "files_after": files_after,
        "n_rows": n_rows,
    }


def pq_stream_search(
    spark,
    path: str,
    query_stream: DataFrame,
    topk: int = 5,
) -> DataFrame:
    """STREAMING vector retrieval against a persisted PQ index: each
    arriving query vector builds its integer ADC lookup tables IN-ROW
    (JVM HOFs against the codebook centroids inlined as literals —
    k_codes x subdim x n_subspaces ints, driver-trivial), stream-
    static joins the codes table, and takes the per-query top-k with
    a streaming groupBy + in-row sort of the collected (adist, id)
    pairs — the online-RAG serving shape: corpus stays encoded and
    static, queries flow, no raw vector is ever read on the hot path.
    Quantization scale and shape come from the index's own meta
    (write_pq_index), never from a caller parameter.

    Per-query state is the k candidate pairs inside one aggregation
    group; the static codes side behaves like any dimension table
    (re-broadcast per microbatch). Results are bit-identical to the
    batch ``pq_index_topk`` on the same index (integer arithmetic
    end-to-end; ties to the lowest neighbor id).

    Returns a streaming DataFrame (query_id, neighbor_id, adist, rnk)
    — drain with availableNow + complete mode for the bounded replay.
    """
    books, meta = _load_pq_index(spark, path)
    n_sub, sub, q = meta.n_subspaces, meta.dim // meta.n_subspaces, float(meta.quantum)
    qdf = query_stream.select(
        "query_id",
        F.expr(
            f"transform(qvec, x -> cast(floor(cast(x as double) * {q!r} "
            f"+ 0.5) as bigint))"
        ).alias("__qx"),
    )
    tabs = []
    for s in range(n_sub):
        cents = "array(" + ",".join(
            "array(" + ",".join(f"{v}L" for v in c) + ")" for c in books[s]
        ) + ")"
        qs = f"slice(__qx, {s * sub + 1}, {sub})"
        tabs.append(
            f"transform({cents}, c -> aggregate(zip_with({qs}, c, "
            f"(a, b) -> (a - b) * (a - b)), cast(0 as bigint), "
            f"(acc, x) -> acc + x))"
        )
    q2 = qdf.select(
        "query_id", *[F.expr(t).alias(f"__adt_{s}") for s, t in enumerate(tabs)]
    )
    from wren_engine_spark.operators import layout

    codes = layout.without_tombstones(
        spark.read.parquet(f"{path}/codes"), "__id", path=path
    )
    adist = None
    for s in range(n_sub):
        term = F.element_at(F.col(f"__adt_{s}"), F.col(f"__code_{s}") + 1)
        adist = term if adist is None else adist + term
    renamed = codes.select(
        F.col("__id"),
        *[F.col(f"code_{s}").alias(f"__code_{s}") for s in range(n_sub)],
    )
    scored = q2.join(renamed, F.col("__id") != F.col("query_id")).select(
        "query_id",
        F.col("__id").alias("neighbor_id"),
        adist.cast("bigint").alias("adist"),
    )
    best = scored.groupBy("query_id").agg(
        F.expr(
            f"slice(array_sort(collect_list(struct(adist, neighbor_id))), "
            f"1, {int(topk)})"
        ).alias("__top")
    )
    return best.select(
        "query_id", F.posexplode("__top").alias("__p", "__t")
    ).select(
        "query_id",
        F.col("__t.neighbor_id").alias("neighbor_id"),
        F.col("__t.adist").alias("adist"),
        (F.col("__p") + 1).cast("int").alias("rnk"),
    )


def ivfpq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    nlist: int = 4,
    nprobe: int = 2,
    n_subspaces: int = 2,
    k_codes: int = 4,
    coarse_iters: int = 2,
    pq_iters: int = 1,
    topk: int = 5,
    quantum: int = 1_000_000,
) -> DataFrame:
    """IVF-PQ composite ANN — the standard production architecture at
    billion-vector scale (FAISS ``IndexIVFPQ``): an ``nlist``-cell
    coarse quantizer prunes the search to ``nprobe`` inverted lists,
    and inside the probed lists the vectors are PRODUCT-QUANTIZED
    RESIDUALS scored by asymmetric distance computation — the corpus
    both prunes (IVF) and compresses (PQ), the two halves this repo
    previously shipped separately (ivf_topk / pq_topk; reference
    parity targets x14 + x93's operators composed).

    Bit-exact cross-engine by construction, because every stage stays
    in the quantized-integer domain:

    - coarse training is the one integer Lloyd loop (``_lloyd`` —
      x85's bit-exact machinery);
    - corpus assignment is the in-row integer argmin against literal
      centroids (``_pq_argmin`` — join-free, shuffle-free);
    - the residual is EXACT integer subtraction qx - centroid_q[list]
      (no float re-quantization anywhere), one narrow projection with
      the centroid matrix riding the plan as an array literal;
    - PQ codebooks train on the residuals with the same quantized
      Lloyd loop per subspace (``_train_pq``), and the corpus encodes in
      ONE join-free projection (``_pq_argmin`` per subspace);
    - probing ranks candidates by summed integer ADC table lookups,
      where each (query, probed list) pair gets its own table built
      from the query's residual AGAINST THAT LIST's centroid — the
      residual trick that makes IVF-PQ more accurate than global PQ.

    At 100 TB: training moves nlist*dim + n_subspaces*k_codes*subdim
    scalars through the driver barrier (bounded at any corpus size);
    the encoded corpus is ~n_subspaces bytes + one small int per
    vector and partitions by ``__list`` so a probe touches only
    matching partitions; the query side is a bounded probe set whose
    (query, list, ADC-table) rows broadcast. Candidate lists are
    disjoint (a vector lives in exactly one cell), so the rank window
    needs no dedup. This inline trainer recomputes the
    assign+residual projection once per training barrier — the
    build-once deployment is ``write_ivfpq_index`` /
    ``ivfpq_index_topk`` (codes + coarse centroids + codebooks + meta
    sidecars, memoized geometry, frozen-geometry append).

    ``query_df`` columns: (query_id, qvec). Self-matches excluded.
    Ties: lowest cluster id on every argmin, lowest neighbor id on
    rank. Returns (query_id, neighbor_id, adist, rnk), rnk <= topk.
    """
    spark = df.sparkSession
    # validate the probe set BEFORE paying for training: the corpus
    # dim is one limit-1 peek, and a malformed query set (wrong dim,
    # NULL vector) must not cost coarse_iters + pq_iters full corpus
    # passes before failing
    first = df.select(vec_col).limit(1).collect()
    if not first:
        raise ValueError("ivfpq_topk: corpus is empty")
    qrows = _ivfpq_quantized_queries(query_df, quantum, len(first[0][0]))
    coarse, books, sub, rdf = _ivfpq_train(
        df, id_col, vec_col, nlist, n_subspaces, k_codes,
        coarse_iters, pq_iters, quantum,
    )
    enc = _ivfpq_codes(rdf, books, sub, n_subspaces)
    # per-query probe plan + broadcast ADC rank — the SAME kernels the
    # persisted-index probe runs, so inline and persisted cannot drift
    tab_rows = _ivfpq_adc_rows(qrows, coarse, books, sub, nprobe)
    return _ivfpq_rank(spark, enc, tab_rows, n_subspaces, topk)


def _ivfpq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    nlist: int,
    n_subspaces: int,
    k_codes: int,
    coarse_iters: int,
    pq_iters: int,
    quantum: int,
):
    """The SINGLE IVF-PQ training implementation behind ivfpq_topk and
    write_ivfpq_index (the ``_train_pq`` cannot-drift discipline):
    quantize once, then 1) the coarse quantizer via the one integer
    Lloyd loop (k*dim driver scalars), 2) assign + exact-integer
    residual in one narrow pass, 3) residual PQ codebooks per subspace.
    Returns (coarse, books, sub, rdf) where rdf is the (__id, __list,
    qx=residual) frame the encode consumes. A corpus smaller than
    nlist fails loudly inside the loop's own seed collect — no extra
    Spark job here."""
    qdf = _pq_quantize(df, id_col, vec_col, quantum)
    (coarse,), _counts = _lloyd(qdf, nlist, coarse_iters)
    rdf = _ivfpq_residuals(qdf, coarse)
    books, _codes, _dimr, sub = _train_pq(rdf, n_subspaces, k_codes, pq_iters)
    return coarse, books, sub, rdf


def _ivfpq_residuals(qdf: DataFrame, coarse: list[list[int]]) -> DataFrame:
    """Coarse-assign + exact-integer residual in one narrow pass:
    in-row argmin against the literal centroids (``_pq_argmin``), then
    ``qx - centroid_q[cell]`` with the centroid matrix riding the plan
    as an array-of-arrays literal — no join, no shuffle. Returns
    (__id, __list, qx=residual)."""
    cent_arr = F.array(
        *[F.array(*[F.lit(int(v)).cast("bigint") for v in c]) for c in coarse]
    )
    return qdf.select(
        "__id", _pq_argmin(F.col("qx"), coarse).alias("__list"), "qx"
    ).select(
        "__id",
        "__list",
        F.zip_with(
            F.col("qx"),
            F.element_at(cent_arr, F.col("__list") + 1),
            lambda a, b: a - b,
        ).alias("qx"),
    )


def _ivfpq_codes(rdf: DataFrame, books, sub: int, n_subspaces: int) -> DataFrame:
    """Encode residuals against frozen codebooks, keeping the cell id:
    every subspace's integer argmin in ONE join-free projection
    (``_pq_argmin`` — the ``_pq_encode`` kernel plus ``__list``).
    Returns (__id, __list, code_0..)."""
    return rdf.select(
        "__id",
        "__list",
        *[
            _pq_argmin(F.slice(F.col("qx"), s * sub + 1, sub), books[s]).alias(
                f"code_{s}"
            )
            for s in range(n_subspaces)
        ],
    )


def _ivfpq_quantized_queries(query_df: DataFrame, quantum: int, dim: int):
    """Collect the bounded query probe set, quantized through the SAME
    Spark expression the corpus used (no Python-side float path). A
    query whose dimension differs from the index's fails LOUDLY —
    without this the driver-side zips would silently truncate to the
    shorter vector and return plausible-but-wrong neighbors (the same
    hazard the appends guard with their in-plan dim assert)."""
    q = float(quantum)
    rows = query_df.select(
        "query_id",
        F.expr(
            f"transform(qvec, x -> cast(floor(cast(x as double) * {q!r} "
            f"+ 0.5) as bigint))"
        ).alias("qx"),
    ).collect()
    for r in rows:
        if r.qx is None:
            raise ValueError(
                f"ivfpq probe: query {r.query_id!r} has a NULL vector"
            )
        if len(r.qx) != dim:
            raise ValueError(
                f"ivfpq probe: query {r.query_id!r} has dim {len(r.qx)}, "
                f"index dim is {dim}"
            )
    return rows


def _ivfpq_adc_rows(qrows, coarse, books, sub: int, nprobe: int):
    """Driver-side probe plan for the bounded query set: nprobe
    nearest cells by exact integer L2^2 (ties to the lowest cell), and
    one integer ADC table per (query, cell) built from the query's
    residual against THAT cell's centroid — the residual trick that
    makes IVF-PQ more accurate than global PQ."""
    tab_rows = []
    for r in qrows:
        qx = [int(v) for v in r.qx]
        cd = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qx, c)), i)
            for i, c in enumerate(coarse)
        )
        for _d, list_id in cd[:nprobe]:
            qres = [a - b for a, b in zip(qx, coarse[list_id])]
            tabs = []
            for s, book in enumerate(books):
                qs = qres[s * sub : (s + 1) * sub]
                tabs.append(
                    [sum((a - b) * (a - b) for a, b in zip(qs, c)) for c in book]
                )
            tab_rows.append((r.query_id, list_id, *tabs))
    return tab_rows


def _ivfpq_rank(
    spark, enc: DataFrame, tab_rows, n_subspaces: int, topk: int
) -> DataFrame:
    """Score only the probed cells: broadcast the (query, cell, ADC)
    rows against the encoded corpus, sum the integer lookups, and take
    the per-query top-k (adist asc, neighbor id tie-break). Cells are
    disjoint — a vector lives in exactly one — so no dedup window is
    needed."""
    from pyspark.sql import Window as W

    schema = "query_id BIGINT, __list INT, " + ", ".join(
        f"__adt_{s} ARRAY<BIGINT>" for s in range(n_subspaces)
    )
    qtab = _literal_df(spark, tab_rows, schema)
    adist = None
    for s in range(n_subspaces):
        term = F.element_at(F.col(f"__adt_{s}"), F.col(f"code_{s}") + 1)
        adist = term if adist is None else adist + term
    scored = (
        enc.join(F.broadcast(qtab), "__list")
        .filter(F.col("__id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("__id").alias("neighbor_id"),
            adist.cast("bigint").alias("adist"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select(
            "query_id", "neighbor_id", "adist", F.col("rnk").cast("int").alias("rnk")
        )
    )


def write_ivfpq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    nlist: int = 4,
    n_subspaces: int = 2,
    k_codes: int = 4,
    coarse_iters: int = 2,
    pq_iters: int = 1,
    quantum: int = 1_000_000,
) -> dict:
    """Persist an IVF-PQ composite index — the build-once/probe-many
    deployment of ``ivfpq_topk`` (write_pq_index's sidecar pattern for
    the composite): train the coarse quantizer + residual codebooks
    once, then write ``{path}/codes`` ((__id, __list, code_s) — the
    only thing a probe ever scans, ~one small int + n_subspaces codes
    per vector, partitionable by cell), ``{path}/coarse`` (nlist*dim
    centroid scalars), ``{path}/codebooks`` (k_codes*dim scalars per
    subspace), and ``{path}/meta`` (nlist/n_subspaces/k_codes/quantum/
    dim — so probes and appends can NEVER assign, quantize, or encode
    on different parameters than the build; nprobe stays a query-time
    knob, it changes no persisted state). Training and encoding are
    the exact kernels the inline path runs, so a probe of this index
    is bit-identical to ``ivfpq_topk`` on the same corpus
    (pytest-pinned).

    Returns {"dim", "sub", "nlist", "n_subspaces", "k_codes",
    "quantum", "n_vectors"}.
    """
    spark = df.sparkSession
    coarse, books, sub, rdf = _ivfpq_train(
        df, id_col, vec_col, nlist, n_subspaces, k_codes,
        coarse_iters, pq_iters, quantum,
    )
    dim = len(coarse[0])
    # n_vectors observed during the codes write (no post-hoc re-scan)
    from pyspark.sql import Observation

    _obs = Observation()
    _ivfpq_codes(rdf, books, sub, n_subspaces).observe(
        _obs, F.count(F.lit(1)).alias("n")
    ).write.mode("overwrite").parquet(f"{path}/codes")
    # a (re)build resets the index wholesale: stale idempotent-append
    # epoch markers from a previous incarnation must not make a
    # replayed epoch skip its append into the NEW index, and stale
    # tombstones must not delete freshly re-encoded rows
    import glob as _glob
    import os as _os

    from wren_engine_spark.operators import layout

    for m in _glob.glob(f"{path}/_epoch_*"):
        _os.remove(m)
    layout.clear_tombstones(spark, path=path)
    spark.createDataFrame(
        [(c, d, coarse[c][d]) for c in range(nlist) for d in range(dim)],
        "cluster INT, dim INT, val BIGINT",
    ).write.mode("overwrite").parquet(f"{path}/coarse")
    spark.createDataFrame(
        [
            (s, c, d, int(books[s][c][d]))
            for s in range(n_subspaces)
            for c in range(k_codes)
            for d in range(sub)
        ],
        "subspace INT, cluster INT, dim INT, val BIGINT",
    ).write.mode("overwrite").parquet(f"{path}/codebooks")
    spark.createDataFrame(
        [(nlist, n_subspaces, k_codes, int(quantum), dim,
          int(coarse_iters), int(pq_iters))],
        "nlist INT, n_subspaces INT, k_codes INT, quantum BIGINT, dim INT, "
        "coarse_iters INT, pq_iters INT",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    n_vec = int(_obs.get["n"])
    return {
        "dim": dim,
        "sub": sub,
        "nlist": nlist,
        "n_subspaces": n_subspaces,
        "k_codes": k_codes,
        "quantum": quantum,
        "n_vectors": n_vec,
    }


def _load_ivfpq_index(spark, path: str):
    """Load a persisted IVF-PQ index's meta + coarse centroids +
    codebooks, memoized per (session, path) and invalidated by the
    sidecar files' own fs token (operators/index_meta.py) — they only
    change on a full rebuild; appends encode with frozen parameters by
    design and keep the cache warm. Returns (meta row, coarse, books)."""
    from wren_engine_spark.operators import index_meta

    def load():
        meta = spark.read.parquet(f"{path}/meta").collect()[0]
        got = {
            (r.cluster, r.dim): int(r.val)
            for r in spark.read.parquet(f"{path}/coarse").collect()
        }
        coarse = [
            [got[(c, d)] for d in range(meta.dim)] for c in range(meta.nlist)
        ]
        raw: dict[int, dict[int, dict[int, int]]] = {}
        for r in spark.read.parquet(f"{path}/codebooks").collect():
            raw.setdefault(r.subspace, {}).setdefault(r.cluster, {})[r.dim] = r.val
        books = [
            [
                [raw[s][c][d] for d in range(len(raw[s][c]))]
                for c in sorted(raw[s])
            ]
            for s in sorted(raw)
        ]
        return meta, coarse, books

    return index_meta.cached_read(
        spark,
        ("ivfpq", path),
        [f"{path}/meta", f"{path}/coarse", f"{path}/codebooks"],
        load,
    )


def ivfpq_index_topk(
    spark,
    path: str,
    query_df: DataFrame,
    nprobe: int = 2,
    topk: int = 5,
) -> DataFrame:
    """Probe a persisted IVF-PQ index: nprobe nearest cells per query
    (exact integer L2^2 against the index's own coarse centroids), one
    integer ADC table per (query, cell) from the query's residual,
    broadcast-joined against the codes-only scan. Quantization scale,
    cell count, and codebooks come from the index's own sidecars
    (memoized — zero extra Spark jobs per probe after the first), so a
    probe can never hash a query onto geometry the corpus was not
    encoded under. Bit-identical to the inline ``ivfpq_topk`` on the
    same corpus/parameters (same kernels; pytest-pinned).

    Returns (query_id, neighbor_id, adist, rnk)."""
    meta, coarse, books = _load_ivfpq_index(spark, path)
    sub = meta.dim // meta.n_subspaces
    qrows = _ivfpq_quantized_queries(query_df, int(meta.quantum), meta.dim)
    tab_rows = _ivfpq_adc_rows(qrows, coarse, books, sub, nprobe)
    from wren_engine_spark.operators import layout

    codes = layout.without_tombstones(
        spark.read.parquet(f"{path}/codes"), "__id", path=path
    )
    return _ivfpq_rank(spark, codes, tab_rows, meta.n_subspaces, topk)


def ivfpq_index_append(
    spark,
    path: str,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    epoch_id: int | None = None,
) -> dict:
    """Append a batch to a persisted IVF-PQ index WITHOUT retraining:
    assign each new vector to its cell and encode its residual against
    the index's FROZEN coarse centroids + codebooks (one join-free
    projection — assign, residual, and every subspace's argmin in a
    single narrow pass), then parquet-append the codes. Because the
    geometry is frozen in the index's own sidecars, an appended batch
    encodes EXACTLY as a full re-encode with the same parameters would
    (append ≡ rebuild, pytest-pinned) — x100's contract for the
    composite family. The corpus is never read, shuffled, or
    re-encoded; the batch persists before counting so a
    nondeterministic upstream cannot make n_appended disagree with
    what was written. Centroid drift under sustained appends is the
    documented trade: ADC distances stay exact for the frozen
    geometry, recall degrades only as the data distribution moves —
    re-train via write_ivfpq_index when the x108-style gate says so.

    With ``epoch_id`` (streaming foreachBatch ingestion, t17), the
    append runs the shared exactly-once staged-write protocol
    (``_epoch_staged_append`` — the same machinery pq_index_append's
    epoch mode runs): a microbatch replayed after a crash between the
    data write and the checkpoint commit converges to exactly one
    copy. ``pq_index_compact`` works on this index's codes directory
    unchanged (it is schema-agnostic over codes and honors the same
    epoch markers).

    Returns {"n_appended", "dim", "nlist", "n_subspaces"}
    (+"skipped": True when the epoch was already fully applied).
    """
    meta, coarse, books = _load_ivfpq_index(spark, path)
    sub = meta.dim // meta.n_subspaces
    # count observed during the single append write (one job, one pass
    # — the pq_index_append discipline)
    from pyspark.sql import Observation

    obs = Observation()
    qdf = _pq_quantize(
        df.observe(obs, F.count(F.lit(1)).alias("n")), id_col, vec_col,
        int(meta.quantum),
    ).withColumn(
        "qx",
        F.expr(
            f"CASE WHEN assert_true(size(qx) = {meta.dim}, "
            f"'ivfpq_index_append: vector dim != index dim {meta.dim}') "
            f"IS NULL THEN qx END"
        ),
    )
    enc = _ivfpq_codes(
        _ivfpq_residuals(qdf, coarse), books, sub, meta.n_subspaces
    )
    if epoch_id is None:
        enc.write.mode("append").parquet(f"{path}/codes")
    elif not _epoch_staged_append(
        path, enc, epoch_id, "ivfpq_index_append"
    ):
        return {
            "n_appended": 0,
            "dim": meta.dim,
            "nlist": meta.nlist,
            "n_subspaces": meta.n_subspaces,
            "skipped": True,
        }
    n = int(obs.get["n"])
    return {
        "n_appended": n,
        "dim": meta.dim,
        "nlist": meta.nlist,
        "n_subspaces": meta.n_subspaces,
    }


def ivfpq_tune_nprobe(
    spark,
    path: str,
    corpus_df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    topk: int = 5,
    recall_target: float = 0.9,
) -> DataFrame:
    """Recall-targeted nprobe auto-tuning for the persisted IVF-PQ
    index: measure recall@topk against the exact quantized-L2 answer
    for EVERY nprobe in 1..nlist in ONE pass, and mark the smallest
    nprobe that meets ``recall_target`` — the serving knob x108's
    single-point gate exists to inform, automated. nprobe is a pure
    query-time parameter (no persisted state), so the tuner reads the
    index like any probe: geometry from the memoized sidecars,
    candidates from the codes-only scan, tombstones honored.

    One pass instead of nlist probes: the per-(query, cell) integer
    ADC tables are built for ALL cells with each cell's distance RANK
    attached; a broadcast nprobe spine (1..nlist) then replays every
    "what if nprobe=np" hypothesis as a filter ``cellrank <= np`` over
    the SAME scored scan — the codes are read once, not nlist times.
    The exact side is the brute-force quantized-L2 top-k over the
    corpus (bounded query set broadcast; ~|corpus| x |queries| integer
    folds — the validation-set sizing knob, not a serving path). All
    arithmetic is integer with id tie-breaks; mean recall is an exact
    integer ratio — deterministic and engine-portable.

    Centroid-drift workflow: run after appends accumulate; if even
    nprobe=nlist misses the target, the geometry is stale — retrain
    via write_ivfpq_index (the x108 contract).

    Returns one row per nprobe: (nprobe, n_hits, mean_recall,
    meets_target, chosen) — ``chosen`` marks the minimal qualifying
    nprobe (all false when none qualifies).
    """
    from pyspark.sql import Window as W

    meta, coarse, books = _load_ivfpq_index(spark, path)
    sub = meta.dim // meta.n_subspaces
    qrows = _ivfpq_quantized_queries(query_df, int(meta.quantum), meta.dim)
    n_queries = len(qrows)
    # all-cells ADC rows, each carrying its cell's distance rank
    tab_rows = []
    for r in qrows:
        qx = [int(v) for v in r.qx]
        cd = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qx, c)), i)
            for i, c in enumerate(coarse)
        )
        for rank0, (_d, list_id) in enumerate(cd):
            qres = [a - b for a, b in zip(qx, coarse[list_id])]
            tabs = [
                [
                    sum(
                        (a - b) * (a - b)
                        for a, b in zip(qres[s * sub : (s + 1) * sub], c)
                    )
                    for c in books[s]
                ]
                for s in range(meta.n_subspaces)
            ]
            tab_rows.append((r.query_id, list_id, rank0 + 1, *tabs))
    schema = "query_id BIGINT, __list INT, cellrank INT, " + ", ".join(
        f"__adt_{s} ARRAY<BIGINT>" for s in range(meta.n_subspaces)
    )
    qtab = _literal_df(spark, tab_rows, schema)
    from wren_engine_spark.operators import layout

    codes = layout.without_tombstones(
        spark.read.parquet(f"{path}/codes"), "__id", path=path
    )
    adist = None
    for s in range(meta.n_subspaces):
        term = F.element_at(F.col(f"__adt_{s}"), F.col(f"code_{s}") + 1)
        adist = term if adist is None else adist + term
    scored = (
        codes.join(F.broadcast(qtab), "__list")
        .filter(F.col("__id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("__id").alias("neighbor_id"),
            "cellrank",
            adist.cast("bigint").alias("__adist"),
        )
    )
    nps = spark.range(1, int(meta.nlist) + 1).select(
        F.col("id").cast("int").alias("nprobe")
    )
    w = W.partitionBy("nprobe", "query_id").orderBy(
        F.col("__adist").asc(), F.col("neighbor_id")
    )
    approx_top = (
        scored.join(F.broadcast(nps), F.col("cellrank") <= F.col("nprobe"))
        .withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") <= topk)
        .select("nprobe", "query_id", "neighbor_id")
    )
    # exact side: brute-force quantized L2 over the corpus (the x108
    # gate's formulation — same quantum as the index, id tie-breaks)
    qn = float(meta.quantum)
    qz_expr = (
        f"transform({{c}}, x -> cast(floor(cast(x as double) * {qn!r} "
        f"+ 0.5) as bigint))"
    )
    corpus = corpus_df.select(
        F.col(id_col).alias("neighbor_id"),
        F.expr(qz_expr.format(c=vec_col)).alias("__qx"),
    )
    # ground truth must see the same live id set as the approx side:
    # without this, pending deletes cap measured recall below 1.0 even
    # at nprobe=nlist and the stale-geometry alarm false-fires
    corpus = layout.without_tombstones(corpus, "__id", path=path, on="neighbor_id")
    qs = query_df.select(
        "query_id", F.expr(qz_expr.format(c="qvec")).alias("__qq")
    )
    dist = F.aggregate(
        F.zip_with(F.col("__qq"), F.col("__qx"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    we = W.partitionBy("query_id").orderBy(F.col("__d").asc(), F.col("neighbor_id"))
    ext = (
        corpus.crossJoin(F.broadcast(qs))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dist.alias("__d"))
        .withColumn("__rn", F.row_number().over(we))
        .filter(F.col("__rn") <= topk)
        .select("query_id", "neighbor_id")
    )
    rec = (
        approx_top.join(ext, ["query_id", "neighbor_id"])
        .groupBy("nprobe")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    denom = float(n_queries * topk)
    base = (
        nps.join(rec, "nprobe", "left")
        .select(
            "nprobe",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint")).alias("n_hits"),
        )
        .withColumn(
            "mean_recall",
            F.round(F.col("n_hits").cast("double") / F.lit(denom), 6),
        )
        .withColumn(
            "meets_target", F.col("mean_recall") >= F.lit(float(recall_target))
        )
    )
    # chosen = minimal qualifying nprobe, via a one-row aggregate
    # broadcast back over the <=nlist-row spine — an unpartitioned
    # window here would be harmless at this size but trains users to
    # ignore the "No Partition Defined" warning that matters elsewhere
    mn = base.filter(F.col("meets_target")).agg(
        F.min("nprobe").alias("__chosen_np")
    )
    out = base.crossJoin(F.broadcast(mn)).withColumn(
        "chosen",
        F.coalesce(F.col("nprobe") == F.col("__chosen_np"), F.lit(False)),
    )
    return out.select("nprobe", "n_hits", "mean_recall", "meets_target", "chosen")


def ivfpq_index_retrain(
    spark,
    path: str,
    corpus_df: DataFrame,
    id_col: str,
    vec_col: str,
    nlist: int | None = None,
    n_subspaces: int | None = None,
    k_codes: int | None = None,
    coarse_iters: int | None = None,
    pq_iters: int | None = None,
    quantum: int | None = None,
) -> dict:
    """Retrain a persisted IVF-PQ index on the CURRENT corpus — the
    lifecycle stage ``ivfpq_tune_nprobe``'s drift alarm exists to
    trigger: when sustained frozen-geometry appends move the data
    distribution far enough that even nprobe=nlist misses the recall
    target, the coarse centroids and residual codebooks are stale and
    the fix is a retrain, not a bigger nprobe. (Reference analogy:
    the ``cached`` + ``refresh_time`` materialization hint —
    manifest-macro/src/lib.rs:141-168 — where a staleness signal
    triggers a rebuild of the materialized artifact.)

    Protocol: train coarse + PQ on ``corpus_df`` (the exact
    ``write_ivfpq_index`` kernels — x85's bit-exact quantized Lloyd),
    re-encode every vector, stage the complete new index tree at
    ``{path}__retraining``, then swap it in with two renames (the
    ``pq_index_compact`` crash contract: a crash between the renames
    leaves the old index intact at ``{path}__old``, which the
    recovery guard here — and in ``_load_ivfpq_index`` callers that
    retrain again — restores). Probes never see a half-trained
    index: the swap is the only mutation of ``path``, and the
    memoized sidecar readers invalidate on the swapped files' fs
    token, so the first post-retrain probe reloads the new geometry
    with zero API change.

    State reset (the ``write_ivfpq_index`` rebuild contract):
    pending tombstones are FOLDED — ``corpus_df`` is anti-joined
    against them before training, so a deleted id is neither trained
    on nor re-encoded (deletes never resurrect) — and the swap
    discards the old incarnation's tombstone directory and
    idempotent-append epoch markers wholesale. Anything else living
    under ``path`` (e.g. a streaming ingestion's ``_checkpoint``) is
    discarded too: STOP streaming ingestion before a retrain and
    restart it afterwards against post-retrain data only — replaying
    a pre-retrain delta into an index whose geometry was trained on
    that delta would duplicate its rows.

    Parameters default to the index's own ``meta`` sidecar (same
    nlist/n_subspaces/k_codes/quantum — and, since the sidecar gained
    them, coarse_iters/pq_iters — as the original build, so
    retrained == fresh-build on the same corpus holds for ALL
    geometry parameters); pass overrides to re-shape the index while
    retraining. Pre-upgrade indexes whose sidecar lacks the iteration
    columns fall back to the historical defaults (2/1).

    Returns ``write_ivfpq_index``'s stats dict plus
    ``n_tombstones_folded``.
    """
    import os as _os
    import shutil as _shutil

    from wren_engine_spark.operators import index_meta

    index_meta.require_local_index_path(path, "ivfpq_index_retrain")
    old = f"{path}__old"
    # crash recovery: a previous retrain/compact that died between its
    # two renames left the live index at {path}__old — restore first
    if not _os.path.isdir(f"{path}/meta") and _os.path.isdir(f"{old}/meta"):
        _os.rename(old, path)
    meta, _coarse, _books = _load_ivfpq_index(spark, path)
    nlist = int(meta.nlist) if nlist is None else int(nlist)
    n_subspaces = (
        int(meta.n_subspaces) if n_subspaces is None else int(n_subspaces)
    )
    k_codes = int(meta.k_codes) if k_codes is None else int(k_codes)
    quantum = int(meta.quantum) if quantum is None else int(quantum)
    md = meta.asDict()
    if coarse_iters is None:
        coarse_iters = int(md.get("coarse_iters") or 2)
    if pq_iters is None:
        pq_iters = int(md.get("pq_iters") or 1)
    # fold pending deletes: a tombstoned id must be neither trained on
    # nor re-encoded — the retrain IS the compaction of its tombstone
    live = corpus_df
    n_tomb = 0
    from wren_engine_spark.operators import layout

    tomb = layout.read_tombstones(spark, path=path)
    if tomb is not None:
        n_tomb = tomb.select("__id").distinct().count()
        live = live.join(
            F.broadcast(tomb.select(F.col("__id").alias(id_col))),
            id_col,
            "left_anti",
        )
    new = f"{path}__retraining"
    if _os.path.isdir(new):
        _shutil.rmtree(new)
    stats = write_ivfpq_index(
        live, id_col, vec_col, new,
        nlist=nlist, n_subspaces=n_subspaces, k_codes=k_codes,
        coarse_iters=coarse_iters, pq_iters=pq_iters, quantum=quantum,
    )
    # two-rename swap; a crash after the first rename is recovered by
    # the guard above (old holds the last-good index until the end)
    if _os.path.isdir(old):
        _shutil.rmtree(old)
    _os.rename(path, old)
    _os.rename(new, path)
    _shutil.rmtree(old)
    return dict(stats, n_tombstones_folded=n_tomb)


def ivfpq_index_topk_refined(
    spark,
    path: str,
    emb_df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    nprobe: int = 2,
    shortlist: int = 20,
    topk: int = 5,
) -> DataFrame:
    """Two-stage IVF-PQ serving — ADC shortlist, exact re-rank (the
    FAISS ``IndexRefine`` / DiskANN-style production shape): the
    persisted index's codes-only scan produces a ``shortlist``-deep
    approximate candidate set per query (``ivfpq_index_topk`` — all
    integer ADC arithmetic, tombstones honored), then ONLY those
    shortlist rows are re-scored by the EXACT quantized L2 against
    the full vectors from ``emb_df`` (the embedding store of record —
    codes-layout indexes deliberately persist codes, not vectors) and
    re-ranked to the final ``topk``. Refinement repairs PQ distortion
    inside the shortlist: the final ordering is exact over whatever
    the shortlist retrieved, so recall@topk can only improve versus
    cutting the ADC ranking at ``topk`` directly (pytest-pinned on a
    recall gate; equality holds when PQ ordering was already right).

    Scale shape (100 TB): stage 1 is the unchanged codes-only probe
    (no embedding column in its plan); stage 2 joins the BOUNDED
    shortlist — |queries| x shortlist rows, broadcast — into one
    narrow scan of the embedding store by id, so full vectors are
    touched only for shortlist candidates: never a corpus-wide
    distance pass, never a shuffle of ``emb_df``. All arithmetic is
    the index's own integer quantization (scales from the ``meta``
    sidecar), id tie-breaks — deterministic and engine-portable.

    Returns (query_id, neighbor_id, dist, rnk), rnk <= topk, ``dist``
    the exact quantized L2^2.
    """
    from pyspark.sql import Window as W

    meta, _coarse, _books = _load_ivfpq_index(spark, path)
    short = ivfpq_index_topk(
        spark, path, query_df, nprobe=nprobe, topk=shortlist
    ).select("query_id", "neighbor_id")
    qn = float(int(meta.quantum))
    qz_expr = (
        f"transform({{c}}, x -> cast(floor(cast(x as double) * {qn!r} "
        f"+ 0.5) as bigint))"
    )
    corpus = emb_df.select(
        F.col(id_col).alias("neighbor_id"),
        F.expr(qz_expr.format(c=vec_col)).alias("__qx"),
    )
    qs = query_df.select(
        "query_id", F.expr(qz_expr.format(c="qvec")).alias("__qq")
    )
    # shortlist (bounded) broadcast into the embedding scan: the scan
    # side never shuffles, and only shortlist ids pay the exact fold
    cand = corpus.join(F.broadcast(short), "neighbor_id").join(
        F.broadcast(qs), "query_id"
    )
    dist = F.aggregate(
        F.zip_with(F.col("__qq"), F.col("__qx"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id")
    )
    return (
        cand.select("query_id", "neighbor_id", dist.alias("dist"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select(
            "query_id", "neighbor_id", "dist",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )
