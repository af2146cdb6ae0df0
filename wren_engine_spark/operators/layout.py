"""Data-layout operators for shuffle elimination at scale.

SURVEY §2/§4 scale notes: big-big joins shuffle both sides on the join
key every query. For recurring join keys the classic fixes are:

  - **Bucketing** (``write_bucketed``): persist both tables bucketed and
    sorted on the join key; Spark's bucketed scan then feeds SortMergeJoin
    directly — zero Exchange in the plan (verified by
    ``shuffle_exchanges``). At 100 TB this converts every recurring
    fact-fact join from a full dual shuffle into a co-located merge.
  - **Salting** (``salted_join``): when one key value is hot enough to
    stall a single reducer and the small side is too big to broadcast,
    spread the hot rows over ``salts`` sub-keys and replicate the other
    side per salt. AQE's skew-join split handles sort-merge skew
    automatically; salting remains the explicit fallback for aggregation
    pipelines and non-SMJ shapes.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    buckets: int = 16,
    sort: bool = True,
    mode: str = "overwrite",
) -> str:
    """Persist ``df`` as a bucketed (and bucket-sorted) managed table.

    Joining two tables bucketed on the same key with the same bucket
    count runs shuffle-free (bucketed scan -> SMJ)."""
    keys = [key] if isinstance(key, str) else list(key)
    spark = df.sparkSession
    if mode != "append":
        drop_managed_table(spark, table)
    # append never drops or cleans: Spark validates the bucket spec
    # against the catalog's (a mismatched bucketBy fails the write
    # instead of silently breaking bucket pruning for future probes)
    w = df.write.mode(mode).bucketBy(buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(table)
    return table


def drop_managed_table(spark, table: str) -> None:
    """Drop a managed table AND its warehouse directory. The catalog
    is per-session but the managed location is not: a previous process
    can leave the directory behind, which saveAsTable refuses
    (LOCATION_ALREADY_EXISTS). The managed path must be resolved via
    the owning DATABASE's location (db-qualified tables live under
    <warehouse>/<db>.db/), not naively as <warehouse>/<table> — that
    guess is only right in the default database and could delete
    another database's data."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    parts = [p.lower() for p in table.split(".")]
    db = parts[-2] if len(parts) >= 2 else spark.catalog.currentDatabase().lower()
    if spark.catalog.databaseExists(db):
        db_loc = spark.catalog.getDatabase(db).locationUri
        _hadoop_delete(spark, f"{db_loc.rstrip('/')}/{parts[-1]}")


def _hadoop_delete(spark, uri: str) -> None:
    """Recursively delete ``uri`` if it exists, through the Hadoop FS
    API so any warehouse scheme (file://, s3a://) works."""
    jvm = spark.sparkContext._jvm
    loc = jvm.org.apache.hadoop.fs.Path(uri)
    fs = loc.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(loc):
        fs.delete(loc, True)


def read_index_table(spark, table: str) -> DataFrame:
    """The rows of a catalog index table as they are now. A session's
    relation cache keeps the file list it first read, so rows another
    session appended since (a foreachBatch clone, a second client)
    would stay invisible — and a compaction rewriting that stale list
    would delete them for good. Refreshing first re-lists the files
    (no Spark job)."""
    spark.catalog.refreshTable(table)
    return spark.table(table)


def write_small_table(spark, df: DataFrame, table: str) -> str:
    """Persist a tiny (metadata-sized) managed table with the same
    stale-location hygiene as write_bucketed — used for the
    ``{index}__meta`` sidecars that make persisted indexes carry their
    own build parameters."""
    drop_managed_table(spark, table)
    df.write.mode("overwrite").saveAsTable(table)
    return table


# ---------------------------------------------------------------------------
# Tombstones: the one merge-on-read delete of every persisted index
# family (ANN, simhash, BM25 postings and __docs, PQ, IVF-PQ). A delete
# appends ids to a parquet directory and never touches the index; every
# probe anti-joins them out until a compaction (or rebuild) folds them.
# The directory is read with spark.read.parquet, which lists it afresh
# on every call — a catalog table would not: a session's relation cache
# keeps the file list it first read, so ids deleted from another
# session (a foreachBatch clone, a second client) would stay visible.
#
# Shadowing rule: a tombstone hides EVERY row with its id, appended
# before or after the delete, until a compaction folds it. Re-inserting
# a deleted id therefore needs a compact first; append-only ingestion
# never re-uses ids.
#
# An index is named by its catalog ``table`` or, for the codes layout,
# by ``path=``.
# ---------------------------------------------------------------------------


def tombstone_dir(spark, table: str | None = None, *, path: str | None = None) -> str:
    """Where an index's tombstones live: ``{path}/tombstones`` for a
    codes-layout index (PQ, IVF-PQ), ``<database location>/<table>__tombstones``
    for a catalog index (a plain path on a local warehouse). The
    directory holds one id column named like the index's own id
    column (``__id``, ``doc_id``, ``corpus_id``, the ANN ``id_col``)."""
    from wren_engine_spark.operators import index_meta

    if path is not None:
        return f"{path}/tombstones"
    tdir = index_meta.managed_table_location(spark, f"{table}__tombstones")
    if tdir is None:
        raise ValueError(f"index table {table!r}: its database does not exist")
    return tdir


def read_tombstones(
    spark, table: str | None = None, *, path: str | None = None
) -> DataFrame | None:
    """The index's tombstoned ids, listed afresh, or None when it has
    none. A local directory is checked with a driver listdir first, so
    a probe of an index with no tombstones pays nothing (no read, no
    job, no plan change); a missing non-local directory reads as None.
    Any other read error raises: swallowing it would serve deleted
    rows. No distinct(): duplicate ids are harmless under left_anti,
    and a distinct would put an exchange on the broadcast side."""
    import os

    from wren_engine_spark.operators import index_meta

    tdir = tombstone_dir(spark, table, path=path)
    local = index_meta.local_path(tdir)
    if local is not None and not (
        os.path.isdir(local)
        and any(f.endswith(".parquet") for f in os.listdir(local))
    ):
        return None
    try:
        return spark.read.parquet(tdir)
    except Exception as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


def without_tombstones(
    df: DataFrame,
    id_col: str,
    table: str | None = None,
    *,
    path: str | None = None,
    on: str | None = None,
) -> DataFrame:
    """``df`` minus the rows whose ``on`` column (default ``id_col``)
    the index has tombstoned. The tombstone side is ids only and
    broadcast, so the anti-join adds no shuffle to a probe plan; with
    no tombstones ``df`` is returned untouched."""
    tomb = read_tombstones(df.sparkSession, table, path=path)
    if tomb is None:
        return df
    on = on or id_col
    return df.join(
        F.broadcast(tomb.select(F.col(id_col).alias(on))), on, "left_anti"
    )


def append_tombstones(
    spark, ids, id_col: str, table: str | None = None, *, path: str | None = None
) -> dict:
    """Tombstone-delete ``ids`` from an index: append them to its
    tombstone directory as ONE new parquet file (probes list the
    directory, so it must not creep into the small-file problem).

    ``ids``: a DataFrame (its first column) or an iterable of plain
    values; an empty iterable is a no-op. Ids are cast to the index's
    own id-column type — a blind BIGINT cast would turn string ids
    into NULLs that never match the anti-join, silently un-deleting
    them — and a cast that yields any NULL raises instead of reporting
    a successful delete.
    Returns {"n_tombstones": distinct ids appended by this call}.
    """
    if path is not None:
        index = spark.read.parquet(f"{path}/codes")
    elif spark.catalog.tableExists(table):
        index = spark.table(table)
    else:
        raise ValueError(f"index table {table!r} does not exist")
    id_type = index.schema[id_col].dataType
    if isinstance(ids, DataFrame):
        out = ids.select(F.col(ids.columns[0]).cast(id_type).alias(id_col))
    else:
        rows = [(v,) for v in ids]
        if not rows:
            # createDataFrame cannot infer a schema from an empty
            # dataset, and an empty delete has nothing to do
            return {"n_tombstones": 0}
        out = spark.createDataFrame(rows, [id_col]).select(
            F.col(id_col).cast(id_type).alias(id_col)
        )
    out = out.distinct().persist()
    try:
        # count + null-cast validation in ONE job
        stats = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col(id_col).isNull(), 1)).alias("n_null"),
        ).collect()[0]
        if stats["n_null"] > 0:
            raise ValueError(
                f"tombstone delete: some ids did not cast to the index id "
                f"type {id_type.simpleString()} — refusing a delete that "
                "could not match"
            )
        out.coalesce(1).write.mode("append").parquet(
            tombstone_dir(spark, table, path=path)
        )
    finally:
        out.unpersist()
    return {"n_tombstones": stats["n"]}


@contextmanager
def folded_tombstones(
    df: DataFrame, id_col: str, table: str | None = None, *, path: str | None = None
):
    """Fold an index's pending tombstones into a compaction rewrite:
    yields ``df`` minus the tombstoned rows and, once the body returns
    (the rewrite is swapped in), removes exactly the tombstone FILES
    the fold read. A delete issued while the rewrite runs lands in a
    newer file, survives, and stays pending for probes and the next
    compact — clearing the whole directory would resurrect that id. A
    crash before the clear is harmless: re-applying a tombstone to rows
    already gone removes nothing."""
    tomb = read_tombstones(df.sparkSession, table, path=path)
    if tomb is None:
        yield df
        return
    files = tomb.inputFiles()
    yield df.join(F.broadcast(tomb.select(id_col)), id_col, "left_anti")
    clear_tombstones(df.sparkSession, table, path=path, files=files)


def clear_tombstones(
    spark,
    table: str | None = None,
    *,
    path: str | None = None,
    files: list[str] | None = None,
) -> None:
    """Remove an index's tombstones: only ``files`` (``inputFiles()``
    URIs, the fold's snapshot) or, with None, all of them (a rebuild,
    whose stale tombstones must not delete freshly indexed rows). The
    directory goes once no parquet file is left in it. Folding is
    local-only (both compactors refuse other storage); a non-local
    directory is only ever cleared whole."""
    import os
    import shutil

    from wren_engine_spark.operators import index_meta

    tdir = tombstone_dir(spark, table, path=path)
    local = index_meta.local_path(tdir)
    if local is None:
        _hadoop_delete(spark, tdir)
        return
    for f in files or []:
        p = _uri_to_local_path(f)
        if os.path.isfile(p):
            os.remove(p)
    if os.path.isdir(local) and (
        files is None
        or not any(f.endswith(".parquet") for f in os.listdir(local))
    ):
        shutil.rmtree(local)


def _uri_to_local_path(uri: str) -> str:
    """Local filesystem path of a ``file:`` URI from ``inputFiles()``.
    Spark percent-encodes special characters (a space becomes ``%20``)
    — a bare prefix strip would miss such files in os.path checks and
    silently leave folded tombstone files pending forever."""
    from urllib.parse import unquote, urlparse

    if uri.startswith("file:"):
        return unquote(urlparse(uri).path)
    return unquote(uri)


def compact_bucketed(
    spark,
    table: str,
    bucket_col: str,
    buckets: int,
    id_col: str,
) -> dict:
    """Compact a bucketed index table after many appends. Every
    bucketed append adds >= 1 file per occupied bucket; under
    continuous ingestion the table degrades into the small-file
    problem. The rewrite repartitions on the bucket column (one file
    per bucket) into a staging table and swaps it in with two catalog
    RENAMEs — each rename is an atomic managed-directory move on a
    local/HDFS warehouse; a crash between them leaves the data intact
    at ``{table}__old``, which the recovery guard below restores.
    Object-store warehouses are refused loudly (rename is copy+delete
    there — same rule as the codes-layout compactor).

    Pending tombstones (column ``id_col``) are folded into the rewrite
    (``folded_tombstones``). Probes, which already excluded tombstoned
    rows, are bit-identical before and after.

    Returns {"files_before", "files_after", "n_rows"}.
    """
    from wren_engine_spark.operators import index_meta

    # the two-rename swap moves managed directories: local/HDFS only
    if index_meta.managed_table_dir(spark, table) is None:
        raise ValueError(
            f"compact_bucketed: table {table!r} is not on a local "
            "warehouse; the rename swap is only atomic on local/"
            "HDFS-style storage — use a table format whose snapshot "
            "commit replaces the rename (see SCALING.md)."
        )
    old = f"{table}__old"
    # crash recovery: a previous compaction that died between its two
    # renames left the data at {table}__old — restore it first
    if not spark.catalog.tableExists(table) and spark.catalog.tableExists(old):
        spark.sql(f"ALTER TABLE {old} RENAME TO {table}")
    df = read_index_table(spark, table)
    files_before = len(df.inputFiles())
    tmp = f"{table}__compacting"
    drop_managed_table(spark, tmp)
    # force the BUCKETED scan for the rewrite: the planner elides the
    # repartition (the table's bucket spec already satisfies it) but,
    # left to itself, also disables bucketed reading ("no join/agg
    # benefit") — the write would then inherit one task per input
    # FILE and reproduce the small-file layout it was asked to fix.
    # With the bucketed scan forced, the rewrite is one task per
    # bucket reading that bucket's files — a SHUFFLE-FREE compaction
    # (the bucketed twin of the codes-layout coalesce), one output
    # file per bucket.
    auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    # the compacted row count is observed DURING the rewrite itself —
    # no post-hoc scan of the rewritten files, no second anti-join
    from pyspark.sql import Observation

    obs = Observation()
    with folded_tombstones(df, id_col, table) as live:
        prev = spark.conf.get(auto_key, "true")
        spark.conf.set(auto_key, "false")
        try:
            write_bucketed(
                live.observe(obs, F.count(F.lit(1)).alias("n")).repartition(
                    int(buckets), F.col(bucket_col)
                ),
                tmp,
                bucket_col, int(buckets),
            )
        finally:
            spark.conf.set(auto_key, prev)
        n_rows = int(obs.get["n"])
        drop_managed_table(spark, old)  # stale leftovers from a crash
        spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
        drop_managed_table(spark, old)
    files_after = len(read_index_table(spark, table).inputFiles())
    return {
        "files_before": files_before,
        "files_after": files_after,
        "n_rows": n_rows,
    }


def shuffle_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the final physical plan
    (broadcast exchanges excluded) — 0 means fully co-located."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    )


def write_optimized(
    df: DataFrame,
    path: str,
    partition_cols: str | list[str] | None = None,
    sort_cols: str | list[str] | None = None,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> str:
    """Scan-optimized parquet sink: hive-partition on the pruning
    columns, cluster rows inside each file on the filter columns, and
    cap file size.

    Why each knob matters at 100 TB:
      - ``partition_cols`` -> directory-level partition pruning (a
        predicate on the partition column skips whole directories before
        any I/O). Data is repartitioned on these columns first so each
        partition directory is written by few tasks (no
        tasks x partitions small-file explosion).
      - ``sort_cols`` -> ``sortWithinPartitions`` clusters values so
        parquet row-group min/max stats become selective; point/range
        predicates then skip row groups inside files.
      - ``max_records_per_file`` bounds file size for parallel reads.

    Returns the written path."""
    parts = (
        [partition_cols] if isinstance(partition_cols, str) else list(partition_cols or [])
    )
    sorts = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols or [])
    out = df
    if parts:
        out = out.repartition(*[F.col(c) for c in parts])
    if sorts or parts:
        # lead with the partition columns: FileFormatWriter requires the
        # stream ordered by them and would otherwise inject its own
        # (unstable) sort, destroying the clustering
        out = out.sortWithinPartitions(*parts, *sorts)
    w = out.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if parts:
        w = w.partitionBy(*parts)
    w.parquet(path)
    return path


def salted_join(
    big: DataFrame,
    other: DataFrame,
    key: str,
    how: str = "inner",
    salts: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Skew-resistant equi-join: the big side gets a uniform random salt
    in [0, salts); the other side is replicated once per salt value, so
    a hot key's rows spread over ``salts`` reducers instead of one.

    Output equals ``big.join(other, key, how)`` for 'inner'/'left' (the
    supported modes). Replication multiplies the other side by
    ``salts`` — size it like a broadcast-threshold decision.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    big_s = big.withColumn("__salt", (F.rand(seed) * salts).cast("int"))
    other_s = other.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    out = big_s.join(other_s, [key, "__salt"], how)
    return out.drop("__salt")


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    out_col: str = "zkey",
) -> DataFrame:
    """Morton (Z-order) interleaved sort key over 2+ integer-valued
    columns — the multi-dimensional clustering key behind Delta/Iceberg
    OPTIMIZE ZORDER. Sorting/range-partitioning by ``zkey`` clusters
    rows so that parquet row-group min/max stats are selective on EVERY
    participating dimension at once (a plain sort is selective only on
    its leading column).

    Inputs are taken mod 2^bits (callers quantize real-valued or
    high-cardinality columns first — e.g. epoch-day, bucketed price).
    The interleave is exact integer bit-arithmetic (shift/and/or), so
    any SQL engine reproduces the identical key: bit i of column j
    lands at output bit ``i * n_cols + j``.

    At 100 TB pair with ``write_optimized(sort_cols=[out_col])`` or
    ``df.repartitionByRange(N, zkey).sortWithinPartitions(zkey)`` so
    both the directory level and row-group level skip on all dims.
    """
    n = len(cols)
    if n < 2:
        raise ValueError("zorder_key needs >= 2 columns")
    if bits * n > 62:
        raise ValueError("bits * n_cols must fit in int64")
    key = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        v = F.pmod(F.col(c).cast("long"), F.lit(1 << bits))
        for i in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(v, i).bitwiseAND(F.lit(1).cast("long")),
                    i * n + j,
                )
            )
    return df.withColumn(out_col, key)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int = 8,
    mode: str = "overwrite",
) -> str:
    """Write ``df`` parquet clustered by the Morton key of ``cols``:
    range-partition on zkey (equal-frequency file splits via Spark's
    sampled RangePartitioner), sort within each file, drop the key.
    Every output file then covers a compact hyper-rectangle of the key
    space, so min/max stats skip files for predicates on ANY of the
    z-ordered columns."""
    z = zorder_key(df, cols, bits)
    (
        z.repartitionByRange(n_files, F.col("zkey"))
        .sortWithinPartitions("zkey")
        .drop("zkey")
        .write.mode(mode)
        .parquet(path)
    )
    return path


def zorder_quantize(col, lo: int, hi: int, bits: int = 16) -> F.Column:
    """Quantize an integer-valued column with known [lo, hi] range onto
    the full 2^bits key space — exact integer arithmetic
    (floor((v - lo) * (2^bits - 1) / (hi - lo)), clamped), so oracles
    reproduce it. Feeding ``zorder_key`` unscaled values wastes the
    high bits of any dimension whose range is far below 2^bits, which
    makes file splits ignore that dimension (observed: a 0..1500 key
    under bits=12 never split on its dead top bit)."""
    c = F.col(col) if isinstance(col, str) else col
    span = max(hi - lo, 1)
    q = ((c.cast("long") - F.lit(lo)) * F.lit((1 << bits) - 1)) / F.lit(span)
    return F.greatest(
        F.lit(0).cast("long"),
        F.least(F.lit((1 << bits) - 1).cast("long"), F.floor(q).cast("long")),
    )


def key_skew_profile(df: DataFrame, key_col: str, top_n: int = 10) -> DataFrame:
    """Join-key skew diagnostic: the per-key frequency profile a
    pipeline owner reads BEFORE choosing a join strategy (broadcast /
    salt / AQE skew-join) — the observability counterpart of
    ``salted_join``. Returns the ``top_n`` hottest keys with:

    - ``cnt`` and ``total_rows`` / ``n_keys`` (exact),
    - ``share`` = cnt/total (fraction of all rows on this key),
    - ``skew_ratio`` = cnt·n_keys/total (multiple of the mean key
      frequency — the number AQE's skew threshold reasons about).

    Doubles are ratios of exact integer counts with identical
    expressions both engines. At 100 TB: one map-side-combinable
    groupBy on the key, a bounded TakeOrdered cut (count desc, key asc
    — deterministic), and a broadcast of the two-scalar total row.
    NULL keys count as a key of their own (they hash-partition
    together in a real join, so they skew together too).
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").cast("long").alias("total_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    # asc_nulls_last: Spark ASC sorts NULLs FIRST but ANSI-SQL engines
    # (and the x90 oracle) default to NULLS LAST — without this, a NULL
    # key tying a real key at the cut would rank differently per engine
    top = counts.orderBy(
        F.col("cnt").desc(), F.col("key").asc_nulls_last()
    ).limit(top_n)
    from pyspark.sql import Window as W

    w = W.orderBy(F.col("cnt").desc(), F.col("key").asc_nulls_last())
    return (
        top.crossJoin(F.broadcast(totals))
        .select(
            F.row_number().over(w).cast("int").alias("rnk"),
            "key",
            "cnt",
            "total_rows",
            "n_keys",
            (F.col("cnt").cast("double") / F.col("total_rows").cast("double")).alias(
                "share"
            ),
            (
                F.col("cnt").cast("double")
                * F.col("n_keys").cast("double")
                / F.col("total_rows").cast("double")
            ).alias("skew_ratio"),
        )
    )
