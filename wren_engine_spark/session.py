"""SparkSession factory tuned for this engine.

Local-mode testing uses local[N]; the same config block is what we would
ship for a 1000-executor cluster: AQE on (runtime re-plan, skew-join
splitting, broadcast conversion), shuffle partitions sized explicitly,
Arrow enabled for the Python boundary, UTC session timezone and
case-sensitive identifiers to match the reference's semantics
(reference: wren-core/core/src/mdl/context.rs:56-75 sets UTC + NULLS
LAST + case-sensitive idents).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _half_ram() -> str:
    """Default driver heap: half this machine's physical memory, in
    whole GiB, at least 1g — a fixed size larger than the machine lets
    the JVM grow until the OS kills it."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 2 // (1 << 30))}g"


def get_spark(
    app_name: str = "wren_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    # Shuffle partition count: on local[N] match the core count so one
    # wave of tasks covers every shuffle; on a cluster this should be
    # ~2-3x total executor cores (AQE coalesces down when small).
    nshuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.caseSensitive", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _half_ram())
        # parquet scans: 128MB splits is the cluster sweet spot; keep the
        # default. Vectorized reader + filter pushdown are on by default.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
