"""foreachBatch driver for stream-static probes with MUTABLE static
state (extension beyond reference parity; split from ``ops.py`` so the
batch-resolution machinery evolves without re-fingerprinting every
streaming operator that does not use it — ops.py's coarse whole-module
fingerprint re-windows all its consumers on any edit)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def run_foreach_batch(
    spark,
    stream: DataFrame,
    batch_fn,
    qname: str,
    available_now: bool = True,
    processing_time: str | None = None,
    checkpoint: str | None = None,
    timeout_sec: int = 300,
):
    """Drive a stream through ``foreachBatch``, where ``batch_fn(spark,
    batch_df, batch_id)`` returns a BATCH DataFrame that is appended to
    the managed table ``qname`` — the 24/7 deployment shape for
    stream-static probes whose static side carries MUTABLE sidecar
    state (tombstones, epoch markers): a plain stream-static join
    resolves the static plan once at query definition, but a
    ``foreachBatch`` body executes fresh BATCH logic per microbatch, so
    anything ``batch_fn`` re-reads (``layout.read_tombstones``, a
    ``__meta`` sidecar after rebuild) is re-resolved every batch — a
    delete issued between microbatches is honored by the NEXT batch,
    no restart (pytest-pinned in tests/test_streaming.py). Each batch
    runs in the stream's cloned session, so whatever it re-reads must
    not come through a catalog relation cache, which keeps the file
    list that session first saw: tombstones are a parquet directory
    listed afresh on every read for exactly this reason.

    The sink table is dropped at start (same re-run-in-one-session
    semantics as ``run_available_now``'s memory sink). Delivery is
    at-least-once on microbatch RETRY unless ``checkpoint`` is set and
    ``batch_fn``'s output is written idempotently per batch_id — for
    exactly-once lifecycle appends use the index families' epoch-marker
    appends inside ``batch_fn`` instead of the sink table.

    With ``available_now`` (default) the call blocks until the bounded
    replay drains (``timeout_sec``-guarded, the round-2 wedge rule) and
    returns the sink table's DataFrame. With ``processing_time`` the
    continuous query handle is returned and the CALLER owns stop().
    """
    from wren_engine_spark.operators import layout

    for q in spark.streams.active:
        if q.name == qname:
            q.stop()
    layout.drop_managed_table(spark, qname)

    def _fb(batch_df, batch_id):
        res = batch_fn(batch_df.sparkSession, batch_df, batch_id)
        res.write.mode("append").format("parquet").saveAsTable(qname)
        # each microbatch runs in a CLONED session whose append only
        # invalidates its own relation cache — refresh the launching
        # session's too, so spark.table(qname) readers (the poll loop
        # of a continuous deployment, the return below) see every
        # batch's rows without a manual refreshTable
        try:
            spark.catalog.refreshTable(qname)
        except Exception:
            pass  # sink dropped concurrently: reader re-resolves anyway

    writer = stream.writeStream.foreachBatch(_fb).queryName(qname)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        query = writer.trigger(availableNow=True).start()
        try:
            finished = query.awaitTermination(timeout_sec)
        except Exception:
            query.stop()
            raise
        if not finished:
            query.stop()
            raise RuntimeError(
                f"streaming query {qname!r} did not terminate within "
                f"{timeout_sec}s (availableNow replay should drain and stop)"
            )
        return spark.table(qname)
    query = writer.trigger(
        processingTime=processing_time or "1 second"
    ).start()
    return query
