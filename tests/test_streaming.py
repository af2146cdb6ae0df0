"""Structured Streaming tests: run each streaming operator over the
events table replayed as a file stream (availableNow trigger, memory
sink) and compare against the equivalent batch computation."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from wren_engine_spark.streaming import ops


@pytest.fixture(scope="module")
def events_batch(spark, tmp_path_factory):
    from wren_engine_spark.queries.registry import load_tables

    df = load_tables(spark, SF_DIR, "events")["events"]
    path = str(tmp_path_factory.mktemp("events_src"))
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path), path


def _run_stream(spark, stream_df, name, mode="append"):
    # bounded runner: raises (instead of wedging) if the replay never
    # terminates — the regression mode round 2 shipped in t7
    return ops.run_available_now(spark, stream_df, name, mode, timeout_sec=120)


class TestStreaming:
    def test_windowed_counts_match_batch(self, spark, events_batch):
        batch_df, path = events_batch
        stream = spark.readStream.schema(batch_df.schema).parquet(path)
        out = _run_stream(
            spark,
            ops.windowed_event_counts(stream, window="1 day", by=["event_type"]),
            "win_counts",
            mode="complete",  # append withholds windows the final
            # watermark never closes — correct streaming semantics;
            # complete mode exposes all state for the batch comparison
        )
        got = {
            (r.window_start, r.event_type): r.n_events for r in out.collect()
        }
        exp = {
            (r.ws, r.event_type): r.n
            for r in batch_df.groupBy(
                F.date_trunc("day", "ts").alias("ws"), "event_type"
            ).agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert got == exp

    def test_sessionize_counts_match_batch_w4(self, spark, events_batch):
        batch_df, path = events_batch
        stream = spark.readStream.schema(batch_df.schema).parquet(path)
        out = _run_stream(
            spark, ops.sessionize(stream, gap="30 minutes"), "sessions",
            mode="complete",
        )
        got = (
            out.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
        )
        got_map = {r.user_id: (r.n_sessions, r.n_events) for r in got.collect()}
        # batch twin (w4 logic)
        from wren_engine_spark.queries.registry import QUERIES

        exp = {
            r.user_id: (r.n_sessions, r.n_events)
            for r in QUERIES["w4_event_sessionization"](spark, SF_DIR).collect()
        }
        assert got_map == exp

    def test_streaming_dedup(self, spark, events_batch):
        batch_df, path = events_batch
        stream = spark.readStream.schema(batch_df.schema).parquet(path)
        out = _run_stream(
            spark,
            ops.streaming_dedup(stream, ["user_id", "event_type"], watermark="365 days"),
            "deduped",
        )
        exp = batch_df.dropDuplicates(["user_id", "event_type"]).count()
        assert out.count() == exp

    def test_running_totals_update_mode(self, spark, events_batch):
        batch_df, path = events_batch
        stream = spark.readStream.schema(batch_df.schema).parquet(path)
        out = _run_stream(
            spark, ops.running_user_totals(stream), "user_totals", mode="complete"
        )
        got = {r.user_id: (round(r.total_value, 6), r.n_events) for r in out.collect()}
        exp = {
            r.user_id: (round(r.tv, 6), r.n)
            for r in batch_df.groupBy("user_id")
            .agg(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("tv"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        }
        assert got == exp


class TestThresholdAlerts:
    def test_alerts_match_batch_totals(self, spark, events_batch):
        batch_df, path = events_batch
        stream = spark.readStream.schema(batch_df.schema).parquet(path)
        out = _run_stream(
            spark,
            ops.threshold_alerts(stream, threshold=500.0),
            "alerts",
            mode="append",
        )
        alerts = {r.user_id: r for r in out.collect()}
        assert alerts, "expected at least one alert"
        # single availableNow pass: the alert per user must carry that
        # user's full batch total and the consistent level
        exp = {
            r.user_id: (float(r.total), int(r.n))
            for r in batch_df.groupBy("user_id")
            .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for uid, r in alerts.items():
            total, n = exp[uid]
            assert r.total_value == pytest.approx(total)
            assert r.n_events == n
            assert r.alert_level == int(total // 500.0)
        # users that never crossed the threshold emit nothing
        silent = set(exp) - set(alerts)
        assert all(exp[u][0] < 500.0 for u in silent)

    def test_available_now_replay_terminates(self, spark, events_batch):
        """Regression for the round-2 t7 wedge: the NoTimeout
        threshold_alerts replay must TERMINATE on its own, well inside
        the guard timeout — not merely get killed by it."""
        import time

        batch_df, path = events_batch
        stream = spark.readStream.schema(batch_df.schema).parquet(path)
        t0 = time.monotonic()
        out = _run_stream(
            spark,
            ops.threshold_alerts(stream, threshold=500.0, watermark="365 days"),
            "alerts_term",
            mode="append",
        )
        elapsed = time.monotonic() - t0
        assert elapsed < 120, f"replay took {elapsed:.0f}s — not terminating"
        assert out.count() >= 0

    def test_t7_registered_query_terminates(self, spark):
        from wren_engine_spark.queries.registry import QUERIES

        rows = QUERIES["t7_stream_threshold_alerts"](spark, SF_DIR).collect()
        assert len(rows) >= 1
        assert all(r.alert_level >= 1 for r in rows)


class TestStreamDedupThenAggregate:
    def test_dedup_agg_chain_matches_batch(self, spark, events_batch):
        # two chained stateful operators: dropDuplicates -> grouped agg
        batch_df, path = events_batch
        stream = spark.readStream.schema(batch_df.schema).parquet(path)
        stream = stream.withColumn("h", F.date_trunc("hour", F.col("ts")))
        deduped = ops.streaming_dedup(
            stream, ["user_id", "event_type", "h"], watermark="365 days"
        )
        out = _run_stream(
            spark,
            deduped.groupBy("h").agg(F.count(F.lit(1)).alias("n")),
            "dedup_agg",
            mode="complete",
        )
        exp = {
            (r.h, r.n)
            for r in batch_df.withColumn("h", F.date_trunc("hour", F.col("ts")))
            .dropDuplicates(["user_id", "event_type", "h"])
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert {(r.h, r.n) for r in out.collect()} == exp


class TestStreamStreamJoin:
    def test_interval_join_matches_batch(self, spark, events_batch):
        batch_df, path = events_batch

        def src():
            return spark.readStream.schema(batch_df.schema).parquet(path)

        clicks = src().filter(F.col("event_type") == "click")
        purchases = src().filter(F.col("event_type") == "purchase")
        out = ops.stream_stream_interval_join(
            clicks, purchases, "user_id", "ts", "ts", "60 minutes", "2 hours"
        ).select("event_id_l", "event_id_r")
        got = {
            (r.event_id_l, r.event_id_r)
            for r in _run_stream(spark, out, "ssj_t").collect()
        }

        c = batch_df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("cid"), F.col("user_id").alias("u"),
            F.col("ts").alias("cts"),
        )
        p = batch_df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("pid"), F.col("user_id").alias("u2"),
            F.col("ts").alias("pts"),
        )
        want = {
            (r.cid, r.pid)
            for r in c.join(
                p,
                (F.col("u") == F.col("u2"))
                & (F.col("pts") >= F.col("cts"))
                & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 60 minutes")),
            ).collect()
        }
        assert got == want
        assert len(got) > 0

    def test_multi_microbatch_buffers_state(self, spark, events_batch, tmp_path):
        """Split the source into several files and force one file per
        microbatch: cross-batch matches require the join state store,
        proving the streaming join is stateful, not batch-in-disguise."""
        batch_df, _ = events_batch
        path = str(tmp_path / "multi")
        # interleave so click/purchase pairs land in different files
        batch_df.withColumn("__f", F.col("event_id") % 4).write.partitionBy(
            "__f"
        ).mode("overwrite").parquet(path)
        schema = batch_df.schema

        def src():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .option("recursiveFileLookup", "true")
                .parquet(path)
            )

        clicks = src().filter(F.col("event_type") == "click")
        purchases = src().filter(F.col("event_type") == "purchase")
        # files are split by id (each spans the full time range), so any
        # real watermark would rightly drop cross-batch "late" rows; an
        # unbounded horizon isolates what this test is about — matches
        # across microbatches coming from the buffered join state
        out = ops.stream_stream_interval_join(
            clicks, purchases, "user_id", "ts", "ts", "60 minutes", "3650 days"
        ).select("event_id_l", "event_id_r")
        got = {
            (r.event_id_l, r.event_id_r)
            for r in _run_stream(spark, out, "ssj_multi").collect()
        }
        c = batch_df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("cid"), F.col("user_id").alias("u"),
            F.col("ts").alias("cts"),
        )
        p = batch_df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("pid"), F.col("user_id").alias("u2"),
            F.col("ts").alias("pts"),
        )
        want = {
            (r.cid, r.pid)
            for r in c.join(
                p,
                (F.col("u") == F.col("u2"))
                & (F.col("pts") >= F.col("cts"))
                & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 60 minutes")),
            ).collect()
        }
        assert got == want


class TestDropDuplicatesWithinWatermark:
    def test_within_watermark_dedup_matches_batch_distinct(self, spark, events_batch):
        """dropDuplicatesWithinWatermark: unlike dropDuplicates, state
        for a key is evicted once the watermark passes it — the right
        primitive when duplicates arrive close together but the key
        space is unbounded (exactly the 100 TB ingest-dedup shape).
        On a bounded replay the result equals batch DISTINCT."""
        batch_df, path = events_batch
        stream = (
            spark.readStream.schema(batch_df.schema)
            .parquet(path)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        )
        got = _run_stream(spark, stream.select("user_id", "event_type"), "ddww_t")
        want = batch_df.select("user_id", "event_type").distinct()
        assert {(r.user_id, r.event_type) for r in got.collect()} == {
            (r.user_id, r.event_type) for r in want.collect()
        }


class TestProductionStateBackends:
    def test_rocksdb_state_store_matches_default(self, spark, events_batch):
        """State at 100 TB lives in RocksDB, not the in-memory HDFS
        provider — the windowed aggregation must produce identical
        results under both state-store backends."""
        batch_df, path = events_batch

        def run(name):
            stream = spark.readStream.schema(batch_df.schema).parquet(path)
            out = ops.windowed_event_counts(stream, window="1 day", by=["event_type"])
            return {
                (r.window_start, r.event_type): r.n_events
                for r in _run_stream(spark, out, name, mode="complete").collect()
            }

        base = run("ssb_default")
        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        try:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
            )
            rocks = run("ssb_rocksdb")
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        assert rocks == base and len(rocks) > 0


class TestCheckpointResume:
    def test_checkpointed_dedup_processes_only_new_data(
        self, spark, events_batch, tmp_path
    ):
        """Exactly-once resume: a checkpointed availableNow query picks
        up where it stopped — re-running after new files arrive emits
        only the NEW keys, and the union across runs equals the batch
        answer (the incremental-ingest contract)."""
        batch_df, _ = events_batch
        first = batch_df.filter(F.col("event_id") % 2 == 0)
        second = batch_df.filter(F.col("event_id") % 2 == 1)
        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        sink = str(tmp_path / "sink")
        first.write.mode("overwrite").parquet(src)

        def run_once():
            # real file sink: the memory sink cannot recover from a
            # checkpoint; parquet + checkpoint is the exactly-once pair
            stream = (
                spark.readStream.schema(batch_df.schema)
                .parquet(src)
                .withColumn("ts", F.col("ts").cast("timestamp"))
                .withWatermark("ts", "3650 days")
                .dropDuplicates(["user_id", "event_type"])
                .select("user_id", "event_type")
            )
            query = (
                stream.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            assert query.awaitTermination(120)
            rows = [
                (r.user_id, r.event_type)
                for r in spark.read.parquet(sink).collect()
            ]
            return rows

        rows1 = run_once()
        # new data lands; SAME checkpoint -> only unseen keys appended
        second.write.mode("append").parquet(src)
        rows2 = run_once()

        want1 = {
            (r.user_id, r.event_type)
            for r in first.select("user_id", "event_type").distinct().collect()
        }
        want_all = {
            (r.user_id, r.event_type)
            for r in batch_df.select("user_id", "event_type").distinct().collect()
        }
        assert set(rows1) == want1
        assert set(rows2) == want_all
        # exactly-once: nothing reprocessed, no key written twice
        assert len(rows2) == len(want_all)


class TestForeachBatchUpsert:
    def test_idempotent_keyed_upsert_sink(self, spark, events_batch, tmp_path):
        """foreachBatch as the MERGE-shaped sink: each microbatch
        upserts per-user running aggregates into a keyed parquet table
        (read-modify-overwrite by key), so replays/retries of a batch
        are idempotent — the pattern for maintaining serving tables
        from a stream without a lakehouse format."""
        batch_df, path = events_batch
        target = str(tmp_path / "user_totals")
        ckpt = str(tmp_path / "fb_ckpt")

        def upsert(batch, batch_id):
            agg = (
                batch.groupBy("user_id")
                .agg(
                    F.sum(F.col("value").cast("decimal(38,6)")).alias("v"),
                    F.count(F.lit(1)).alias("n"),
                )
            )
            try:
                cur = batch.sparkSession.read.parquet(target)
            except Exception:
                cur = None
            if cur is not None:
                merged = (
                    cur.unionByName(agg)
                    .groupBy("user_id")
                    .agg(F.sum("v").alias("v"), F.sum("n").alias("n"))
                )
            else:
                merged = agg
            merged.cache().count()  # materialize before overwriting source
            merged.write.mode("overwrite").parquet(target)
            merged.unpersist()

        stream = (
            spark.readStream.schema(batch_df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        q = (
            stream.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        got = {
            r.user_id: (float(r.v), r.n)
            for r in spark.read.parquet(target).collect()
        }
        want = {
            r.user_id: (float(r.v), r.n)
            for r in batch_df.groupBy("user_id")
            .agg(
                F.sum(F.col("value").cast("decimal(38,6)")).alias("v"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        }
        assert got == want


class TestStreamingObservability:
    def test_query_listener_receives_progress(self, spark, events_batch):
        """StreamingQueryListener: the ops surface for production
        monitoring — progress events must carry batch row counts that
        reconcile with the data actually processed."""
        from pyspark.sql.streaming import StreamingQueryListener

        seen = {"progress": [], "started": 0, "terminated": 0}

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                seen["started"] += 1

            def onQueryProgress(self, event):
                seen["progress"].append(event.progress.numInputRows)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                seen["terminated"] += 1

        batch_df, path = events_batch
        spark.streams.addListener(listener := L())
        try:
            stream = spark.readStream.schema(batch_df.schema).parquet(path)
            out = ops.windowed_event_counts(stream, window="1 day")
            _run_stream(spark, out, "obs_t", mode="complete")
            # listener callbacks are async; wait briefly for delivery
            import time

            deadline = time.monotonic() + 30
            while time.monotonic() < deadline and (
                not seen["progress"] or seen["terminated"] == 0
            ):
                time.sleep(0.5)
        finally:
            spark.streams.removeListener(listener)
        assert seen["started"] >= 1
        assert seen["terminated"] >= 1
        assert sum(seen["progress"]) == batch_df.count()


class TestPointInTimeJoin:
    def test_event_sees_only_its_contemporary_version(self, spark, tmp_path):
        """The leakage rule: an event must join the dimension version
        valid AT ITS TIMESTAMP — never a later one, never an expired
        one, and empty intervals (same-instant double change) match
        nothing."""
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

        def ts(h):
            return t0 + dt.timedelta(hours=h)

        dim = spark.createDataFrame(
            [
                (1, "bronze", ts(0), ts(10)),
                (1, "gold", ts(10), None),
                (2, "silver", ts(0), ts(5)),
                (2, "silver", ts(5), ts(5)),  # empty interval
                (2, "gold", ts(5), None),
            ],
            "user_id LONG, segment STRING, valid_from TIMESTAMP, valid_to TIMESTAMP",
        )
        events = spark.createDataFrame(
            [
                (100, 1, ts(2)),   # -> bronze
                (101, 1, ts(10)),  # boundary: [from, to) -> gold
                (102, 2, ts(5)),   # empty interval skipped -> gold
                (103, 2, ts(1)),   # -> silver (first version)
            ],
            "event_id LONG, user_id LONG, ts TIMESTAMP",
        )
        src_path = str(tmp_path / "pit_events")
        events.write.mode("overwrite").parquet(src_path)
        src = spark.readStream.schema(events.schema).parquet(src_path)
        out = ops.point_in_time_join(src, dim, "user_id", "ts")
        rows = {
            r.event_id: r.segment
            for r in _run_stream(spark, out, "pit_test_sink").collect()
        }
        assert rows == {100: "bronze", 101: "gold", 102: "gold", 103: "silver"}

    def test_t12_registered_matches_batch_join(self, spark):
        from wren_engine_spark.queries.registry import QUERIES

        got = QUERIES["t12_stream_point_in_time_join"](spark, SF_DIR)
        rows = got.collect()
        assert rows
        # every event matched exactly one version (first event of each
        # user IS its first change row, so coverage is total)
        from wren_engine_spark.queries.io import load_tables

        n_events = load_tables(spark, SF_DIR, "events")["events"].count()
        assert len(rows) == n_events
        ids = [r.event_id for r in rows]
        assert len(ids) == len(set(ids))


class TestMidStreamDeleteVisibility:
    def test_delete_between_microbatches_honored_by_next_batch(
        self, spark, tmp_path
    ):
        """r10 (r9 verdict item 5): dedup.simhash_index_probe_stream
        re-resolves the tombstone set inside foreachBatch on EVERY
        microbatch — a simhash_index_delete issued between microbatches
        is honored by the next batch with NO query restart. Protocol:
        batch 1 probes a near-dup of corpus doc 1 (hit recorded), the
        test deletes doc 1 mid-stream, batch 2 probes near-dups of
        docs 1 and 2 — and must hit only doc 2. A second delete (doc 2)
        lands after the stream's session has already read the
        tombstones; batch 3 probes near-dups of docs 2 and 3 and must
        hit only doc 3."""
        import os
        import time

        from wren_engine_spark.operators import dedup

        from wren_engine_spark.operators import layout

        t_a = "alpha beta gamma delta epsilon zeta"
        t_b = "one two three four five six"
        t_c = "red orange yellow green blue indigo"
        corpus = spark.createDataFrame(
            [(1, t_a), (2, t_b), (3, t_c)], "doc_id LONG, text STRING"
        )
        idx, sink = "shp_stream_idx", "shp_stream_sink"
        dedup.write_simhash_index(corpus, "text", "doc_id", idx)
        src = str(tmp_path / "delta_src")
        os.makedirs(src)
        spark.createDataFrame(
            [(100, t_a)], "doc_id LONG, text STRING"
        ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(corpus.schema).parquet(src)
        q = dedup.simhash_index_probe_stream(
            spark, idx, stream, "text", "doc_id",
            qname=sink, available_now=False,
            processing_time="200 milliseconds",
            checkpoint=str(tmp_path / "ckpt"),
        )

        def pairs():
            if not spark.catalog.tableExists(sink):
                return set()
            return {
                (r.delta_id, r.corpus_id)
                for r in spark.table(sink).collect()
            }

        def wait_for(pred, what):
            deadline = time.time() + 120
            while time.time() < deadline:
                if pred():
                    return
                time.sleep(0.3)
            raise AssertionError(f"timed out waiting for {what}: {pairs()}")

        try:
            wait_for(lambda: (100, 1) in pairs(), "batch-1 hit on doc 1")
            # mid-stream delete — the stream keeps running
            dedup.simhash_index_delete(spark, idx, [1])
            spark.createDataFrame(
                [(101, t_a), (102, t_b)], "doc_id LONG, text STRING"
            ).coalesce(1).write.mode("append").parquet(src)
            wait_for(lambda: (102, 2) in pairs(), "batch-2 hit on doc 2")
            got = pairs()
            assert (101, 1) not in got, got  # deleted doc invisible
            assert (100, 1) in got  # pre-delete emission stands
            # second delete: the stream's session has read the
            # tombstones by now, and must still see the new one
            dedup.simhash_index_delete(spark, idx, [2])
            spark.createDataFrame(
                [(103, t_b), (104, t_c)], "doc_id LONG, text STRING"
            ).coalesce(1).write.mode("append").parquet(src)
            wait_for(lambda: (104, 3) in pairs(), "batch-3 hit on doc 3")
            got = pairs()
            assert (103, 2) not in got, got
            assert (102, 2) in got
        finally:
            q.stop()
            for t in (sink, idx, f"{idx}__meta"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            layout.clear_tombstones(spark, idx)
