"""Round-6 additions, batch 4 (m8/m9/x88/x89/x90): brute-force
property tests + the scale-shape plan asserts that are part of the
definition of done (round-5 verdict item 9)."""

import math

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from wren_engine_spark.operators import layout, metrics, similarity, text
from wren_engine_spark.queries.registry import QUERIES


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


class TestM8RobustAnomaly:
    def test_matches_brute_force_python(self, spark):
        import duckdb

        raw = duckdb.sql(
            f"SELECT event_type, CAST(ts AS DATE) AS day, value FROM "
            f"read_parquet('{SF_DIR}/events.parquet')"
        ).fetchall()
        daily = {}
        for et, day, v in raw:
            q = math.floor(float(v) * 1000000.0 + 0.5)
            daily[(et, day)] = daily.get((et, day), 0) + q

        def med2(vals):
            s = sorted(vals)
            n = len(s)
            return s[(n + 1) // 2 - 1] + s[(n + 2) // 2 - 1]

        by_et = {}
        for (et, day), tot in daily.items():
            by_et.setdefault(et, []).append(tot)
        want = {}
        for et, vals in by_et.items():
            m2 = med2(vals)
            dev2s = [abs(2 * t - m2) for t in vals]
            m4 = med2(dev2s)
            for (et2, day), tot in daily.items():
                if et2 == et:
                    want[(et, day)] = (tot, m2, m4, 2 * abs(2 * tot - m2) > 3 * m4)
        got = {
            (r.event_type, r.day): (r.daily_total_q, r.med2, r.mad4, r.is_anomaly)
            for r in QUERIES["m8_robust_anomaly"](spark, SF_DIR).collect()
        }
        assert got == want

    def test_planted_spike_is_flagged_and_constant_series_is_not(self, spark):
        rows = []
        for d in range(1, 21):
            rows.append(("steady", f"2024-01-{d:02d} 00:00:00", 10.0))
            rows.append(("spiky", f"2024-01-{d:02d} 00:00:00", 10.0))
        rows.append(("spiky", "2024-01-10 12:00:00", 5000.0))  # same-day spike
        df = spark.createDataFrame(
            rows, "event_type STRING, ts STRING, value DOUBLE"
        ).select("event_type", F.col("ts").cast("timestamp").alias("ts"), "value")
        out = metrics.robust_anomaly(df, "event_type", "ts", "value")
        got = {(r.event_type, str(r.day)): r.is_anomaly for r in out.collect()}
        assert got[("spiky", "2024-01-10")] is True
        assert not any(v for (et, _), v in got.items() if et == "steady")
        # MAD=0 for spiky (19 of 20 days identical): only the spike flags
        assert sum(v for (et, _), v in got.items() if et == "spiky") == 1

    def test_plan_broadcasts_series_stats_and_never_goes_cartesian(self, spark):
        df = QUERIES["m8_robust_anomaly"](spark, SF_DIR)
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan  # med/mad attach via broadcast
        assert plan.count("BroadcastHashJoin") >= 2


class TestM9HoltForecast:
    def test_bit_exact_vs_python_recurrence(self, spark):
        import duckdb

        raw = duckdb.sql(
            f"SELECT user_id, event_type, value FROM "
            f"read_parquet('{SF_DIR}/events.parquet') ORDER BY ts, event_id"
        ).fetchall()
        series = {}
        for uid, et, v in raw:
            series.setdefault((uid, et), []).append(float(v))
        want = {}
        for k, vals in series.items():
            l = b = 0.0
            for x in vals:
                lnew = 0.5 * x + 0.5 * (l + b)
                b = 0.25 * (lnew - l) + 0.75 * b
                l = lnew
            want[k] = (len(vals), l, b, l + b)
        got = {
            (r.user_id, r.event_type): (r.n_events, r.level, r.trend, r.forecast)
            for r in QUERIES["m9_holt_forecast"](spark, SF_DIR).collect()
        }
        # exact equality: same IEEE left-fold sequence
        assert got == want

    def test_single_point_series(self, spark):
        df = spark.createDataFrame(
            [(1, "a", "2024-01-01 00:00:00", 8.0, 1)],
            "user_id LONG, event_type STRING, ts STRING, value DOUBLE, event_id LONG",
        ).select(
            "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"),
            "value", "event_id",
        )
        r = metrics.holt_linear(
            df, ["user_id", "event_type"], ["ts", "event_id"], "value",
            alpha=0.5, beta=0.25,
        ).collect()[0]
        assert r.level == 4.0 and r.trend == 1.0 and r.forecast == 5.0

    def test_plan_single_series_shuffle(self, spark):
        df = QUERIES["m9_holt_forecast"](spark, SF_DIR)
        assert layout.shuffle_exchanges(df) == 1  # one groupBy, no join


class TestX88DiverseTopk:
    def _brute(self, spark):
        from wren_engine_spark.queries.io import load_tables

        e = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
        rows = e.collect()
        vecs = {r.vec_id: ([float(x) for x in r.embedding], r.label) for r in rows}

        def fold_dot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc += x * y
            return acc

        out = {}
        for qid in [i for i in vecs if i < 8]:
            qv, _ = vecs[qid]
            qn = fold_dot(qv, qv)
            sims = []
            for nid, (v, lbl) in vecs.items():
                if nid == qid:
                    continue
                s = fold_dot(qv, v) / (math.sqrt(qn) * math.sqrt(fold_dot(v, v)))
                sims.append((s, nid, lbl))
            sims.sort(key=lambda t: (-t[0], t[1]))
            seen = {}
            capped = []
            for s, nid, lbl in sims:
                seen[lbl] = seen.get(lbl, 0) + 1
                if seen[lbl] <= 2:
                    capped.append((s, nid, lbl))
            out[qid] = [(nid, lbl) for _, nid, lbl in capped[:5]]
        return out

    def test_matches_brute_force(self, spark):
        want = self._brute(spark)
        got = {}
        for r in QUERIES["x88_diverse_topk"](spark, SF_DIR).collect():
            got.setdefault(r.query_id, []).append(
                (r.rnk, r.neighbor_id, r.neighbor_label)
            )
        got = {
            q: [(nid, lbl) for _, nid, lbl in sorted(v)] for q, v in got.items()
        }
        assert got == want

    def test_cap_and_k_and_no_self(self, spark):
        rows = QUERIES["x88_diverse_topk"](spark, SF_DIR).collect()
        per_q = {}
        for r in rows:
            assert r.neighbor_id != r.query_id
            per_q.setdefault(r.query_id, []).append(r.neighbor_label)
        for q, labels in per_q.items():
            assert len(labels) <= 5
            for lbl in set(labels):
                assert labels.count(lbl) <= 2

    def test_plan_corpus_never_shuffles_for_similarity(self, spark):
        df = QUERIES["x88_diverse_topk"](spark, SF_DIR)
        plan = _plan(df)
        # query side broadcasts into a nested-loop join (non-equi
        # self-exclusion); the only Exchanges are the two bounded rank
        # windows keyed on query_id(+label)
        assert "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                assert "query_id" in line, line.strip()[:120]


class TestX89EncodingHealth:
    def test_counts_exact_on_constructed_corpus(self, spark):
        docs = [
            (0, "plain ascii", "a"),
            (1, "café naïve", "a"),          # 2-byte chars
            (2, "tab\there\nand\r", "b"),               # control chars
            (3, "bad � decode �", "b"),       # replacement chars
            (4, "日本語", "b"),             # 3-byte chars
        ]
        df = spark.createDataFrame(docs, "doc_id LONG, text STRING, source STRING")
        got = {r.source: r for r in text.encoding_health(df, "text", "source").collect()}
        a, b = got["a"], got["b"]
        assert a.n_docs == 2 and b.n_docs == 3
        assert a.total_chars == len("plain ascii") + len("café naïve")
        assert a.total_bytes == len("plain ascii".encode()) + len(
            "café naïve".encode()
        )
        assert a.multibyte_overhead == 2 and a.n_ctrl_chars == 0
        assert a.n_docs_replacement == 0
        assert b.n_ctrl_chars == 3  # tab + lf + cr
        assert b.n_docs_replacement == 1
        # 3 CJK chars x 2 extra bytes + 2 U+FFFD x 2 extra bytes
        assert b.multibyte_overhead == 10
        assert b.bytes_per_char == b.total_bytes / b.total_chars

    def test_plan_one_hash_shuffle_no_join(self, spark):
        df = QUERIES["x89_encoding_health"](spark, SF_DIR)
        plan = _plan(df)
        # one hash exchange (the source groupBy; load_tables' read
        # fan-out RoundRobin repartition doesn't count), no join, and
        # a map-side partial aggregate below the exchange
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan
        assert "partial_" in plan


class TestX90KeySkewProfile:
    def test_matches_brute_force_counter(self, spark):
        from collections import Counter

        import duckdb

        keys = [
            r[0]
            for r in duckdb.sql(
                f"SELECT user_id FROM read_parquet('{SF_DIR}/events.parquet')"
            ).fetchall()
        ]
        c = Counter(keys)
        total, nk = len(keys), len(c)
        want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        rows = sorted(
            QUERIES["x90_key_skew_profile"](spark, SF_DIR).collect(),
            key=lambda r: r.rnk,
        )
        assert [(r.key, r.cnt) for r in rows] == want
        for r in rows:
            assert r.total_rows == total and r.n_keys == nk
            assert r.share == r.cnt / total
            assert r.skew_ratio == float(r.cnt) * float(nk) / float(total)

    def test_null_keys_count_as_one_key(self, spark):
        df = spark.createDataFrame(
            [(None,), (None,), (None,), (1,), (2,)], "k INT"
        )
        rows = layout.key_skew_profile(df, "k", top_n=2).collect()
        by_rnk = {r.rnk: r for r in rows}
        assert by_rnk[1].key is None and by_rnk[1].cnt == 3
        assert by_rnk[1].n_keys == 3 and by_rnk[1].total_rows == 5

    def test_plan_takeordered_and_broadcast_totals(self, spark):
        df = QUERIES["x90_key_skew_profile"](spark, SF_DIR)
        plan = _plan(df)
        assert "TakeOrderedAndProject" in plan
        assert "SortMergeJoin" not in plan and "partial_" in plan


class TestM10SeasonalityProfile:
    def test_matches_brute_force(self, spark):
        from decimal import Decimal

        import duckdb

        raw = duckdb.sql(
            f"SELECT event_type, ts, value FROM "
            f"read_parquet('{SF_DIR}/events.parquet')"
        ).fetchall()
        cells = {}
        for et, ts, v in raw:
            # python weekday(): Mon=0..Sun=6 -> dow 0=Sunday
            dow = (ts.weekday() + 1) % 7
            key = (et, dow, ts.hour)
            n, s = cells.get(key, (0, Decimal(0)))
            cells[key] = (n + 1, s + Decimal(str(round(v, 6))))
        totals = {}
        for (et, _, _), (n, _) in cells.items():
            totals[et] = totals.get(et, 0) + n
        got = {
            (r.event_type, r.dow, r.hour): (r.n_events, r.mean_value, r.share_of_key)
            for r in QUERIES["m10_seasonality_profile"](spark, SF_DIR).collect()
        }
        assert set(got) == set(cells)
        for key, (n, s) in cells.items():
            gn, gmean, gshare = got[key]
            assert gn == n
            assert gmean == float(s) / float(n)
            assert gshare == float(n) / float(totals[key[0]])

    def test_shares_sum_to_one_per_key(self, spark):
        rows = QUERIES["m10_seasonality_profile"](spark, SF_DIR).collect()
        per = {}
        for r in rows:
            per[r.event_type] = per.get(r.event_type, 0.0) + r.share_of_key
        for et, s in per.items():
            assert abs(s - 1.0) < 1e-9, (et, s)

    def test_plan_single_hash_agg_then_bounded_window(self, spark):
        df = QUERIES["m10_seasonality_profile"](spark, SF_DIR)
        plan = _plan(df)
        assert "Join" not in plan
        assert "partial_" in plan  # map-side combine on (key, dow, hour)


class TestX91QualityCalibration:
    def test_matches_brute_force_percent_rank(self, spark):
        from wren_engine_spark.operators.text import quality_score
        from wren_engine_spark.queries.io import load_tables

        d = load_tables(spark, SF_DIR, "documents")["documents"]
        scores = {
            r.doc_id: r.quality_score
            for r in quality_score(d, "text", "doc_id").collect()
        }
        src = {r.doc_id: r.source for r in d.select("doc_id", "source").collect()}
        by_src = {}
        for did, s in src.items():
            by_src.setdefault(s, []).append(did)
        want = {}
        for s, dids in by_src.items():
            vals = sorted(scores[d2] for d2 in dids)
            n = len(dids)
            for d2 in dids:
                rnk = 1 + sum(1 for v in vals if v < scores[d2])
                pr = (rnk - 1) / (n - 1) if n > 1 else 0.0
                want[d2] = (pr, pr >= 0.5)
        got = {
            r.doc_id: (r.pct_rank, r.keep)
            for r in QUERIES["x91_quality_calibration"](spark, SF_DIR).collect()
        }
        assert got == want

    def test_bounds_and_single_row_group(self, spark):
        df = spark.createDataFrame(
            [
                (0, "ten tokens of sensible text here to pass the bar", "solo"),
                (1, "!!! ??? ### $$$ %%% ^^^", "duo"),  # score 0.0
                (
                    2,
                    "the cat and the dog are in the house with a bird and it",
                    "duo",
                ),  # score 1.0
            ],
            "doc_id LONG, text STRING, source STRING",
        )
        from wren_engine_spark.operators import selection

        rows = {
            r.doc_id: r
            for r in selection.quality_calibration(
                df, "text", "doc_id", "source"
            ).collect()
        }
        assert rows[0].pct_rank == 0.0  # single-row group calibrates to 0
        assert {rows[1].pct_rank, rows[2].pct_rank} == {0.0, 1.0}


class TestT14StreamAnomalyAlerts:
    def test_stream_equals_python_brute_force(self, spark):
        import duckdb

        raw = duckdb.sql(
            f"SELECT event_id, event_type, value FROM "
            f"read_parquet('{SF_DIR}/events.parquet')"
        ).fetchall()
        q = [(eid, et, math.floor(float(v) * 1000000.0 + 0.5)) for eid, et, v in raw]

        def med2(vals):
            s = sorted(vals)
            n = len(s)
            return s[(n + 1) // 2 - 1] + s[(n + 2) // 2 - 1]

        by_et = {}
        for _, et, qv in q:
            by_et.setdefault(et, []).append(qv)
        stats = {}
        for et, vals in by_et.items():
            m2 = med2(vals)
            m4 = med2([abs(2 * v - m2) for v in vals])
            stats[et] = (m2, m4)
        want = {
            eid: (et, qv, *stats[et])
            for eid, et, qv in q
            if 2 * abs(2 * qv - stats[et][0]) > 3 * stats[et][1]
        }
        got = {
            r.event_id: (r.event_type, r.value_q, r.med2, r.mad4)
            for r in QUERIES["t14_stream_anomaly_alerts"](spark, SF_DIR).collect()
        }
        assert got == want

    def test_batch_twin_plan_broadcasts_stats(self, spark):
        # the streaming join's physical twin: same stats frame, same
        # broadcast hint — dimension-sized build side, fact side never
        # shuffles for the score
        from wren_engine_spark.queries.io import load_tables

        e = load_tables(spark, SF_DIR, "events")["events"]
        stats = metrics.robust_stats(e, "event_type", "value")
        scored = e.select("event_id", "event_type").join(
            F.broadcast(stats.select("event_type", "med2", "mad4")), "event_type"
        )
        plan = _plan(scored)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestX92DecontaminationReport:
    def test_consistent_with_x87_per_doc_surgery(self, spark):
        from wren_engine_spark.queries.io import load_tables

        d = load_tables(spark, SF_DIR, "documents")["documents"]
        src = {r.doc_id: r.source for r in d.select("doc_id", "source").collect()}
        per_doc = QUERIES["x87_surgical_decontamination"](spark, SF_DIR).collect()
        want = {}
        for r in per_doc:
            s = src[r.doc_id]
            nd, da, tt, tr = want.get(s, (0, 0, 0, 0))
            want[s] = (
                nd + 1,
                da + (1 if r.n_tokens_removed > 0 else 0),
                tt + r.n_tokens,
                tr + r.n_tokens_removed,
            )
        got = {
            r.source: (r.n_docs, r.docs_affected, r.total_tokens, r.tokens_removed)
            for r in QUERIES["x92_decontamination_report"](spark, SF_DIR).collect()
        }
        assert got == want

    def test_planted_leak_is_attributed(self, spark):
        leak = "alpha bravo charlie delta echo foxtrot golf hotel"
        docs = [
            (10, f"held out doc {leak} end", "heldout"),        # test split
            (11, f"training doc prefix {leak} training suffix", "mirror"),
            (21, "a completely clean training document here", "clean"),
        ]
        df = spark.createDataFrame(docs, "doc_id LONG, text STRING, source STRING")
        from wren_engine_spark.operators import text as tx

        train = df.filter(F.col("doc_id") % 10 != 0)
        test = df.filter(F.col("doc_id") % 10 == 0)
        spans = tx.contamination_spans(train, test, "text", "doc_id", window_tokens=8)
        cleaned = tx.remove_spans(train, spans, "text", "doc_id")
        rows = {r.doc_id: r for r in cleaned.collect()}
        assert rows[11].n_tokens_removed == 8
        assert rows[21].n_tokens_removed == 0


class TestX93PqAnn:
    def _python_pq(self, spark, n_sub=2, k=4, iters=1, topk=5):
        """Full PQ replay in pure Python (quantize -> train -> encode
        -> ADC -> rank) with the operator's exact tie rules."""
        from wren_engine_spark.queries.io import load_tables

        e = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
        vecs = {
            r.vec_id: [math.floor(float(x) * 1000000.0 + 0.5) for x in r.embedding]
            for r in e.collect()
        }
        dim = len(next(iter(vecs.values())))
        sub = dim // n_sub
        first_ids = sorted(vecs)[:k]
        books = []
        codes = {}
        for s in range(n_sub):
            sl = slice(s * sub, (s + 1) * sub)
            cents = [vecs[i][sl] for i in first_ids]

            def assign(cs):
                out = {}
                for vid, v in vecs.items():
                    best_d, best_c = None, None
                    for ci, c in enumerate(cs):
                        d = sum((a - b) * (a - b) for a, b in zip(v[sl], c))
                        if best_d is None or d < best_d:
                            best_d, best_c = d, ci
                    out[vid] = best_c
                return out

            for _ in range(iters):
                a = assign(cents)
                for ci in range(k):
                    members = [vid for vid, c in a.items() if c == ci]
                    if members:
                        cents[ci] = [
                            math.floor(
                                float(sum(vecs[m][sl][d] for m in members))
                                / float(len(members))
                            )
                            for d in range(sub)
                        ]
            books.append(cents)
            a = assign(cents)
            for vid, c in a.items():
                codes.setdefault(vid, []).append(c)
        want = {}
        for qid in [i for i in vecs if i < 8]:
            tabs = [
                [
                    sum(
                        (a - b) * (a - b)
                        for a, b in zip(vecs[qid][s * sub : (s + 1) * sub], c)
                    )
                    for c in books[s]
                ]
                for s in range(n_sub)
            ]
            scored = sorted(
                (
                    (sum(tabs[s][codes[nid][s]] for s in range(n_sub)), nid)
                    for nid in vecs
                    if nid != qid
                ),
            )
            want[qid] = [(nid, d) for d, nid in scored[:topk]]
        return want

    def test_matches_python_pq_replay(self, spark):
        want = self._python_pq(spark)
        got = {}
        for r in QUERIES["x93_pq_ann"](spark, SF_DIR).collect():
            got.setdefault(r.query_id, []).append((r.rnk, r.neighbor_id, r.adist))
        got = {q: [(nid, d) for _, nid, d in sorted(v)] for q, v in got.items()}
        assert got == want

    def test_plan_broadcasts_adc_tables_no_cartesian(self, spark):
        df = QUERIES["x93_pq_ann"](spark, SF_DIR)
        plan = _plan(df)
        # the per-query ADC tables ride a broadcast into the encoded
        # corpus; the raw embedding column is consumed only by the
        # (driver-barrier) training/encoding passes
        assert "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan


class TestX94PqRecall:
    def test_matches_python_intersection(self, spark):
        from wren_engine_spark.queries.io import load_tables

        e = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
        vecs = {
            r.vec_id: [math.floor(float(x) * 1000000.0 + 0.5) for x in r.embedding]
            for r in e.collect()
        }
        pq_top = {}
        for r in QUERIES["x93_pq_ann"](spark, SF_DIR).collect():
            pq_top.setdefault(r.query_id, set()).add(r.neighbor_id)
        want = {}
        for qid in [i for i in vecs if i < 8]:
            exact = sorted(
                (
                    (
                        sum((a - b) * (a - b) for a, b in zip(vecs[qid], vecs[nid])),
                        nid,
                    )
                    for nid in vecs
                    if nid != qid
                ),
            )[:5]
            hits = len(pq_top[qid] & {nid for _, nid in exact})
            want[qid] = (hits, hits / 5.0)
        got = {
            r.query_id: (r.n_hits, r.recall_at_5)
            for r in QUERIES["x94_pq_recall"](spark, SF_DIR).collect()
        }
        assert got == want

    def test_recall_bounds(self, spark):
        for r in QUERIES["x94_pq_recall"](spark, SF_DIR).collect():
            assert 0 <= r.n_hits <= 5
            assert r.recall_at_5 == r.n_hits / 5.0


class TestX95ReshardMovement:
    def test_matches_python_replay(self, spark):
        import duckdb

        from wren_engine_spark.operators.selection import ring_positions

        ids = [
            r[0]
            for r in duckdb.sql(
                f"SELECT doc_id FROM read_parquet('{SF_DIR}/documents.parquet')"
            ).fetchall()
        ]
        M = 2147483647

        def h(d):
            return ((d * 31 + 42) % M) * ((d * 48271 + 49) % M) % M

        def ring_shard(ring, hv):
            ge = [p for p, _ in ring if p >= hv]
            key = min(ge) if ge else ring[0][0]
            for p, s in ring:
                if p == key:
                    return s

        old_r, new_r = ring_positions(8, 16, 42), ring_positions(10, 16, 42)
        mod_moved = sum(1 for d in ids if h(d) % 8 != h(d) % 10)
        ring_moved = sum(
            1 for d in ids if ring_shard(old_r, h(d)) != ring_shard(new_r, h(d))
        )
        got = {
            r.policy: (r.n_docs, r.n_moved, r.moved_frac)
            for r in QUERIES["x95_reshard_movement"](spark, SF_DIR).collect()
        }
        n = len(ids)
        assert got["mod"] == (n, mod_moved, mod_moved / n)
        assert got["ring"] == (n, ring_moved, ring_moved / n)
        # the operator's reason to exist: ring movement is bounded by
        # the new capacity share, mod movement is not
        assert got["ring"][2] < got["mod"][2]

    def test_plan_no_join_no_hash_shuffle(self, spark):
        df = QUERIES["x95_reshard_movement"](spark, SF_DIR)
        plan = _plan(df)
        assert "Join" not in plan  # in-row literal ring lookup
        assert "Exchange hashpartitioning" not in plan  # one global agg


class TestX96ClusterSizeHistogram:
    def test_consistent_with_x24_clusters(self, spark):
        from collections import Counter

        clusters = QUERIES["x24_duplicate_clusters"](spark, SF_DIR).collect()
        sizes = Counter(Counter(r.cluster_id for r in clusters).values())
        total = len(clusters)
        got = {
            r.cluster_size: (r.n_clusters, r.n_docs, r.doc_share)
            for r in QUERIES["x96_cluster_size_histogram"](spark, SF_DIR).collect()
        }
        want = {
            sz: (n, n * sz, (n * sz) / total) for sz, n in sizes.items()
        }
        assert got == want
        assert sum(nd for _, nd, _ in got.values()) == total


class TestX97VocabCoverage:
    def test_matches_counter_and_clamps(self, spark):
        from collections import Counter

        import duckdb

        texts = [
            r[0]
            for r in duckdb.sql(
                f"SELECT text FROM read_parquet('{SF_DIR}/documents.parquet')"
            ).fetchall()
        ]
        c = Counter()
        for t in texts:
            c.update(t.strip().lower().split())
        total = sum(c.values())
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
        rows = sorted(
            QUERIES["x97_vocab_coverage"](spark, SF_DIR).collect(),
            key=lambda r: r.vocab_size,
        )
        assert [r.vocab_size for r in rows] == [100, 500, 1000, 5000]
        prev = 0
        for r in rows:
            eff = min(r.vocab_size, len(ranked))
            covered = sum(cnt for _, cnt in ranked[:eff])
            assert r.eff_vocab == eff
            assert r.covered_tokens == covered
            assert r.total_tokens == total
            assert r.coverage == covered / total
            assert r.covered_tokens >= prev  # curve is nondecreasing
            prev = r.covered_tokens

    def test_plan_bounded_head(self, spark):
        plan = _plan(QUERIES["x97_vocab_coverage"](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan  # vocab head is bounded


class TestX98SplitLeakageAudit:
    def test_matches_pair_classification(self, spark):
        from wren_engine_spark.operators import dedup
        from wren_engine_spark.queries.io import load_tables

        d = load_tables(spark, SF_DIR, "documents")["documents"]
        pairs = dedup.jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.8)
        want = {}
        for r in pairs.collect():
            a_t, b_t = r.id_a % 10 == 0, r.id_b % 10 == 0
            scope = (
                "cross_split"
                if a_t != b_t
                else ("within_test" if a_t else "within_train")
            )
            want[scope] = want.get(scope, 0) + 1
        total = sum(want.values())
        got = {
            r.pair_scope: (r.n_pairs, r.total_pairs, r.share)
            for r in QUERIES["x98_split_leakage_audit"](spark, SF_DIR).collect()
        }
        assert got == {
            s: (n, total, n / total) for s, n in want.items()
        }
        assert abs(sum(sh for _, _, sh in got.values()) - 1.0) < 1e-12


class TestPersistedPqIndex:
    def test_probe_bit_identical_to_inline_pq_and_scans_codes_only(
        self, spark, tmp_path
    ):
        from wren_engine_spark.queries.io import load_tables

        e = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
        queries = e.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        path = str(tmp_path / "pq_index")
        meta = similarity.write_pq_index(
            e, "vec_id", "embedding", path, n_subspaces=2, k_codes=4, iters=1
        )
        assert meta["n_vectors"] == e.count() and meta["sub"] * 2 == meta["dim"]
        probe = similarity.pq_index_topk(spark, path, queries, topk=5)
        inline = similarity.pq_topk(
            e, "vec_id", "embedding", queries, n_subspaces=2, k_codes=4,
            iters=1, topk=5,
        )
        key = lambda r: (r.query_id, r.rnk, r.neighbor_id, r.adist)  # noqa: E731
        assert sorted(map(key, probe.collect())) == sorted(
            map(key, inline.collect())
        )
        # the probe never touches raw vectors: its scan reads the codes
        # parquet, and the ADC tables ride a broadcast
        plan = _plan(similarity.pq_index_topk(spark, path, queries, topk=5))
        assert "code_0" in plan and "embedding" not in plan
        assert "BroadcastNestedLoopJoin" in plan
        # r10: the inline train+score path is join-free apart from that
        # same ADC broadcast — every subspace's code comes from ONE
        # projection (_pq_encode), never a per-subspace assignment
        # chain equi-joined on __id (a corpus-scale shuffle join at
        # 100 TB)
        import re

        iplan = _plan(inline)
        assert set(re.findall(r"\w*Join\w*", iplan)) == {
            "BroadcastNestedLoopJoin"
        }


class TestRingMonotonicity:
    def test_growth_only_moves_docs_to_new_shards(self):
        """The defining property of consistent hashing: growing the
        ring from n_old to n_new shards never moves a key BETWEEN two
        old shards — every moved key lands on a NEW shard (its arc was
        claimed by a new vnode). Pure-Python check over a dense hash
        sample; a violation means the ring lookup is wrong even if the
        movement fraction happens to look plausible."""
        from wren_engine_spark.operators.selection import ring_positions

        old_r, new_r = ring_positions(8, 16, 42), ring_positions(10, 16, 42)

        def shard(ring, hv):
            ge = [p for p, _ in ring if p >= hv]
            key = min(ge) if ge else ring[0][0]
            for p, s in ring:
                if p == key:
                    return s

        M = 2147483647
        moved = same = 0
        for d in range(0, 20_000):
            h = ((d * 31 + 42) % M) * ((d * 48271 + 49) % M) % M
            a, b = shard(old_r, h), shard(new_r, h)
            if a != b:
                moved += 1
                assert b >= 8, (d, a, b)  # moved keys land on NEW shards only
            else:
                same += 1
        # vnode share of the two new shards ~ 2/10; allow slack
        frac = moved / (moved + same)
        assert 0.05 < frac < 0.45, frac


class TestT15StreamVectorSearch:
    def test_stream_equals_persisted_batch_probe(self, spark):
        stream_rows = QUERIES["t15_stream_vector_search"](spark, SF_DIR).collect()
        batch_rows = QUERIES["x99_pq_index_probe"](spark, SF_DIR).collect()
        key = lambda r: (r.query_id, r.rnk, r.neighbor_id, r.adist)  # noqa: E731
        assert sorted(map(key, stream_rows)) == sorted(map(key, batch_rows))

    def test_topk_shape_and_determinism(self, spark):
        rows = QUERIES["t15_stream_vector_search"](spark, SF_DIR).collect()
        per_q = {}
        for r in rows:
            per_q.setdefault(r.query_id, []).append((r.rnk, r.adist, r.neighbor_id))
        for q, v in per_q.items():
            v.sort()
            assert [rnk for rnk, _, _ in v] == list(range(1, len(v) + 1))
            # adist nondecreasing with rank; ties broken by neighbor id
            assert v == sorted(v, key=lambda t: (t[1], t[2]))


class TestPqGuards:
    def test_too_few_vectors_raise_clean_valueerror(self, spark):
        import pytest as _pytest

        df = spark.createDataFrame(
            [(i, [float(i)] * 4) for i in range(3)],
            "vec_id LONG, embedding ARRAY<FLOAT>",
        )
        q = df.selectExpr("vec_id AS query_id", "embedding AS qvec")
        with _pytest.raises(ValueError, match="k_codes"):
            similarity.pq_topk(df, "vec_id", "embedding", q, k_codes=4)

    def test_probe_reads_scale_from_index_meta(self, spark, tmp_path):
        # build with a NON-default quantum; the probe must pick it up
        # from the index meta (no caller parameter to get wrong)
        df = spark.createDataFrame(
            [(i, [float(i % 7), float(i % 5), float(i % 3), 1.0]) for i in range(40)],
            "vec_id LONG, embedding ARRAY<FLOAT>",
        )
        q = df.filter(F.col("vec_id") < 2).selectExpr(
            "vec_id AS query_id", "embedding AS qvec"
        )
        path = str(tmp_path / "pq_q1000")
        similarity.write_pq_index(
            df, "vec_id", "embedding", path, n_subspaces=2, k_codes=4,
            iters=1, quantum=1000,
        )
        inline = similarity.pq_topk(
            df, "vec_id", "embedding", q, n_subspaces=2, k_codes=4,
            iters=1, topk=5, quantum=1000,
        )
        probe = similarity.pq_index_topk(spark, path, q, topk=5)
        key = lambda r: (r.query_id, r.rnk, r.neighbor_id, r.adist)  # noqa: E731
        assert sorted(map(key, probe.collect())) == sorted(
            map(key, inline.collect())
        )
