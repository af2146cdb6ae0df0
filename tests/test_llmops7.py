"""Round-6 additions, batch 2 (x76-x80): brute-force property tests +
the scale-shape plan asserts that are part of the definition of done
(round-5 verdict item 9)."""

import math

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from wren_engine_spark.operators import dedup, selection, similarity
from wren_engine_spark.queries.registry import QUERIES


class TestX76SimilarityHistogram:
    def test_cumulative_is_descending_prefix_sum(self, spark):
        rows = QUERIES["x76_similarity_histogram"](spark, SF_DIR).collect()
        rows.sort(key=lambda r: -r.bin_lo)
        running = 0
        for r in rows:
            running += r.n_pairs
            assert r.pairs_at_or_above == running
        # every bin edge is a multiple of 0.05 within [0.5, 1.0]
        for r in rows:
            assert 0.5 <= r.bin_lo <= 1.0
            assert abs(r.bin_lo * 20 - round(r.bin_lo * 20)) < 1e-12

    def test_bins_match_raw_pairs(self, spark):
        from wren_engine_spark.queries.io import load_tables

        d = load_tables(spark, SF_DIR, "documents")["documents"]
        pairs = dedup.jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)
        want = {}
        for r in pairs.collect():
            b = math.floor(r.jaccard * 20) / 20.0
            want[b] = want.get(b, 0) + 1
        got = {
            r.bin_lo: r.n_pairs
            for r in QUERIES["x76_similarity_histogram"](spark, SF_DIR).collect()
        }
        assert got == want

    def test_plan_no_raw_shingle_shuffle_at_wide_threshold(self, spark):
        # x76 runs the x3 pipeline at threshold 0.5 — the wider net
        # must not reintroduce the skewed raw-shingle-key shuffle the
        # broadcast_head default eliminated (test_plans.py x3 assert):
        # every shingle-keyed Exchange must sit above a map-side
        # partial aggregate, and the frequency attach must broadcast.
        df = QUERIES["x76_similarity_histogram"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin [shingle" in plan
        lines = plan.splitlines()
        for i, l in enumerate(lines):
            if "Exchange hashpartitioning(shingle" in l:
                tail = "\n".join(lines[i + 1 : i + 3])
                assert "partial_count" in tail, l.strip()[:120]


class TestX77DedupScopePolicy:
    def test_matches_brute_force(self, spark):
        docs = [
            (0, "a", "en", "same text"),
            (1, "a", "en", "same text"),
            (2, "b", "en", "same text"),
            (3, "b", "de", "same text"),
            (4, "a", "de", "unique one"),
            (5, "b", "de", "unique two"),
        ]
        df = spark.createDataFrame(
            docs, "doc_id LONG, source STRING, lang STRING, text STRING"
        )
        out = dedup.dedup_scope_report(
            df,
            "text",
            "doc_id",
            {"global": [], "per_source": ["source"], "per_lang": ["lang"]},
        )
        got = {r.policy: (r.total_docs, r.survivors, r.removed) for r in out.collect()}
        texts = {t for *_, t in docs}
        by_src = {(s, t) for _, s, _, t in docs}
        by_lang = {(l, t) for _, _, l, t in docs}
        assert got["global"] == (6, len(texts), 6 - len(texts))
        assert got["per_source"] == (6, len(by_src), 6 - len(by_src))
        assert got["per_lang"] == (6, len(by_lang), 6 - len(by_lang))

    def test_global_is_tightest_scope(self, spark):
        rows = QUERIES["x77_dedup_scope_policy"](spark, SF_DIR).collect()
        by = {r.policy: r for r in rows}
        # refining the scope can only ADD survivors
        assert by["global"].survivors <= by["per_source"].survivors
        assert by["global"].survivors <= by["per_lang"].survivors
        for r in rows:
            assert r.removed == r.total_docs - r.survivors
            assert abs(r.removal_rate - r.removed / r.total_docs) < 1e-15

    def test_plan_no_text_past_first_projection(self, spark):
        # the grouping keys are (scope cols, md5) — the raw text column
        # must not appear in any Exchange (only its 32-char hash moves)
        df = QUERIES["x77_dedup_scope_policy"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "text#" not in line, line.strip()[:140]

    def test_plan_partial_aggregation(self, spark):
        df = QUERIES["x77_dedup_scope_policy"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "partial_count" in plan or "partial count" in plan.lower()


class TestX78BudgetTrim:
    def test_matches_brute_force_greedy(self, spark):
        from wren_engine_spark.operators.text import quality_score
        from wren_engine_spark.queries.io import load_tables

        d = load_tables(spark, SF_DIR, "documents")["documents"]
        q = {
            r.doc_id: r.quality_score
            for r in quality_score(d, "text", "doc_id").collect()
        }
        docs = d.select("doc_id", "lang", "text").collect()
        # Spark's split on \s+ of a trimmed string: empty -> [""] (size 1)
        toks = {
            r.doc_id: (len(r.text.strip().split()) if r.text.strip() else 1)
            for r in docs
        }
        langs = {}
        for r in docs:
            langs.setdefault(r.lang, []).append(r.doc_id)
        out = {r.doc_id: r for r in QUERIES["x78_budget_trim"](spark, SF_DIR).collect()}
        assert set(out) == {r.doc_id for r in docs}
        for lang, ids in langs.items():
            total = sum(toks[i] for i in ids)
            budget = math.floor(total * 1.0 / 2.0)
            ids.sort(key=lambda i: (-q[i], i))
            cum = 0
            for i in ids:
                cum += toks[i]
                row = out[i]
                assert row.lang == lang
                assert row.n_tokens == toks[i]
                assert row.cum_tokens == cum
                assert row.budget_tokens == budget
                assert row.kept == (cum <= budget)

    def test_plan_window_partitioned_by_group_and_totals_broadcast(self, spark):
        df = QUERIES["x78_budget_trim"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        win_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
        assert win_lines, "running-sum window expected"
        for l in win_lines:
            assert "windowspecdefinition(lang" in l, l.strip()[:140]
        assert "BroadcastHashJoin" in plan  # per-group totals join back broadcast


class TestX79HardNegatives:
    def test_matches_brute_force(self, spark):
        vecs = [
            (0, [1.0, 0.0, 0.0], "a"),
            (1, [0.9, 0.1, 0.0], "a"),
            (2, [0.8, 0.2, 0.0], "b"),
            (3, [0.0, 1.0, 0.0], "b"),
            (4, [0.0, 0.9, 0.1], "c"),
            (5, [0.5, 0.5, 0.0], "c"),
        ]
        df = spark.createDataFrame(vecs, "vec_id LONG, vec ARRAY<DOUBLE>, label STRING")
        qdf = df.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"),
            F.col("vec").alias("qvec"),
            F.col("label").alias("qlabel"),
        )
        out = similarity.hard_negatives(df, "vec_id", "vec", "label", qdf, k=2)
        got = {}
        for r in out.collect():
            got.setdefault(r.query_id, []).append(
                (r.rnk, r.neighbor_id, r.neighbor_label, r.cosine_sim)
            )
        by_id = {i: (v, l) for i, v, l in vecs}
        for qid in (0, 1):
            qv, ql = by_id[qid]
            cands = []
            for nid, (nv, nl) in by_id.items():
                if nl == ql:
                    continue
                dot = sum(a * b for a, b in zip(qv, nv))
                sim = dot / (
                    math.sqrt(sum(a * a for a in qv)) * math.sqrt(sum(a * a for a in nv))
                )
                cands.append((nid, nl, sim))
            cands.sort(key=lambda t: (-t[2], t[0]))
            want = [
                (rk + 1, nid, nl, round(sim, 6))
                for rk, (nid, nl, sim) in enumerate(cands[:2])
            ]
            assert sorted(got[qid]) == want

    def test_no_same_label_neighbor(self, spark):
        from wren_engine_spark.queries.io import load_tables

        e = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
        labels = {r.vec_id: r.label for r in e.select("vec_id", "label").collect()}
        for r in QUERIES["x79_hard_negatives"](spark, SF_DIR).collect():
            assert labels[r.query_id] != r.neighbor_label
            assert labels[r.neighbor_id] == r.neighbor_label

    def test_plan_queries_broadcast_corpus_never_shuffles(self, spark):
        df = QUERIES["x79_hard_negatives"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # non-equi cross-label join must ride a broadcast of the query
        # side, never a corpus shuffle
        assert "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan
        # only the bounded per-query top-k window shuffles (on query_id)
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                assert "query_id" in line, line.strip()[:140]


class TestX80EmbeddingDimStats:
    def test_matches_brute_force(self, spark):
        vecs = [
            (0, [0.5, 1.0, 0.0]),
            (1, [0.25, 1.0, 0.0]),
            (2, [-0.5, 1.0, 1e-7]),
        ]
        df = spark.createDataFrame(vecs, "vec_id LONG, vec ARRAY<DOUBLE>")
        out = {r.dim: r for r in similarity.embedding_dim_stats(df, "vec").collect()}
        q = 1_000_000.0
        for dim in range(3):
            xs = [math.floor(v[dim] * q + 0.5) for _, v in vecs]
            n = len(xs)
            mean_q = sum(xs) / n
            var_q = sum(x * x for x in xs) / n - mean_q * mean_q
            r = out[dim]
            assert r.n_vals == n
            assert abs(r.mean - mean_q / q) < 1e-15
            assert abs(r.variance - var_q / (q * q)) < 1e-18
        # dim 1 is constant -> zero variance -> dead; dim 2 is ~1e-7
        # amplitude -> variance ~ 1e-15 < 1e-9 -> dead too
        assert out[1].dead and out[2].dead and not out[0].dead

    def test_partition_order_invariant(self, spark):
        from wren_engine_spark.queries.io import load_tables

        e = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
        a = similarity.embedding_dim_stats(e, "embedding").collect()
        b = similarity.embedding_dim_stats(e.repartition(13), "embedding").collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_plan_partial_aggregation_on_dim(self, spark):
        df = QUERIES["x80_embedding_dim_stats"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "partial_count" in plan or "partial_sum" in plan
        shuffles = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert len(shuffles) == 1 and "dim" in shuffles[0]


class TestX81RagChunking:
    def test_matches_brute_force(self, spark):
        docs = [
            (0, ""),                          # empty -> 1 chunk of the '' token
            (1, "one two three"),             # < window
            (2, " ".join(f"t{i}" for i in range(64))),   # == window -> 1 chunk
            (3, " ".join(f"t{i}" for i in range(65))),   # window+1 -> 2 chunks
            (4, " ".join(f"t{i}" for i in range(200))),  # long tail chunk short
        ]
        from wren_engine_spark.operators import text as t_ops

        df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
        out = {}
        for r in t_ops.chunk_documents(df, "text", "doc_id", 64, 48).collect():
            out.setdefault(r.doc_id, []).append(r)

        def tok_hash(tok):
            acc = 0
            for ch in tok:
                acc = (acc * 31 + ord(ch)) % 2147483647
            return acc

        for doc_id, txt in docs:
            toks = txt.strip().split() if txt.strip() else [""]
            n = len(toks)
            n_chunks = 1 + (max(0, n - 64) + 47) // 48
            got = sorted(out[doc_id], key=lambda r: r.chunk_id)
            assert len(got) == n_chunks, (doc_id, n, n_chunks, len(got))
            for i, r in enumerate(got):
                start = i * 48 + 1
                chunk = toks[start - 1 : start - 1 + 64]
                assert r.chunk_id == i
                assert r.chunk_start == start
                assert r.n_chunk_tokens == len(chunk)
                acc = 0
                for h in (tok_hash(t) for t in chunk):
                    acc = (acc * 1000003 + h) % 2147483647
                assert r.chunk_hash == acc

    def test_no_fully_contained_tail_chunk(self, spark):
        rows = QUERIES["x81_rag_chunking"](spark, SF_DIR).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        for members in by_doc.values():
            members.sort(key=lambda r: r.chunk_id)
            for prev, cur in zip(members, members[1:]):
                # cur must extend past prev's end
                assert cur.chunk_start + cur.n_chunk_tokens > (
                    prev.chunk_start + prev.n_chunk_tokens
                )

    def test_plan_is_shuffle_free(self, spark):
        # entirely map-side: no hash/range exchange (the registered
        # entry keeps only load_tables' round-robin scan fan-out,
        # which moves each row once and never keys on data)
        df = QUERIES["x81_rag_chunking"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert "Exchange rangepartitioning" not in plan


class TestX82OovRate:
    def test_matches_brute_force(self, spark):
        docs = [
            (0, "a a a b"),
            (1, "a b c d"),
            (2, "x y z z"),
            (3, "A a B b"),  # lowercased
        ]
        from wren_engine_spark.operators import text as t_ops

        df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
        out = {r.doc_id: r for r in t_ops.oov_rate(df, "text", "doc_id", 2).collect()}
        # counts: a=6, b=4, z=2, c/d/x/y=1 -> vocab(2) = {a, b}
        want_oov = {0: 0, 1: 2, 2: 4, 3: 0}
        for doc_id, txt in docs:
            r = out[doc_id]
            assert r.n_tokens == len(txt.split())
            assert r.n_oov == want_oov[doc_id]
            assert abs(r.oov_rate - want_oov[doc_id] / r.n_tokens) < 1e-15

    def test_vocab_cut_tie_break_deterministic(self, spark):
        from wren_engine_spark.operators import text as t_ops

        # all counts equal -> cut decided purely by token asc
        df = spark.createDataFrame(
            [(0, "b d a c")], "doc_id LONG, text STRING"
        )
        r = t_ops.oov_rate(df, "text", "doc_id", 2).collect()[0]
        # vocab = {a, b}; oov = {c, d}
        assert r.n_oov == 2

    def test_plan_broadcast_membership_and_bounded_cut(self, spark):
        df = QUERIES["x82_oov_rate"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan  # vocab cut, never a global sort
        assert "SortMergeJoin" not in plan


class TestX83BoilerplatePrefix:
    def test_matches_brute_force(self, spark):
        from wren_engine_spark.operators import text as t_ops

        docs = [
            (0, "s1", "header one two x"),
            (1, "s1", "header one two y"),
            (2, "s1", "something else"),
            (3, "s2", "unique a"),
            (4, "s2", "unique b"),
        ]
        df = spark.createDataFrame(docs, "doc_id LONG, source STRING, text STRING")
        out = {
            r.source: r
            for r in t_ops.boilerplate_prefix(
                df, "text", "doc_id", "source", prefix_tokens=3, flag_share=0.5
            ).collect()
        }
        assert out["s1"].modal_prefix == "header one two"
        assert out["s1"].modal_count == 2 and out["s1"].n_docs == 3
        assert out["s1"].flagged  # 2/3 >= 0.5
        # s2: both prefixes count 1 -> tie broken by prefix asc
        assert out["s2"].modal_prefix == "unique a"
        assert out["s2"].modal_share == 0.5 and out["s2"].flagged  # boundary >=

    def test_one_row_per_source(self, spark):
        rows = QUERIES["x83_boilerplate_prefix"](spark, SF_DIR).collect()
        sources = [r.source for r in rows]
        assert len(sources) == len(set(sources))
        for r in rows:
            assert 0 < r.modal_count <= r.n_docs
            assert abs(r.modal_share - r.modal_count / r.n_docs) < 1e-15

    def test_plan_window_partitioned_by_source(self, spark):
        df = QUERIES["x83_boilerplate_prefix"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for l in plan.splitlines():
            if "windowspecdefinition" in l:
                assert "windowspecdefinition(source" in l, l.strip()[:140]


class TestX84CurriculumDeciles:
    def test_ntile_semantics(self, spark):
        from wren_engine_spark.operators.text import quality_score
        from wren_engine_spark.queries.io import load_tables

        d = load_tables(spark, SF_DIR, "documents")["documents"]
        q = {
            r.doc_id: r.quality_score
            for r in quality_score(d, "text", "doc_id").collect()
        }
        langs = {}
        for r in d.select("doc_id", "lang").collect():
            langs.setdefault(r.lang, []).append(r.doc_id)
        out = {
            r.doc_id: r for r in QUERIES["x84_curriculum_deciles"](spark, SF_DIR).collect()
        }
        for lang, ids in langs.items():
            ids.sort(key=lambda i: (-q[i], i))
            n = len(ids)
            base, extra = divmod(n, 10)
            # standard NTILE: first `extra` buckets get base+1 rows
            pos = 0
            for b in range(1, 11):
                size = base + (1 if b <= extra else 0)
                for j in range(size):
                    r = out[ids[pos]]
                    assert r.difficulty_decile == b, (lang, ids[pos])
                    assert r.pos_in_decile == j + 1
                    pos += 1
            assert pos == n

    def test_plan_windows_partitioned_by_lang(self, spark):
        df = QUERIES["x84_curriculum_deciles"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        win_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
        assert win_lines
        for l in win_lines:
            assert "windowspecdefinition(lang" in l, l.strip()[:140]


class TestM7Ewma:
    def test_matches_brute_force(self, spark):
        import datetime

        rows = [
            (1, datetime.datetime(2024, 1, 1, 0, 0, s), 7, "a", float(v))
            for s, v in enumerate([1.0, 2.0, 4.0, 0.5])
        ] + [(10, datetime.datetime(2024, 1, 1), 8, "b", 3.0)]
        df = spark.createDataFrame(
            [(e, ts, u, t, v) for e, (_, ts, u, t, v) in zip([1, 2, 3, 4, 10], rows)],
            "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE",
        )
        from wren_engine_spark.operators import metrics as m_ops

        out = {
            (r.user_id, r.event_type): r
            for r in m_ops.ewma(
                df, ["user_id", "event_type"], ["ts", "event_id"], "value", 0.25
            ).collect()
        }
        acc = 0.0
        for v in [1.0, 2.0, 4.0, 0.5]:
            acc = acc * 0.75 + 0.25 * v
        assert out[(7, "a")].n_events == 4
        assert out[(7, "a")].ewma == acc  # bit-identical fold
        assert out[(8, "b")].ewma == 0.75 * 0.0 + 0.25 * 3.0

    def test_partition_order_invariant(self, spark):
        from wren_engine_spark.operators import metrics as m_ops
        from wren_engine_spark.queries.io import load_tables

        e = load_tables(spark, SF_DIR, "events")["events"]
        a = sorted(
            tuple(r)
            for r in m_ops.ewma(
                e, ["user_id", "event_type"], ["ts", "event_id"], "value"
            ).collect()
        )
        b = sorted(
            tuple(r)
            for r in m_ops.ewma(
                e.repartition(17), ["user_id", "event_type"], ["ts", "event_id"], "value"
            ).collect()
        )
        assert a == b

    def test_plan_single_shuffle(self, spark):
        df = QUERIES["m7_ewma"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        shuffles = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
        assert len(shuffles) == 1 and "user_id" in shuffles[0]


class TestX85KmeansQuantized:
    def test_matches_pure_python_lloyd(self, spark):
        vecs = [
            (0, [0.0, 0.0]),
            (1, [0.1, 0.0]),
            (2, [1.0, 1.0]),
            (3, [0.9, 1.1]),
            (4, [0.05, 0.02]),
            (5, [1.05, 0.95]),
            (6, [0.5, 0.5]),
        ]
        df = spark.createDataFrame(vecs, "vec_id LONG, vec ARRAY<DOUBLE>")
        out = {
            (r.cluster, r.dim): (r.centroid_q, r.n_members)
            for r in similarity.kmeans_quantized(
                df, "vec_id", "vec", k=2, iters=2
            ).collect()
        }
        qv = {i: [math.floor(x * 1e6 + 0.5) for x in v] for i, v in vecs}
        cents = [qv[0], qv[1]]  # two smallest ids
        counts = [0, 0]
        for _ in range(2):
            assign = {}
            for i, v in qv.items():
                dists = [
                    sum((a - b) * (a - b) for a, b in zip(v, c)) for c in cents
                ]
                assign[i] = min(range(2), key=lambda c: (dists[c], c))
            counts = [0, 0]
            sums = [[0, 0], [0, 0]]
            for i, c in assign.items():
                counts[c] += 1
                for d in range(2):
                    sums[c][d] += qv[i][d]
            for c in range(2):
                if counts[c]:
                    cents[c] = [
                        math.floor(sums[c][d] / counts[c]) for d in range(2)
                    ]
        for c in range(2):
            for d in range(2):
                assert out[(c, d)] == (cents[c][d], counts[c]), (c, d)

    def test_empty_cluster_keeps_centroid(self, spark):
        # two far points + k=2 init on ids 0,1 which sit together:
        # cluster 1 empties after iteration 1 and must keep its centroid
        vecs = [(0, [0.0]), (1, [0.001]), (2, [0.0005])]
        df = spark.createDataFrame(vecs, "vec_id LONG, vec ARRAY<DOUBLE>")
        out = {
            (r.cluster, r.dim): (r.centroid_q, r.n_members)
            for r in similarity.kmeans_quantized(
                df, "vec_id", "vec", k=2, iters=2
            ).collect()
        }
        # all three points are closer to one of the two centroids at
        # some iteration; whichever cluster empties must report n=0 and
        # a non-null centroid
        total = sum(n for _, n in out.values())
        assert total == 3  # dim=1, so one row per cluster
        for (c, d), (val, n) in out.items():
            assert val is not None

    def test_plan_assignment_is_join_free(self, spark):
        # the distance argmin must ride literal centroid arrays in-row:
        # a step of the one Lloyd loop may shuffle only on the
        # (subspace, cluster, dim) aggregation key, never join the
        # corpus against a centroid relation
        from wren_engine_spark.operators.similarity import _lloyd_step
        from wren_engine_spark.queries.io import load_tables

        e = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
        q = e.select(
            F.col("vec_id").alias("__id"),
            F.expr(
                "transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0"
                " + 0.5) as bigint))"
            ).alias("qx"),
        )
        cents = [list(r.qx) for r in q.orderBy("__id").limit(4).collect()]
        upd = _lloyd_step(q, [cents])
        plan = upd._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan  # assignment is literal-fold, join-free
        shuffles = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
        assert len(shuffles) == 1 and "cluster" in shuffles[0]
        assert "partial_sum" in plan  # k*dim-bounded map-side combine


def _tok_hash31(tok):
    acc = 0
    for ch in tok:
        acc = (acc * 31 + ord(ch)) % 2147483647
    return acc


class TestX86ContaminationSpans:
    def test_planted_spans_located_and_merged(self, spark):
        from wren_engine_spark.operators import text as t_ops

        leak = " ".join(f"L{i}" for i in range(10))  # 10-token excerpt
        filler = lambda s, n: " ".join(f"{s}{i}" for i in range(n))
        train = [
            # leak at tokens 6-15 (1-based), 5 filler before
            (1, filler("a", 5) + " " + leak + " " + filler("b", 4)),
            # two copies of the leak back-to-back: windows chain into ONE span
            (2, leak + " " + leak),
            # clean doc
            (3, filler("c", 20)),
            # leak shorter than the window (first 7 tokens only): no hit
            (4, " ".join(leak.split()[:7]) + " " + filler("d", 10)),
        ]
        test = [(100, filler("x", 3) + " " + leak + " " + filler("y", 3))]
        tr = spark.createDataFrame(train, "doc_id LONG, text STRING")
        te = spark.createDataFrame(test, "doc_id LONG, text STRING")
        out = {}
        for r in t_ops.contamination_spans(tr, te, "text", "doc_id", 8).collect():
            out.setdefault(r.doc_id, []).append(
                (r.span_start, r.span_end, r.n_windows)
            )
        # doc 1: leak occupies tokens 6..15 -> windows start 6,7,8 ->
        # span [6, 15], 3 windows
        assert out[1] == [(6, 15, 3)]
        # doc 2: 20 tokens of leak+leak; every 8-window of doc 100's
        # leak region matches; chained windows merge into one span
        assert len(out[2]) == 1
        s, e, n = out[2][0]
        assert s == 1 and e >= 15
        assert 3 not in out and 4 not in out

    def test_plan_broadcast_probe_and_doc_partitioned_islands(self, spark):
        df = QUERIES["x86_contamination_spans"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # held-out window set broadcasts; training windows are never
        # hash-exchanged on the window key
        assert "BroadcastHashJoin [__w" in plan and "LeftSemi" in plan
        lines = plan.splitlines()
        # the STREAMED side of the semi join (the exploded training
        # windows — the lines between the join and its
        # BroadcastExchange child) must carry no hash exchange; the
        # held-out side's DISTINCT (under the BroadcastExchange,
        # benchmark-sized) and the per-doc island window (doc_id) are
        # the only keyed shuffles in the plan
        j = next(i for i, l in enumerate(lines) if "BroadcastHashJoin [__w" in l)
        for l in lines[j + 1 :]:
            if "BroadcastExchange" in l:
                break
            assert "Exchange hashpartitioning" not in l, l.strip()[:140]
        for l in lines:
            if "Exchange hashpartitioning" in l:
                assert "doc_id" in l or "__w" in l, l.strip()[:140]
        win_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
        assert win_lines
        for l in win_lines:
            assert "windowspecdefinition(doc_id" in l, l.strip()[:140]


class TestX87SurgicalDecontamination:
    def test_planted_removal(self, spark):
        from wren_engine_spark.operators import text as t_ops

        leak = " ".join(f"L{i}" for i in range(10))
        filler = lambda s, n: " ".join(f"{s}{i}" for i in range(n))
        train = [
            (1, filler("a", 5) + " " + leak + " " + filler("b", 4)),
            (3, filler("c", 20)),
            (5, leak),  # exactly the leak: fully excised
        ]
        test = [(100, leak)]
        tr = spark.createDataFrame(train, "doc_id LONG, text STRING")
        te = spark.createDataFrame(test, "doc_id LONG, text STRING")
        spans = t_ops.contamination_spans(tr, te, "text", "doc_id", 8)
        out = {
            r.doc_id: r for r in t_ops.remove_spans(tr, spans, "text", "doc_id").collect()
        }

        def fold(toks):
            acc = 0
            for h in (_tok_hash31(t) for t in toks):
                acc = (acc * 1000003 + h) % 2147483647
            return acc

        # doc 1: tokens 6..15 removed
        toks1 = train[0][1].split()
        kept1 = toks1[:5] + toks1[15:]
        assert out[1].n_tokens == 19
        assert out[1].n_tokens_removed == 10
        assert out[1].clean_hash == fold(kept1)
        # doc 3 untouched
        assert out[3].n_tokens_removed == 0
        assert out[3].clean_hash == fold(train[1][1].split())
        # doc 5 fully excised -> empty fold
        assert out[5].n_tokens_removed == 10
        assert out[5].clean_hash == 0

    def test_every_train_doc_emits_one_row(self, spark):
        rows = QUERIES["x87_surgical_decontamination"](spark, SF_DIR).collect()
        ids = [r.doc_id for r in rows]
        assert len(ids) == len(set(ids))
        assert all(i % 10 != 0 for i in ids)
        for r in rows:
            assert 0 <= r.n_tokens_removed <= r.n_tokens

    def test_consistent_with_x86_spans(self, spark):
        spans = QUERIES["x86_contamination_spans"](spark, SF_DIR).collect()
        removed_want = {}
        for s in spans:
            removed_want[s.doc_id] = removed_want.get(s.doc_id, 0) + (
                s.span_end - s.span_start + 1
            )
        out = {r.doc_id: r for r in QUERIES["x87_surgical_decontamination"](spark, SF_DIR).collect()}
        for doc_id, want in removed_want.items():
            assert out[doc_id].n_tokens_removed == want
