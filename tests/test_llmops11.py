"""Round-8 late additions: tombstone deletes (x112), filtered probes
(x113), hybrid RRF retrieval (x114).

Pins, per the round-5 discipline:
- delete ≡ filtered re-rank of the full-index probe (brute force, no
  oracle shortcut: geometry is frozen so surviving ADC distances are
  bit-identical);
- a tombstone shadows later appends of the same id until compaction
  folds it; compaction physically drops tombstoned rows, clears the
  tombstone directory, and leaves probes bit-identical;
- a rebuild clears stale tombstones;
- the no-tombstone probe plan is UNCHANGED (zero overhead on the
  common path) and the tombstoned plan adds no shuffle;
- the filtered probe pushes its predicate into the bucketed parquet
  scan (PushedFilters), keeps the one-shuffle serving shape, and
  ranks k-deep within qualifying candidates;
- hybrid RRF matches an independent pure-Python replay on a corpus
  slice, including absent-from-one-list NULL ranks.
"""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, clone_session, cross_session_deletes
from wren_engine_spark.operators import layout, retrieval, similarity


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        F.col("vec_id") < 300
    )


def _probe_rows(spark, path, queries, topk=5):
    return sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.adist)
        for r in similarity.pq_index_topk(spark, path, queries, topk=topk).collect()
    )


class TestTombstoneDelete:
    def test_delete_equals_filtered_rerank(self, spark, emb, tmp_path):
        path = str(tmp_path / "pq_del")
        similarity.write_pq_index(
            emb, "vec_id", "embedding", path, n_subspaces=2, k_codes=4
        )
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        # expected: probe the FULL index for everything, drop deleted
        # ids, re-rank — geometry is frozen so every surviving
        # (query, neighbor, adist) is bit-identical
        full = similarity.pq_index_topk(spark, path, queries, topk=10_000).collect()
        deleted = {r.vec_id for r in emb.filter(F.col("vec_id") % 9 == 0).collect()}
        expected = []
        by_q: dict = {}
        for r in sorted(full, key=lambda r: (r.query_id, r.rnk)):
            if r.neighbor_id in deleted:
                continue
            nxt = by_q.get(r.query_id, 0) + 1
            by_q[r.query_id] = nxt
            if nxt <= 5:
                expected.append((r.query_id, nxt, r.neighbor_id, r.adist))
        similarity.pq_index_delete(
            spark, path, emb.filter(F.col("vec_id") % 9 == 0).select("vec_id")
        )
        assert _probe_rows(spark, path, queries) == sorted(expected)

    def test_compact_folds_tombstones(self, spark, emb, tmp_path):
        path = str(tmp_path / "pq_fold")
        similarity.write_pq_index(
            emb, "vec_id", "embedding", path, n_subspaces=2, k_codes=4
        )
        n_before = spark.read.parquet(f"{path}/codes").count()
        n_del = emb.filter(F.col("vec_id") % 9 == 0).count()
        similarity.pq_index_delete(
            spark, path, emb.filter(F.col("vec_id") % 9 == 0).select("vec_id")
        )
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        before = _probe_rows(spark, path, queries)
        stats = similarity.pq_index_compact(spark, path, target_files=1)
        assert stats["n_rows"] == n_before - n_del
        assert spark.read.parquet(f"{path}/codes").count() == n_before - n_del
        assert not os.path.isdir(f"{path}/tombstones")
        # probes — which already excluded tombstoned rows — unchanged
        assert _probe_rows(spark, path, queries) == before
        # re-running the delete of already-gone ids is harmless
        similarity.pq_index_delete(spark, path, [int(i) for i in range(0, 27, 9)])
        assert _probe_rows(spark, path, queries) == before

    def test_tombstone_shadows_later_append_until_compact(self, spark, emb, tmp_path):
        path = str(tmp_path / "pq_shadow")
        base = emb.filter(F.col("vec_id") >= 10)
        similarity.write_pq_index(
            base, "vec_id", "embedding", path, n_subspaces=2, k_codes=4
        )
        similarity.pq_index_delete(spark, path, [3])
        # append the deleted id AFTER the delete: still shadowed
        similarity.pq_index_append(
            spark, path, emb.filter(F.col("vec_id") == 3), "vec_id", "embedding"
        )
        queries = emb.filter(F.col("vec_id") == 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        codes = spark.read.parquet(f"{path}/codes")
        assert codes.filter(F.col("__id") == 3).count() == 1  # row exists...
        got = similarity.pq_index_topk(spark, path, queries, topk=10_000)
        assert got.filter(F.col("neighbor_id") == 3).count() == 0  # ...shadowed
        # compaction folds the tombstone away — the id stays deleted
        # (its only row predated... was appended before the fold, so
        # the fold removes it too), and a FRESH append is servable
        similarity.pq_index_compact(spark, path, target_files=1)
        assert spark.read.parquet(f"{path}/codes").filter(
            F.col("__id") == 3
        ).count() == 0
        similarity.pq_index_append(
            spark, path, emb.filter(F.col("vec_id") == 3), "vec_id", "embedding"
        )
        got2 = similarity.pq_index_topk(spark, path, queries, topk=10_000)
        assert got2.filter(F.col("neighbor_id") == 3).count() == 0  # self-excluded?
        # id 3 IS the query id, so exclude via a different query
        q5 = emb.filter(F.col("vec_id") == 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        got3 = similarity.pq_index_topk(spark, path, q5, topk=10_000)
        assert got3.filter(F.col("neighbor_id") == 3).count() == 1

    def test_rebuild_clears_tombstones(self, spark, emb, tmp_path):
        path = str(tmp_path / "pq_rebuild")
        similarity.write_pq_index(
            emb, "vec_id", "embedding", path, n_subspaces=2, k_codes=4
        )
        similarity.pq_index_delete(spark, path, [1, 2, 3])
        assert os.path.isdir(f"{path}/tombstones")
        similarity.write_pq_index(
            emb, "vec_id", "embedding", path, n_subspaces=2, k_codes=4
        )
        assert not os.path.isdir(f"{path}/tombstones")
        queries = emb.filter(F.col("vec_id") == 7).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        got = similarity.pq_index_topk(spark, path, queries, topk=10_000)
        assert got.filter(F.col("neighbor_id").isin(1, 2, 3)).count() == 3

    def test_no_tombstone_plan_unchanged_and_no_extra_shuffle(
        self, spark, emb, tmp_path
    ):
        path = str(tmp_path / "pq_plan")
        similarity.write_pq_index(
            emb, "vec_id", "embedding", path, n_subspaces=2, k_codes=4
        )
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        from wren_engine_spark.operators.layout import shuffle_exchanges

        clean = similarity.pq_index_topk(spark, path, queries, topk=5)
        clean_shuffles = shuffle_exchanges(clean)
        assert "LeftAnti" not in _plan(clean)  # no anti-join w/o tombstones
        similarity.pq_index_delete(spark, path, [0])
        dirty = similarity.pq_index_topk(spark, path, queries, topk=5)
        # the anti-join is broadcast: no NEW shuffle on the probe path
        assert shuffle_exchanges(dirty) == clean_shuffles
        assert "BroadcastHashJoin" in _plan(dirty) and "LeftAnti" in _plan(dirty)

    def test_ivfpq_probe_respects_tombstones(self, spark, emb, tmp_path):
        path = str(tmp_path / "ivfpq_del")
        similarity.write_ivfpq_index(
            emb, "vec_id", "embedding", path, nlist=4, n_subspaces=2, k_codes=4
        )
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        full = similarity.ivfpq_index_topk(
            spark, path, queries, nprobe=4, topk=10_000
        ).collect()
        deleted = {r.vec_id for r in emb.filter(F.col("vec_id") % 11 == 0).collect()}
        expected = []
        by_q: dict = {}
        for r in sorted(full, key=lambda r: (r.query_id, r.rnk)):
            if r.neighbor_id in deleted:
                continue
            nxt = by_q.get(r.query_id, 0) + 1
            by_q[r.query_id] = nxt
            if nxt <= 5:
                expected.append((r.query_id, nxt, r.neighbor_id, r.adist))
        similarity.pq_index_delete(
            spark, path, emb.filter(F.col("vec_id") % 11 == 0).select("vec_id")
        )
        got = sorted(
            (r.query_id, r.rnk, r.neighbor_id, r.adist)
            for r in similarity.ivfpq_index_topk(
                spark, path, queries, nprobe=4, topk=5
            ).collect()
        )
        assert got == sorted(expected)


class TestFilteredProbe:
    def test_filter_pushes_into_scan_and_keeps_one_shuffle(self, spark, emb):
        similarity.write_ann_index(
            emb, "vec_id", "embedding", "filt_t1",
            dim=64, nbits=6, tables=2, seed=7, attr_cols=["label"],
        )
        queries = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
        from wren_engine_spark.operators.layout import shuffle_exchanges

        out = similarity.ann_index_topk(
            spark, "filt_t1", queries, "vec_id", "embedding", dim=64, k=3,
            where="label < 5",
        )
        plan = _plan(out)
        assert "PushedFilters" in plan and "LessThan(label,5)" in plan
        assert shuffle_exchanges(out) == 1  # the x63 serving shape holds
        rows = out.collect()
        labels = {
            r.vec_id: r.label for r in emb.select("vec_id", "label").collect()
        }
        assert rows and all(labels[r.neighbor_id] < 5 for r in rows)

    def test_prefilter_ranks_k_deep_not_postfilter(self, spark, emb):
        # pre-filtering must surface qualifying candidates ranked
        # BELOW unqualified ones in the unfiltered top-k: the filtered
        # result set per query is >= the post-filtered unfiltered one
        similarity.write_ann_index(
            emb, "vec_id", "embedding", "filt_t2",
            dim=64, nbits=4, tables=2, seed=3, attr_cols=["label"],
        )
        queries = emb.filter(F.col("vec_id") < 20).select("vec_id", "embedding")
        unfiltered = similarity.ann_index_topk(
            spark, "filt_t2", queries, "vec_id", "embedding", dim=64, k=3
        ).collect()
        filtered = similarity.ann_index_topk(
            spark, "filt_t2", queries, "vec_id", "embedding", dim=64, k=3,
            where="label = 1",
        ).collect()
        labels = {
            r.vec_id: r.label for r in emb.select("vec_id", "label").collect()
        }
        post = {}
        for r in unfiltered:
            if labels[r.neighbor_id] == 1:
                post[r.query_id] = post.get(r.query_id, 0) + 1
        pre = {}
        for r in filtered:
            assert labels[r.neighbor_id] == 1
            pre[r.query_id] = pre.get(r.query_id, 0) + 1
        assert sum(pre.values()) >= sum(post.values())
        assert any(
            pre.get(q, 0) > post.get(q, 0) for q in pre
        ), "expected at least one query where pre-filtering found more"

    def test_append_carries_attr_cols(self, spark, emb):
        base = emb.filter(F.col("vec_id") % 4 != 0)
        delta = emb.filter(F.col("vec_id") % 4 == 0)
        similarity.write_ann_index(
            base, "vec_id", "embedding", "filt_t3",
            dim=64, nbits=6, tables=2, seed=7, attr_cols=["label"],
        )
        similarity.ann_index_append(
            spark, "filt_t3", delta, "vec_id", "embedding"
        )
        full = spark.table("filt_t3")
        assert "label" in full.columns
        assert full.filter(F.col("label").isNull()).count() == 0
        # filtered probe sees appended rows through the same predicate
        queries = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
        out = similarity.ann_index_topk(
            spark, "filt_t3", queries, "vec_id", "embedding", dim=64, k=3,
            where="label < 5",
        ).collect()
        similarity.write_ann_index(
            emb, "vec_id", "embedding", "filt_t4",
            dim=64, nbits=6, tables=2, seed=7, attr_cols=["label"],
        )
        ref = similarity.ann_index_topk(
            spark, "filt_t4", queries, "vec_id", "embedding", dim=64, k=3,
            where="label < 5",
        ).collect()
        key = lambda r: (r.query_id, r.rnk, r.neighbor_id, r.cosine_sim)  # noqa: E731
        assert sorted(map(key, out)) == sorted(map(key, ref))


class TestBucketedLifecycle:
    def _probe(self, spark, table, queries, k=3):
        return sorted(
            (r.query_id, r.rnk, r.neighbor_id, r.cosine_sim)
            for r in similarity.ann_index_topk(
                spark, table, queries, "vec_id", "embedding", dim=64, k=k
            ).collect()
        )

    def test_ann_delete_equals_filtered_rerank(self, spark, emb):
        similarity.write_ann_index(
            emb, "vec_id", "embedding", "lcann_t1",
            dim=64, nbits=6, tables=2, seed=7,
        )
        queries = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
        full = similarity.ann_index_topk(
            spark, "lcann_t1", queries, "vec_id", "embedding", dim=64, k=10_000
        ).collect()
        deleted = {r.vec_id for r in emb.filter(F.col("vec_id") % 9 == 0).collect()}
        expected = []
        by_q: dict = {}
        for r in sorted(full, key=lambda r: (r.query_id, r.rnk, r.neighbor_id)):
            if r.neighbor_id in deleted:
                continue
            nxt = by_q.get(r.query_id, 0) + 1
            by_q[r.query_id] = nxt
            if nxt <= 3:
                expected.append((r.query_id, nxt, r.neighbor_id, r.cosine_sim))
        similarity.ann_index_delete(
            spark, "lcann_t1", emb.filter(F.col("vec_id") % 9 == 0).select("vec_id")
        )
        assert self._probe(spark, "lcann_t1", queries) == sorted(expected)
        # still the one-shuffle serving shape: the anti-join broadcasts
        from wren_engine_spark.operators.layout import shuffle_exchanges

        out = similarity.ann_index_topk(
            spark, "lcann_t1", queries, "vec_id", "embedding", dim=64, k=3
        )
        assert shuffle_exchanges(out) == 1

    def test_ann_compact_folds_and_preserves(self, spark, emb):
        from wren_engine_spark.operators import layout

        similarity.write_ann_index(
            emb.filter(F.col("vec_id") % 3 != 0), "vec_id", "embedding",
            "lcann_t2", dim=64, nbits=6, tables=2, seed=7, buckets=4,
        )
        similarity.ann_index_append(
            spark, "lcann_t2", emb.filter(F.col("vec_id") % 3 == 0),
            "vec_id", "embedding",
        )
        similarity.ann_index_delete(spark, "lcann_t2", [6, 12, 18])
        queries = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
        before = self._probe(spark, "lcann_t2", queries)
        n_merge_on_read = spark.table("lcann_t2").count()
        stats = similarity.ann_index_compact(spark, "lcann_t2")
        assert stats["files_after"] <= 4 < stats["files_before"]
        # 3 deleted ids x 2 hash tables of rows folded away
        assert stats["n_rows"] == n_merge_on_read - 3 * 2
        assert spark.table("lcann_t2").count() == stats["n_rows"]
        assert not os.path.isdir(layout.tombstone_dir(spark, "lcann_t2"))
        assert layout.read_tombstones(spark, "lcann_t2") is None
        # probes bit-identical across the swap, and bucket spec intact
        # (the append below validates it)
        assert self._probe(spark, "lcann_t2", queries) == before
        similarity.ann_index_append(
            spark, "lcann_t2", emb.filter(F.col("vec_id") == 6),
            "vec_id", "embedding",
        )
        # the re-appended id is physically back (one row per hash
        # table) and nothing anti-joins it away anymore
        assert spark.table("lcann_t2").filter(F.col("vec_id") == 6).count() == 2
        out2 = similarity.ann_index_topk(
            spark, "lcann_t2", queries, "vec_id", "embedding", dim=64, k=3
        )
        assert "LeftAnti" not in _plan(out2)

    def test_compact_recovery_guard(self, spark, emb):
        similarity.write_ann_index(
            emb, "vec_id", "embedding", "lcann_t3",
            dim=64, nbits=4, tables=2, seed=3, buckets=4,
        )
        queries = emb.filter(F.col("vec_id") < 3).select("vec_id", "embedding")
        before = self._probe(spark, "lcann_t3", queries)
        # simulate a crash between the two renames: data parked at __old
        spark.sql("ALTER TABLE lcann_t3 RENAME TO lcann_t3__old")
        similarity.ann_index_compact(spark, "lcann_t3")
        assert self._probe(spark, "lcann_t3", queries) == before

    def test_simhash_delete_and_compact(self, spark):
        from wren_engine_spark.operators import dedup

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        corpus = docs.filter(F.col("doc_id") % 10 != 0)
        delta = docs.filter(F.col("doc_id") % 10 == 0)
        dedup.write_simhash_index(corpus, "text", "doc_id", "lcsh_t1", buckets=4)
        full = {
            (r.delta_id, r.corpus_id, r.hamming)
            for r in dedup.simhash_index_probe(
                spark, "lcsh_t1", delta, "text", "doc_id", max_hamming=3
            ).collect()
        }
        deleted = {r.doc_id for r in corpus.filter(F.col("doc_id") % 7 == 0).collect()}
        expected = {t for t in full if t[1] not in deleted}
        assert expected != full, "test needs at least one deleted match"
        dedup.simhash_index_delete(spark, "lcsh_t1", sorted(deleted))
        got = {
            (r.delta_id, r.corpus_id, r.hamming)
            for r in dedup.simhash_index_probe(
                spark, "lcsh_t1", delta, "text", "doc_id", max_hamming=3
            ).collect()
        }
        assert got == expected
        stats = dedup.simhash_index_compact(spark, "lcsh_t1")
        assert stats["files_after"] <= 4
        assert not os.path.isdir(layout.tombstone_dir(spark, "lcsh_t1"))
        after = {
            (r.delta_id, r.corpus_id, r.hamming)
            for r in dedup.simhash_index_probe(
                spark, "lcsh_t1", delta, "text", "doc_id", max_hamming=3
            ).collect()
        }
        assert after == expected


class TestDeleteGuards:
    def test_uncastable_ids_raise_instead_of_silent_noop(self, spark, emb, tmp_path):
        path = str(tmp_path / "pq_guard")
        similarity.write_pq_index(
            emb, "vec_id", "embedding", path, n_subspaces=2, k_codes=4
        )
        ids = spark.createDataFrame([("not-a-number",)], ["vec_id"])
        # ANSI mode (Spark 4 default) throws on the invalid cast
        # itself; non-ANSI sessions hit the explicit NULL guard — both
        # paths are LOUD, neither reports a successful no-op delete
        with pytest.raises(Exception, match="did not cast|CAST_INVALID_INPUT"):
            similarity.pq_index_delete(spark, path, ids)
        # nothing was written: the probe plan stays tombstone-free
        queries = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        out = similarity.pq_index_topk(spark, path, queries, topk=3)
        assert "LeftAnti" not in _plan(out)

    def test_string_id_index_deletes_by_string(self, spark, emb):
        # a blind BIGINT cast would NULL these ids and silently no-op
        sdf = emb.select(
            F.concat(F.lit("doc-"), F.col("vec_id")).alias("sid"), "embedding"
        )
        similarity.write_ann_index(
            sdf, "sid", "embedding", "guard_t1",
            dim=64, nbits=4, tables=2, seed=3,
        )
        similarity.ann_index_delete(spark, "guard_t1", ["doc-7", "doc-11"])
        tomb = layout.read_tombstones(spark, "guard_t1").collect()
        assert {r.sid for r in tomb} == {"doc-7", "doc-11"}
        queries = sdf.filter(F.col("sid").isin("doc-0", "doc-1"))
        got = similarity.ann_index_topk(
            spark, "guard_t1", queries, "sid", "embedding", dim=64, k=10_000
        )
        assert got.filter(F.col("neighbor_id").isin("doc-7", "doc-11")).count() == 0

    def test_delete_on_missing_index_raises(self, spark):
        from wren_engine_spark.operators import dedup, layout

        with pytest.raises(ValueError):
            similarity.ann_index_delete(spark, "no_such_index_xyz", [1])
        with pytest.raises(ValueError):
            dedup.simhash_index_delete(spark, "no_such_index_xyz", [1])
        with pytest.raises(ValueError):
            layout.append_tombstones(spark, [1], "id", "no_such_index_xyz")

    def test_empty_ids_delete_is_clean_noop(self, spark, emb, tmp_path):
        # an empty ids iterable used to die in createDataFrame schema
        # inference; it must be a clean no-op that writes no tombstone
        from wren_engine_spark.operators import layout

        path = str(tmp_path / "pq_emptydel")
        similarity.write_pq_index(
            emb.filter(F.col("vec_id") < 40), "vec_id", "embedding",
            path, n_subspaces=2, k_codes=4,
        )
        assert similarity.pq_index_delete(spark, path, []) == {
            "n_tombstones": 0
        }
        assert layout.read_tombstones(spark, path=path) is None
        sdf = emb.filter(F.col("vec_id") < 40)
        similarity.write_ann_index(
            sdf, "vec_id", "embedding", "emptydel_t1",
            dim=64, nbits=4, tables=2, seed=3,
        )
        assert layout.append_tombstones(
            spark, [], "vec_id", "emptydel_t1"
        ) == {"n_tombstones": 0}
        assert layout.read_tombstones(spark, "emptydel_t1") is None

    def test_tombstone_read_failure_is_loud(self, spark, emb, tmp_path):
        # a corrupt tombstone sidecar must surface, not silently serve
        # deleted vectors
        path = str(tmp_path / "pq_corrupt")
        similarity.write_pq_index(
            emb, "vec_id", "embedding", path, n_subspaces=2, k_codes=4
        )
        similarity.pq_index_delete(spark, path, [1])
        import glob
        import os

        for f in glob.glob(f"{path}/tombstones/*.parquet"):
            with open(f, "wb") as fh:
                fh.write(b"not a parquet file at all")
            os.utime(f)
        with pytest.raises(Exception):
            similarity.pq_index_topk(
                spark, path,
                emb.filter(F.col("vec_id") < 2).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qvec"),
                ),
                topk=3,
            ).collect()


class TestCrossSessionDelete:
    def test_ann_delete_reaches_other_sessions(self, spark):
        t = "xsess_ann"
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
            F.col("vec_id") < 300
        )
        similarity.write_ann_index(
            emb, "vec_id", "embedding", t, dim=64, nbits=4, tables=2, seed=3
        )

        def hits(sess):
            q = sess.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
                F.col("vec_id") < 3
            )
            return {
                r.neighbor_id
                for r in similarity.ann_index_topk(
                    sess, t, q, "vec_id", "embedding", dim=64, k=10_000
                ).collect()
            } - {0, 1, 2}

        try:
            cross_session_deletes(
                spark, hits,
                lambda sess, ids: similarity.ann_index_delete(sess, t, ids),
            )
        finally:
            for tbl in (t, f"{t}__meta"):
                layout.drop_managed_table(spark, tbl)
            layout.clear_tombstones(spark, t)

    def test_simhash_delete_reaches_other_sessions(self, spark):
        from wren_engine_spark.operators import dedup

        t = "xsess_sh"
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        dedup.write_simhash_index(
            docs.filter(F.col("doc_id") % 10 != 0), "text", "doc_id", t,
            buckets=4,
        )

        def hits(sess):
            delta = sess.read.parquet(f"{SF_DIR}/documents.parquet").filter(
                F.col("doc_id") % 10 == 0
            )
            return {
                r.corpus_id
                for r in dedup.simhash_index_probe(
                    sess, t, delta, "text", "doc_id", max_hamming=3
                ).collect()
            }

        try:
            cross_session_deletes(
                spark, hits,
                lambda sess, ids: dedup.simhash_index_delete(sess, t, ids),
            )
        finally:
            for tbl in (t, f"{t}__meta"):
                layout.drop_managed_table(spark, tbl)
            layout.clear_tombstones(spark, t)

    def test_simhash_probe_sees_other_session_append(self, spark):
        # a probe that read the bucketed index before a cloned session
        # (a foreachBatch microbatch) appended to it must see the rows
        from wren_engine_spark.operators import dedup

        t = "xsess_sh_append"
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        dedup.write_simhash_index(
            docs.filter(F.col("doc_id") % 10 != 0), "text", "doc_id", t,
            buckets=4,
        )

        def hits(sess):
            delta = sess.read.parquet(f"{SF_DIR}/documents.parquet").filter(
                F.col("doc_id") % 10 == 0
            )
            return {
                r.corpus_id
                for r in dedup.simhash_index_probe(
                    sess, t, delta, "text", "doc_id", max_hamming=3
                ).collect()
            }

        try:
            hits(spark)  # primes this session's view of the index files
            clone = clone_session(spark)
            copies = clone.read.parquet(f"{SF_DIR}/documents.parquet").filter(
                F.col("doc_id") % 10 == 0
            ).withColumn("doc_id", F.col("doc_id") + 1_000_000)
            dedup.simhash_index_append(clone, t, copies, "text", "doc_id")
            got = hits(spark)
            assert got == hits(clone)
            assert any(i >= 1_000_000 for i in got), "appended copies unseen"
        finally:
            for tbl in (t, f"{t}__meta"):
                layout.drop_managed_table(spark, tbl)


class TestHybridRRF:
    def test_matches_pure_python_replay(self, spark):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
            F.col("doc_id") < 120
        )
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
            F.col("vec_id") < 120
        )
        qids = docs.filter(F.col("doc_id") < 3).select("doc_id")
        got = {
            (r.query_id, r.rnk): (r.doc_id, r.rrf_score, r.lex_rank, r.vec_rank)
            for r in retrieval.hybrid_rrf_topk(
                docs, "doc_id", "text", emb, "vec_id", "embedding", qids,
                k_lex=5, k_vec=5, rrf_k=60, topk=4,
            ).collect()
        }

        # independent replay: python tokenization + float cosine ranks
        import re as _re

        rows = docs.select("doc_id", "text").collect()
        toks = {
            r.doc_id: set(
                t for t in _re.split(r"[ \t\n\x0B\f\r]+", r.text.strip()) if t
            )
            for r in rows
        }
        n = len(rows)
        dfreq: dict = {}
        for s in toks.values():
            for t in s:
                dfreq[t] = dfreq.get(t, 0) + 1
        kept = {
            d: {t for t in s if dfreq[t] <= 0.5 * n} for d, s in toks.items()
        }
        vecs = {
            r.vec_id: r.embedding
            for r in emb.select("vec_id", "embedding").collect()
        }

        def q8(v):
            s = max(max(abs(float(x)) for x in v), 1e-12) / 127.0
            import math

            return [math.floor(float(x) / s + 0.5) for x in v]

        qv = {i: q8(vecs[i]) for i in vecs}

        def cos(a, b):
            import math

            dot = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(float(sum(x * x for x in a)))
            nb = math.sqrt(float(sum(x * x for x in b)))
            return dot / (na * nb)

        for q in (0, 1, 2):
            lex = sorted(
                (
                    (-len(kept[q] & kept[d]), d)
                    for d in kept
                    if d != q and len(kept[q] & kept[d]) > 0
                ),
            )[:5]
            lrank = {d: i + 1 for i, (_o, d) in enumerate(lex)}
            vec = sorted(
                ((-cos(qv[q], qv[d]), d) for d in qv if d != q),
            )[:5]
            vrank = {d: i + 1 for i, (_s, d) in enumerate(vec)}
            cands = set(lrank) | set(vrank)
            scored = sorted(
                (
                    -(
                        (1.0 / (60.0 + lrank[d]) if d in lrank else 0.0)
                        + (1.0 / (60.0 + vrank[d]) if d in vrank else 0.0)
                    ),
                    d,
                )
                for d in cands
            )[:4]
            for i, (negs, d) in enumerate(scored):
                doc, score, lr, vr = got[(q, i + 1)]
                assert doc == d
                assert score == pytest.approx(-negs, abs=5e-7)
                assert lr == lrank.get(d) and vr == vrank.get(d)

    def test_rank_only_fusion_ignores_raw_scores(self, spark):
        # the fused output must depend ONLY on the two rank columns —
        # never on raw score magnitudes. Perturb both raw signals
        # rank-preservingly and assert the fusion is bit-identical:
        # (a) scale every embedding by a constant — the per-vector
        # max-abs quantization cancels it, so int8 vectors and ranks
        # are identical while raw float dot products all change;
        # (b) double every document's text — the distinct-token
        # overlap is unchanged, while any tf-weighted raw score would
        # change (exactly the signal a rank-only fusion must not see).
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
            F.col("doc_id") < 60
        )
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
            F.col("vec_id") < 60
        )
        qids = docs.filter(F.col("doc_id") < 2).select("doc_id")
        key = lambda r: (  # noqa: E731
            r.query_id, r.rnk, r.doc_id, r.rrf_score, r.lex_rank, r.vec_rank
        )
        a = retrieval.hybrid_rrf_topk(
            docs, "doc_id", "text", emb, "vec_id", "embedding", qids,
            k_lex=7, k_vec=7, topk=3,
        ).collect()
        # power-of-two scale: exact in float32, so the per-vector
        # max-abs quantization provably cancels it bit-for-bit
        emb_scaled = emb.withColumn(
            "embedding",
            F.expr("transform(embedding, x -> x * CAST(4.0 AS FLOAT))"),
        )
        docs_doubled = docs.withColumn(
            "text", F.concat_ws(" ", F.col("text"), F.col("text"))
        )
        b = retrieval.hybrid_rrf_topk(
            docs_doubled, "doc_id", "text", emb_scaled, "vec_id",
            "embedding", qids, k_lex=7, k_vec=7, topk=3,
        ).collect()
        assert sorted(map(key, a)) == sorted(map(key, b))

    def test_lexical_posting_join_never_doc_x_doc(self, spark):
        # the lexical side's only join keys are tokens — assert no
        # cartesian/broadcast-nested-loop anywhere in the plan
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        qids = docs.filter(F.col("doc_id") < 3).select("doc_id")
        out = retrieval.lexical_overlap_topk(docs, "doc_id", "text", qids, k=5)
        plan = _plan(out)
        assert "CartesianProduct" not in plan
        got = out.collect()
        assert got and all(r.overlap >= 1 for r in got)

    def test_lexical_corpus_tokens_never_shuffle_on_token_key(self, spark):
        """r8 verdict `weak` fix: the exploded corpus token set must
        never exchange on ``__tok`` (the x3/x47 dedup standard). With
        auto-broadcast OFF the broadcasts must still be explicit: every
        ``__tok``-keyed Exchange left in the plan is fed by a partial
        (map-side combinable) aggregate — the df count, where the hot
        token is one row per map partition — and every ``__tok`` join
        is a BroadcastHashJoin."""
        saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
            qids = docs.filter(F.col("doc_id") < 3).select("doc_id")
            out = retrieval.lexical_overlap_topk(
                docs, "doc_id", "text", qids, k=5
            )
            plan = _plan(out)
        finally:
            if saved is None:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            else:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        assert "BroadcastHashJoin [__tok" in plan  # the posting join
        assert "SortMergeJoin [__tok" not in plan
        assert "ShuffledHashJoin [__tok" not in plan
        lines = plan.splitlines()
        for i, l in enumerate(lines):
            if "Exchange hashpartitioning(__tok" in l:
                # immediate child must be a partial (combinable)
                # aggregate on the token key — the df count or the
                # bounded query-token distinct — never the raw explode
                tail = "\n".join(lines[i + 1 : i + 4])
                assert (
                    "partial_count" in tail
                    or "HashAggregate(keys=[__tok" in tail
                ), l.strip()[:120]

    def test_lexical_skew_planted_per_task_balance(self, spark):
        """Skew soak (x67 pattern): three boilerplate tokens planted in
        40% of documents — under max_df_frac=0.5 they SURVIVE the
        band-stop, so the posting join's output contains the hot
        postings. The broadcast posting join leaves those rows spread
        across the scan's partitions instead of piling the hot token
        onto one reducer: per-task balance holds regardless of skew."""
        import random

        rng = random.Random(11)
        vocab = [f"w{i}" for i in range(4000)]
        rows = []
        for i in range(4000):
            toks = [vocab[rng.randrange(4000)] for _ in range(24)]
            if i % 5 < 2:  # 40% of docs carry the boilerplate
                p = rng.randrange(21)
                toks[p : p + 3] = ["zzhot", "zzipf", "zzhead"]
            rows.append((i, " ".join(toks)))
        docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        # query doc 0 carries the hot tokens (it is in the 40%)
        qids = docs.filter(F.col("doc_id") == 0).select("doc_id")
        out = retrieval.lexical_overlap_topk(
            docs, "doc_id", "text", qids, k=5, max_df_frac=0.5
        )
        # the hot token reaches ~40% of docs: overlap>=3 for many docs
        got = out.collect()
        assert got and max(r.overlap for r in got) >= 3
        # measure ACTUAL per-task rows of the posting-join output (the
        # stage the token-key shuffle used to serialize): no partition
        # may carry the hot key's whole posting list
        toks = docs.select(
            F.col("doc_id").alias("doc_id"),
            F.explode(
                F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
            ).alias("__tok"),
        ).filter(F.col("__tok") != "")
        qtoks = toks.join(F.broadcast(qids), "doc_id").select(
            F.col("doc_id").alias("query_id"), "__tok"
        )
        joined = toks.join(F.broadcast(qtoks), "__tok")
        sizes = sorted(
            r["count"]
            for r in joined.select(F.spark_partition_id().alias("p"))
            .groupBy("p")
            .count()
            .collect()
        )
        hot_postings = 4000 * 2 // 5
        assert sizes[-1] < hot_postings, sizes[-5:]
        assert sizes[-1] <= 3 * sizes[len(sizes) // 2], sizes[-5:]


class TestNprobeTuner:
    def test_tuner_matches_per_nprobe_probes(self, spark, tmp_path):
        import random

        rng = random.Random(3)
        # 4 well-separated clusters so the coarse quantizer is sharp
        # and recall actually varies with nprobe
        rows = []
        for i in range(80):
            c = i % 4
            base = [10.0 * (c == d) for d in range(8)]
            rows.append(
                (i, [b + rng.gauss(0.0, 0.3) for b in base])
            )
        df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
        path = str(tmp_path / "tune_idx")
        similarity.write_ivfpq_index(
            df, "vec_id", "embedding", path, nlist=4, n_subspaces=2, k_codes=8
        )
        queries = df.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        out = {
            r.nprobe: r
            for r in similarity.ivfpq_tune_nprobe(
                spark, path, df, "vec_id", "embedding", queries,
                topk=5, recall_target=0.5,
            ).collect()
        }
        assert set(out) == {1, 2, 3, 4}
        # exact side: quantized-L2 top-5 (python replay of the oracle)
        import math

        meta = spark.read.parquet(f"{path}/meta").collect()[0]
        q = float(meta.quantum)
        vecs = {
            r.vec_id: [
                math.floor(float(x) * q + 0.5) for x in r.embedding
            ]
            for r in df.collect()
        }
        exact = {}
        for qi in range(4):
            d = sorted(
                (sum((a - b) * (a - b) for a, b in zip(vecs[qi], v)), i)
                for i, v in vecs.items() if i != qi
            )[:5]
            exact[qi] = {i for _d, i in d}
        # per-nprobe: the tuner's n_hits must equal the hits of the
        # REAL probe path at that nprobe
        for np_ in (1, 2, 3, 4):
            probed = similarity.ivfpq_index_topk(
                spark, path, queries, nprobe=np_, topk=5
            ).collect()
            hits = sum(1 for r in probed if r.neighbor_id in exact[r.query_id])
            assert out[np_].n_hits == hits, f"nprobe={np_}"
            assert out[np_].mean_recall == round(hits / 20.0, 6)
        # chosen = the minimal qualifying nprobe, exactly one (the
        # separated clusters make nprobe=1 already near-perfect)
        qualifying = [n for n in (1, 2, 3, 4) if out[n].meets_target]
        chosen = [n for n in (1, 2, 3, 4) if out[n].chosen]
        assert chosen == ([min(qualifying)] if qualifying else [])
        # the full probe clears the 0.5 bar on these sharp clusters
        # (2-bit-per-subspace PQ distortion caps recall well below
        # 1.0 — the toy-parameter reality x108 documents), so the
        # chosen-marking logic is exercised non-trivially
        assert qualifying and len(chosen) == 1

    def test_tuner_honors_tombstones(self, spark, tmp_path):
        import random

        rng = random.Random(9)
        rows = [
            (i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in range(40)
        ]
        df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
        path = str(tmp_path / "tune_tomb")
        similarity.write_ivfpq_index(
            df, "vec_id", "embedding", path, nlist=2, n_subspaces=2, k_codes=4
        )
        queries = df.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        before = similarity.ivfpq_tune_nprobe(
            spark, path, df, "vec_id", "embedding", queries, topk=5
        ).collect()
        # delete every corpus vector the full probe retrieved; the
        # tuner's approx side must not see them afterwards
        got = similarity.ivfpq_index_topk(
            spark, path, queries, nprobe=2, topk=5
        ).collect()
        dels = sorted({r.neighbor_id for r in got})
        similarity.pq_index_delete(spark, path, dels)
        after = {
            r.nprobe: r
            for r in similarity.ivfpq_tune_nprobe(
                spark, path, df, "vec_id", "embedding", queries, topk=5
            ).collect()
        }
        probed = similarity.ivfpq_index_topk(
            spark, path, queries, nprobe=2, topk=5
        ).collect()
        assert not {r.neighbor_id for r in probed} & set(dels)
        # recall can only drop once the best candidates are deleted
        # (exact side still ranks them, approx side cannot return them)
        b2 = {r.nprobe: r for r in before}
        assert after[2].n_hits <= b2[2].n_hits


class TestBM25:
    def test_matches_pure_python_replay(self, spark):
        import math
        import re as _re

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
            F.col("doc_id") < 150
        )
        qids = docs.filter(F.col("doc_id") < 3).select("doc_id")
        got = {
            (r.query_id, r.rnk): (r.doc_id, r.bm25)
            for r in retrieval.bm25_topk(
                docs, "doc_id", "text", qids, k=5
            ).collect()
        }
        rows = docs.select("doc_id", "text").collect()
        toks = {
            r.doc_id: [
                t for t in _re.split(r"[ \t\n\x0B\f\r]+", r.text.strip()) if t
            ]
            for r in rows
        }
        n = float(len(rows))
        sumdl = float(sum(len(t) for t in toks.values()))
        dfreq: dict = {}
        for ts in toks.values():
            for t in set(ts):
                dfreq[t] = dfreq.get(t, 0) + 1
        k1, b, qn = 1.2, 0.75, 1_000_000.0

        def qscore(q, d):
            tf = {}
            for t in toks[d]:
                tf[t] = tf.get(t, 0) + 1
            s = 0
            for t in set(toks[q]):
                if t not in tf:
                    continue
                idf = math.log(
                    1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5)
                )
                c = (
                    qn
                    * (
                        idf
                        * (tf[t] * (k1 + 1.0))
                        / (
                            tf[t]
                            + k1 * ((1.0 - b) + b * (len(toks[d]) * n / sumdl))
                        )
                    )
                )
                # round-half-away-from-zero, the Spark/DuckDB ROUND
                s += int(math.floor(c + 0.5))
            return s

        for q in (0, 1, 2):
            want = sorted(
                ((-qscore(q, d), d) for d in toks if d != q and qscore(q, d) > 0),
            )[:5]
            for i, (negs, d) in enumerate(want):
                doc, sc = got[(q, i + 1)]
                assert doc == d, (q, i, doc, d)
                assert sc == pytest.approx(-negs / 1_000_000.0, abs=1e-9)

    def test_corpus_tokens_never_shuffle_on_token_key(self, spark):
        # same discipline as the overlap ranking: with auto-broadcast
        # off, every __tok join is an explicit BroadcastHashJoin and
        # every __tok-keyed exchange is combinable-agg-fed; the tf
        # aggregate keys on (doc, term) so a hot term cannot pile up
        saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
            qids = docs.filter(F.col("doc_id") < 3).select("doc_id")
            out = retrieval.bm25_topk(docs, "doc_id", "text", qids, k=5)
            plan = _plan(out)
        finally:
            if saved is None:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            else:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        assert "BroadcastHashJoin [__tok" in plan
        assert "SortMergeJoin [__tok" not in plan
        assert "ShuffledHashJoin [__tok" not in plan
        assert "CartesianProduct" not in plan
        lines = plan.splitlines()
        for i, l in enumerate(lines):
            if "Exchange hashpartitioning(__tok" in l:
                tail = "\n".join(lines[i + 1 : i + 4])
                assert (
                    "partial_count" in tail
                    or "HashAggregate(keys=[__tok" in tail
                ), l.strip()[:120]
        # r10 (r9 verdict `weak` fix): NO exchange may carry the
        # unrestricted corpus explode — every Exchange whose input
        # subtree contains a token explode must restrict it through a
        # broadcast join: either ABOVE the Generate (query-term set
        # broadcast into the corpus explode before the aggregate) or
        # BELOW it (query ids broadcast into `docs` before the
        # explode, the bounded qtoks leg — the explode's own input is
        # already restricted). An unrestricted explode feeding an
        # exchange has NO broadcast join anywhere in its span.
        exch_idx = [
            i for i, l in enumerate(lines) if "Exchange " in l
        ] + [len(lines)]
        for a, b in zip(exch_idx, exch_idx[1:]):
            span = lines[a + 1 : b]
            gen = next(
                (j for j, l in enumerate(span) if "Generate explode" in l),
                None,
            )
            if gen is not None:
                assert any(
                    "BroadcastHashJoin" in l for l in span
                ), lines[a].strip()[:120]

    def test_corpus_exploded_once_via_exchange_reuse(self, spark):
        """r10: the tf/posting frame is consumed by BOTH the df
        aggregate and the posting join, and the two copies must share
        ONE materialized exchange (ReusedExchange in the executed
        adaptive plan) — otherwise the corpus is exploded and
        partially aggregated twice per probe. Also pins the bounded
        query-token derivation: only one Generate may sit above a
        corpus-scale (unfiltered-documents) scan."""
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        qids = docs.filter(F.col("doc_id") < 3).select("doc_id")
        for fn in (
            lambda: retrieval.bm25_topk(docs, "doc_id", "text", qids, k=5),
            lambda: retrieval.lexical_overlap_topk(
                docs, "doc_id", "text", qids, k=5, max_df_frac=1.0
            ),
        ):
            out = fn()
            # collect() (not count()) so the adaptive plan attached
            # to THIS DataFrame is the one executed and finalized;
            # non-empty so AQE can't empty-propagate the plan away
            assert len(out.collect()) > 0
            plan = out._sc._jvm.PythonSQLUtils.explainString(
                out._jdf.queryExecution(), "formatted"
            )
            final = plan.split("== Initial Plan ==")[0]
            assert "ReusedExchange" in final, final[:2000]
            # corpus-scale explodes: Generate nodes whose span (down
            # to the next stage boundary) contains a scan with NO
            # pushed doc_id filter and no broadcast restriction below
            gens = [
                ln for ln in final.splitlines() if "Generate (" in ln
            ]
            # one corpus tf explode + two bounded query-doc explodes
            assert len(gens) <= 3, final[:2000]

    def test_restricted_rewrite_bit_identical_to_naive(self, spark):
        """The r10 restrict-then-aggregate rewrite must be
        result-identical to the naive full-corpus order: compare
        against a literal re-derivation that aggregates tf/df over the
        UNRESTRICTED explode (the pre-r10 shape), bit-for-bit on the
        quantized scores."""
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
            F.col("doc_id") < 200
        )
        qids = docs.filter(F.col("doc_id") < 4).select("doc_id")
        got = retrieval.bm25_topk(docs, "doc_id", "text", qids, k=7)
        toks = docs.select(
            F.col("doc_id"),
            F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+").alias("__ts"),
        ).select(
            "doc_id",
            F.size(F.filter(F.col("__ts"), lambda t: t != "")).alias("__dl"),
            F.explode("__ts").alias("__tok"),
        ).filter(F.col("__tok") != "")
        totals = docs.select(
            F.count("doc_id").cast("double").alias("__n")
        ).crossJoin(
            toks.groupBy("doc_id", "__dl").agg(F.first(F.lit(1))).select(
                F.sum("__dl").cast("double").alias("__sumdl")
            )
        )
        qtoks = (
            toks.join(qids, "doc_id")
            .select(F.col("doc_id").alias("query_id"), "__tok")
            .distinct()
        )
        dfreq = (
            toks.select("doc_id", "__tok").distinct()
            .groupBy("__tok")
            .agg(F.count("*").cast("double").alias("__df"))
            .crossJoin(totals)
            .select(
                "__tok", "__n", "__sumdl",
                F.log(
                    F.lit(1.0)
                    + (F.col("__n") - F.col("__df") + F.lit(0.5))
                    / (F.col("__df") + F.lit(0.5))
                ).alias("__idf"),
            )
        )
        tf = toks.groupBy("doc_id", "__dl", "__tok").agg(
            F.count("*").cast("double").alias("__tf")
        )
        k1, b = 1.2, 0.75
        contrib = (
            F.col("__idf") * (F.col("__tf") * F.lit(k1 + 1.0))
            / (
                F.col("__tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b)
                    * (F.col("__dl").cast("double") * F.col("__n") / F.col("__sumdl"))
                )
            )
        )
        naive = (
            tf.join(qtoks.join(dfreq, "__tok"), "__tok")
            .filter(F.col("doc_id") != F.col("query_id"))
            .select(
                "query_id", "doc_id",
                F.round(F.lit(1e6) * contrib).cast("bigint").alias("__qc"),
            )
            .groupBy("query_id", "doc_id")
            .agg(F.sum("__qc").alias("__qscore"))
        )
        want = {
            (r["query_id"], r["doc_id"]): r["__qscore"]
            for r in naive.collect()
        }
        for r in got.collect():
            assert int(round(r.bm25 * 1e6)) == want[(r.query_id, r.doc_id)]

    def test_hybrid_bm25_leg_matches_bm25_topk(self, spark):
        """hybrid_rrf_topk(lexical='bm25') must carry EXACTLY the
        bm25_topk ranks as lex_rank, and its fused order must equal a
        pure-Python RRF over the two legs' ranks."""
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
            F.col("doc_id") < 250
        )
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
            F.col("vec_id") < 250
        )
        qids = docs.filter(F.col("doc_id") < 3).select("doc_id")
        fused = retrieval.hybrid_rrf_topk(
            docs, "doc_id", "text", emb, "vec_id", "embedding", qids,
            k_lex=8, k_vec=8, rrf_k=60, topk=4,
            max_df_frac=1.0, lexical="bm25",
        ).collect()
        lex = {
            (r.query_id, r.doc_id): r.rnk
            for r in retrieval.bm25_topk(
                docs, "doc_id", "text", qids, k=8, max_df_frac=1.0
            ).collect()
        }
        qvecs = emb.join(qids, F.col("vec_id") == F.col("doc_id")).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
        )
        vec = {
            (r.query_id, r.neighbor_id): r.rnk
            for r in similarity.quantized_cosine_topk(
                emb, "vec_id", "embedding", qvecs, k=8
            ).collect()
        }
        # every fused row's lex_rank is the bm25 rank (or NULL if the
        # candidate came only from the vector leg)
        for r in fused:
            want = lex.get((r.query_id, r.doc_id))
            assert r.lex_rank == want, (r, want)
            assert r.vec_rank == vec.get((r.query_id, r.doc_id))
        # pure-Python RRF over the two rank dicts reproduces the
        # fused top-k order and scores exactly
        cands: dict = {}
        for (q, d), rk in lex.items():
            cands.setdefault(q, {}).setdefault(d, 0.0)
            cands[q][d] += 1.0 / (60.0 + rk)
        for (q, d), rk in vec.items():
            cands.setdefault(q, {}).setdefault(d, 0.0)
            cands[q][d] += 1.0 / (60.0 + rk)
        for q, byd in cands.items():
            want_order = sorted(byd.items(), key=lambda t: (-t[1], t[0]))[:4]
            got_rows = sorted(
                (r for r in fused if r.query_id == q), key=lambda r: r.rnk
            )
            assert [r.doc_id for r in got_rows] == [d for d, _ in want_order]
            for r, (_, s) in zip(got_rows, want_order):
                assert r.rrf_score == pytest.approx(round(s, 6), abs=1e-12)

    def test_band_stop_guard_still_available(self, spark):
        # max_df_frac < 1 cuts ultra-common terms (the posting-length
        # guard); on this tiny-vocab corpus 0.5 removes everything
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        qids = docs.filter(F.col("doc_id") < 3).select("doc_id")
        n_full = retrieval.bm25_topk(
            docs, "doc_id", "text", qids, k=5, max_df_frac=1.0
        ).count()
        n_cut = retrieval.bm25_topk(
            docs, "doc_id", "text", qids, k=5, max_df_frac=0.002
        ).count()
        assert n_full > 0 and n_cut < n_full
