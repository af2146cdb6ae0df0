"""Round-8 hardening of the persisted-index families (round-7 verdict
items 2/4/5/6 + ADVICE):

- the ``__meta`` / PQ-sidecar reads are memoized per (session, index)
  and invalidated by the sidecar files' own fs token — a probe costs
  no extra Spark job, and a probe AFTER a rebuild sees the NEW
  parameters (no stale cache);
- a missing sidecar is a loud error unless ``allow_legacy=True``;
- the PQ append encode is a single join-free projection;
- the epoch/compaction rename protocol refuses non-local paths and
  compaction cannot fold a crashed epoch's partial files.
"""

import math
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from wren_engine_spark.operators import dedup, index_meta, similarity


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


class TestMetaMemoization:
    def test_table_meta_cached_and_rebuild_invalidates(self, spark):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
            F.col("vec_id") < 300
        )
        similarity.write_ann_index(
            emb, "vec_id", "embedding", "imeta_t1",
            dim=64, nbits=6, tables=2, seed=7,
        )
        m1 = index_meta.table_meta_row(spark, "imeta_t1")
        assert (int(m1.nbits), int(m1.tables), int(m1.seed)) == (6, 2, 7)
        # second read is a cache hit: the identical Row object comes
        # back without a new Spark job
        m2 = index_meta.table_meta_row(spark, "imeta_t1")
        assert m2 is m1
        # rebuild with different parameters rewrites the sidecar's
        # files -> the fs token misses and the NEXT read reloads
        similarity.write_ann_index(
            emb, "vec_id", "embedding", "imeta_t1",
            dim=64, nbits=8, tables=3, seed=11,
        )
        m3 = index_meta.table_meta_row(spark, "imeta_t1")
        assert (int(m3.nbits), int(m3.tables), int(m3.seed)) == (8, 3, 11)

    def test_probe_after_rebuild_uses_new_planes(self, spark):
        # behavioral version of the invalidation test: the same probe
        # call, issued after a rebuild under different planes, must
        # match a fresh index built with those planes
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
            F.col("vec_id") < 300
        )
        queries = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")

        def probe(table):
            return {
                (r.query_id, r.rnk): r.neighbor_id
                for r in similarity.ann_index_topk(
                    spark, table, queries, "vec_id", "embedding", dim=64, k=3
                ).collect()
            }

        similarity.write_ann_index(
            emb, "vec_id", "embedding", "imeta_t2",
            dim=64, nbits=4, tables=2, seed=1,
        )
        probe("imeta_t2")  # warm the meta cache with the OLD planes
        similarity.write_ann_index(
            emb, "vec_id", "embedding", "imeta_t2",
            dim=64, nbits=8, tables=4, seed=2,
        )
        similarity.write_ann_index(
            emb, "vec_id", "embedding", "imeta_t3",
            dim=64, nbits=8, tables=4, seed=2,
        )
        assert probe("imeta_t2") == probe("imeta_t3")

    def test_pq_sidecar_cached_and_rebuild_invalidates(self, spark, tmp_path):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
            F.col("vec_id") < 300
        )
        path = str(tmp_path / "pq_meta_idx")
        similarity.write_pq_index(
            emb, "vec_id", "embedding", path,
            n_subspaces=2, k_codes=4, iters=1,
        )
        books1, meta1 = similarity._load_pq_index(spark, path)
        books2, meta2 = similarity._load_pq_index(spark, path)
        assert books2 is books1 and meta2 is meta1  # cache hit
        assert meta1.k_codes == 4
        similarity.write_pq_index(
            emb, "vec_id", "embedding", path,
            n_subspaces=2, k_codes=3, iters=1,
        )
        books3, meta3 = similarity._load_pq_index(spark, path)
        assert meta3.k_codes == 3
        assert len(books3[0]) == 3  # reloaded codebooks, not stale

    def test_simhash_meta_cached_and_append_not_stale(self, spark):
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        a = d.filter((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 3 != 0))
        b = d.filter((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 3 == 0))
        delta = d.filter(F.col("doc_id") % 10 == 0)
        dedup.write_simhash_index(a, "text", "doc_id", "imeta_sh1", bands=8)
        # warm the cache, then append: the sidecar is frozen by design,
        # so the cached bands stay valid AND the probe sees the
        # appended rows (the index table itself is never memoized)
        probe0 = set(
            (r.delta_id, r.corpus_id)
            for r in dedup.simhash_index_probe(
                spark, "imeta_sh1", delta, "text", "doc_id", max_hamming=3
            ).collect()
        )
        dedup.simhash_index_append(spark, "imeta_sh1", b, "text", "doc_id")
        probe1 = set(
            (r.delta_id, r.corpus_id)
            for r in dedup.simhash_index_probe(
                spark, "imeta_sh1", delta, "text", "doc_id", max_hamming=3
            ).collect()
        )
        dedup.write_simhash_index(
            a.unionByName(b), "text", "doc_id", "imeta_sh2", bands=8
        )
        probe2 = set(
            (r.delta_id, r.corpus_id)
            for r in dedup.simhash_index_probe(
                spark, "imeta_sh2", delta, "text", "doc_id", max_hamming=3
            ).collect()
        )
        assert probe1 == probe2
        assert probe0 <= probe1


class TestProbeShape:
    def test_x63_probe_runs_on_one_shuffle(self, spark):
        # the serving-path contract: query side broadcast, index side
        # bucket-local, candidates ranked and deduplicated on a SINGLE
        # hash exchange (dense_rank over duplicated collisions equals
        # row_number over distinct candidates because neighbor_id is in
        # the ordering key; the final dedup aggregation reuses the
        # window's partitioning)
        from wren_engine_spark.operators.layout import shuffle_exchanges
        from wren_engine_spark.queries.registry import QUERIES

        df = QUERIES["x63_ann_index_probe"](spark, SF_DIR)
        assert shuffle_exchanges(df) == 1

    def test_x63_probe_memo_invalidated_by_index_rebuild(self, spark):
        """r10 (r9 verdict item 6): the x63 prepared-probe memo embeds
        collected query SIGNATURES as a LocalRelation — a same-session
        index rebuild (different seed => different planes/buckets) must
        bust it, or the probe joins old-geometry signatures against the
        new index. The memo is keyed by index_meta.fs_token of the
        managed table dir; after an in-session reseed the registered
        entry must return exactly what a fresh probe of the rebuilt
        index returns."""
        import hashlib

        from wren_engine_spark.queries.io import load_tables
        from wren_engine_spark.queries.registry import QUERIES

        q = QUERIES["x63_ann_index_probe"]
        q(spark, SF_DIR).collect()  # prime build + probe memos
        table = f"ann_idx_{hashlib.md5(SF_DIR.encode()).hexdigest()[:10]}"
        e = load_tables(spark, SF_DIR, "embeddings")["embeddings"]

        def probe_fresh():
            queries = spark.read.parquet(
                f"{SF_DIR}/embeddings.parquet"
            ).filter(F.col("vec_id") < 10)
            return similarity.ann_index_topk(
                spark, table, queries, "vec_id", "embedding",
                dim=64, k=3, nbits=10, tables=4,
            ).collect()

        def key(rows):
            return sorted(
                (r.query_id, r.rnk, r.neighbor_id, r.cosine_sim)
                for r in rows
            )

        try:
            similarity.write_ann_index(
                e, "vec_id", "embedding", table,
                dim=64, nbits=10, tables=4, seed=7,
            )
            got = q(spark, SF_DIR).collect()
            assert key(got) == key(probe_fresh())
        finally:
            # restore the seed-42 geometry the registered entry's
            # oracle (and any later test/bench run) expects
            similarity.write_ann_index(
                e, "vec_id", "embedding", table,
                dim=64, nbits=10, tables=4, seed=42,
            )
        assert key(q(spark, SF_DIR).collect()) == key(probe_fresh())


class TestCachedReadMechanics:
    def test_local_dir_unwraps_file_uris(self, tmp_path):
        d = str(tmp_path)
        assert index_meta.local_dir(d) == d
        assert index_meta.local_dir(f"file:{d}") == d
        assert index_meta.local_dir(f"file://{d}") == d
        assert index_meta.local_dir("s3a://bucket/x") is None
        assert index_meta.local_dir(str(tmp_path / "missing")) is None

    def test_non_local_paths_fall_through_uncached(self, spark):
        calls = []

        def loader():
            calls.append(1)
            return len(calls)

        # object-store path: no token, loader runs every call
        assert index_meta.cached_read(spark, ("t1",), ["s3a://b/x"], loader) == 1
        assert index_meta.cached_read(spark, ("t1",), ["s3a://b/x"], loader) == 2

    def test_token_change_reloads_and_stable_token_caches(
        self, spark, tmp_path
    ):
        d = tmp_path / "side"
        d.mkdir()
        (d / "part-0").write_text("a")
        calls = []

        def loader():
            calls.append(1)
            return len(calls)

        assert index_meta.cached_read(spark, ("t2",), [str(d)], loader) == 1
        assert index_meta.cached_read(spark, ("t2",), [str(d)], loader) == 1
        # rewriting a sidecar file changes the token -> reload
        (d / "part-1").write_text("b")
        assert index_meta.cached_read(spark, ("t2",), [str(d)], loader) == 2


class TestMissingMetaIsLoud:
    def test_ann_probe_without_meta_raises(self, spark):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
            F.col("vec_id") < 200
        )
        similarity.write_ann_index(
            emb, "vec_id", "embedding", "imeta_nl1", dim=64, nbits=4, tables=2
        )
        from wren_engine_spark.operators import layout

        layout.drop_managed_table(spark, "imeta_nl1__meta")
        queries = emb.filter(F.col("vec_id") < 3).select("vec_id", "embedding")
        with pytest.raises(ValueError, match="no __meta sidecar"):
            similarity.ann_index_topk(
                spark, "imeta_nl1", queries, "vec_id", "embedding", dim=64
            )
        # the explicit escape hatch for pre-meta indexes still probes
        got = similarity.ann_index_topk(
            spark, "imeta_nl1", queries, "vec_id", "embedding",
            dim=64, k=3, nbits=4, tables=2, allow_legacy=True,
        ).collect()
        assert len(got) > 0

    def test_simhash_probe_without_meta_raises(self, spark):
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
        dedup.write_simhash_index(d, "text", "doc_id", "imeta_nl2", bands=4)
        from wren_engine_spark.operators import layout

        layout.drop_managed_table(spark, "imeta_nl2__meta")
        with pytest.raises(ValueError, match="no __meta sidecar"):
            dedup.simhash_index_probe(
                spark, "imeta_nl2", d.limit(5), "text", "doc_id"
            )
        got = dedup.simhash_index_probe(
            spark, "imeta_nl2", d.limit(5), "text", "doc_id",
            max_hamming=3, bands=4, allow_legacy=True,
        ).collect()
        assert isinstance(got, list)


class TestJoinFreeEncode:
    def test_append_encode_plan_has_no_join_or_exchange(self, spark, tmp_path):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        base = emb.filter(F.col("vec_id") % 5 != 0)
        path = str(tmp_path / "pq_enc_idx")
        similarity.write_pq_index(
            base, "vec_id", "embedding", path,
            n_subspaces=2, k_codes=4, iters=1,
        )
        books, meta = similarity._load_pq_index(spark, path)
        sub = meta.dim // meta.n_subspaces
        delta = emb.filter(F.col("vec_id") % 5 == 0)
        qdf = similarity._pq_quantize(delta, "vec_id", "embedding", meta.quantum)
        plan = _plan(similarity._pq_encode(qdf, books, sub, meta.n_subspaces))
        assert "Join" not in plan and "Exchange" not in plan

    def test_append_codes_match_python_argmin(self, spark, tmp_path):
        # the single-projection encode must equal an independent
        # pure-Python integer argmin per subspace, ties to the lowest id
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        base = emb.filter(F.col("vec_id") % 5 != 0)
        delta = emb.filter(F.col("vec_id") % 5 == 0)
        path = str(tmp_path / "pq_eq_idx")
        similarity.write_pq_index(
            base, "vec_id", "embedding", path,
            n_subspaces=2, k_codes=4, iters=1,
        )
        books, meta = similarity._load_pq_index(spark, path)
        sub = meta.dim // meta.n_subspaces
        similarity.pq_index_append(spark, path, delta, "vec_id", "embedding")
        got = {
            r["__id"]: (r["code_0"], r["code_1"])
            for r in spark.read.parquet(f"{path}/codes").collect()
        }
        q = float(meta.quantum)
        rows = delta.collect()
        assert rows
        for r in rows:
            qx = [math.floor(float(x) * q + 0.5) for x in r.embedding]
            for s in range(meta.n_subspaces):
                v = qx[s * sub : (s + 1) * sub]
                dists = [
                    sum((a - b) * (a - b) for a, b in zip(v, c)) for c in books[s]
                ]
                want = min(range(len(dists)), key=lambda c: (dists[c], c))
                assert got[r.vec_id][s] == want, (r.vec_id, s)


class TestLifecycleLocalFsGuard:
    def test_compact_refuses_object_store_path(self, spark):
        with pytest.raises(ValueError, match="not on a local filesystem"):
            similarity.pq_index_compact(spark, "s3a://bucket/pq_idx")

    def test_guard_accepts_local_and_file_paths(self, tmp_path):
        index_meta.require_local_index_path(str(tmp_path), "t")
        index_meta.require_local_index_path(f"file:{tmp_path}", "t")
        with pytest.raises(ValueError):
            index_meta.require_local_index_path("hdfs://nn:9000/x", "t")
        with pytest.raises(ValueError):
            index_meta.require_local_index_path("gs://bucket/x", "t")

    def test_compact_removes_orphan_epoch_files(self, spark, tmp_path):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        base = emb.filter(F.col("vec_id") % 5 != 0)
        delta = emb.filter(F.col("vec_id") % 5 == 0)
        path = str(tmp_path / "pq_orph_idx")
        similarity.write_pq_index(
            base, "vec_id", "embedding", path,
            n_subspaces=2, k_codes=4, iters=1,
        )
        similarity.pq_index_append(
            spark, path, delta, "vec_id", "embedding", epoch_id=7
        )
        # crash-sim: the appender died between its file moves and its
        # marker write — epoch files exist, the marker does not
        os.remove(f"{path}/_epoch_7")
        similarity.pq_index_compact(spark, path)
        # compaction must NOT have folded the partial epoch into
        # generic part files: only the base rows remain
        assert spark.read.parquet(f"{path}/codes").count() == base.count()
        # the epoch's replay now converges to exactly one copy
        similarity.pq_index_append(
            spark, path, delta, "vec_id", "embedding", epoch_id=7
        )
        assert spark.read.parquet(f"{path}/codes").count() == emb.count()

    def test_compact_keeps_marked_epoch_files(self, spark, tmp_path):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        base = emb.filter(F.col("vec_id") % 5 != 0)
        delta = emb.filter(F.col("vec_id") % 5 == 0)
        path = str(tmp_path / "pq_mark_idx")
        similarity.write_pq_index(
            base, "vec_id", "embedding", path,
            n_subspaces=2, k_codes=4, iters=1,
        )
        similarity.pq_index_append(
            spark, path, delta, "vec_id", "embedding", epoch_id=9
        )
        out = similarity.pq_index_compact(spark, path)
        assert out["n_rows"] == emb.count()
        assert spark.read.parquet(f"{path}/codes").count() == emb.count()


class TestAppendLifecycleEntries:
    def test_x105_equals_full_rebuild_probe(self, spark):
        # the registered append-lifecycle entry must rank identically
        # to a probe of a fresh full-corpus build: appends hash on the
        # build's exact planes, so the index content is equal
        from wren_engine_spark.operators.layout import shuffle_exchanges
        from wren_engine_spark.queries.registry import QUERIES

        df = QUERIES["x105_ann_index_append"](spark, SF_DIR)
        assert shuffle_exchanges(df) == 1  # same serving shape as x63
        got = {(r.query_id, r.rnk): (r.neighbor_id, r.cosine_sim)
               for r in df.collect()}
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        similarity.write_ann_index(
            emb, "vec_id", "embedding", "x105_full_t",
            dim=64, nbits=10, tables=4,
        )
        queries = emb.filter(F.col("vec_id") < 6)
        want = {
            (r.query_id, r.rnk): (r.neighbor_id, r.cosine_sim)
            for r in similarity.ann_index_topk(
                spark, "x105_full_t", queries, "vec_id", "embedding",
                dim=64, k=3,
            ).collect()
        }
        assert got == want and got

    def test_x106_equals_full_rebuild_probe(self, spark):
        from wren_engine_spark.queries.registry import QUERIES

        got = {
            (r.delta_id, r.corpus_id, r.hamming)
            for r in QUERIES["x106_simhash_index_append"](spark, SF_DIR).collect()
        }
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        corpus = d.filter(F.col("doc_id") % 10 != 0)
        delta = d.filter(F.col("doc_id") % 10 == 0)
        dedup.write_simhash_index(corpus, "text", "doc_id", "x106_full_t")
        want = {
            (r.delta_id, r.corpus_id, r.hamming)
            for r in dedup.simhash_index_probe(
                spark, "x106_full_t", delta, "text", "doc_id", max_hamming=3
            ).collect()
        }
        assert got == want and got


class TestImageAHashBandsGuard:
    def test_straddling_band_count_rejected(self, spark):
        df = spark.createDataFrame(
            [(1, 3, 5, "bmp")], "doc_id LONG, h_lo LONG, h_hi LONG, status STRING"
        )
        from wren_engine_spark.operators import multimodal

        with pytest.raises(AssertionError, match="64 // bands must divide 32"):
            multimodal.image_ahash_pairs(df, max_hamming=3, bands=5)
        # 8 bands of width 8 split both halves evenly and still work
        assert (
            multimodal.image_ahash_pairs(df, max_hamming=3, bands=8).count() == 0
        )
