"""Round-7 additions: brute-force property tests + scale-shape plan
asserts (the definition-of-done discipline from the round-5 verdict).

Batch 1: x14's retirement from rows-only — trained-IVF on the
bit-exact quantized Lloyd trainer."""

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from wren_engine_spark.operators import similarity
from wren_engine_spark.queries.registry import QUERIES


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


class TestX14TrainedIVF:
    def _trained_cents(self, spark, emb, k, quantum=1_000_000):
        km = similarity.kmeans_quantized(
            emb, "vec_id", "embedding", k=k, iters=2, quantum=quantum
        )
        got = {(r.cluster, r.dim): r.centroid_q for r in km.collect()}
        dim = 1 + max(d for _, d in got)
        return [
            [got[(c, d)] / float(quantum) for d in range(dim)] for c in range(k)
        ]

    def test_full_probe_on_trained_centroids_equals_brute_force(self, spark):
        # with nprobe == nlist the IVF scan is exhaustive, so the
        # trained-centroid composition must reproduce exact cosine
        # top-k regardless of what the training converged to
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        cents = self._trained_cents(spark, emb, k=4)
        bf = {
            (r.query_id, r.rnk): r.neighbor_id
            for r in similarity.cosine_topk(
                emb, "vec_id", "embedding", queries, k=4
            ).collect()
        }
        ivf = {
            (r.query_id, r.rnk): r.neighbor_id
            for r in similarity.ivf_topk(
                emb, "vec_id", "embedding", queries, cents, k=4, nprobe=4
            ).collect()
        }
        assert ivf == bf

    def test_trained_centroids_are_reproducible(self, spark):
        # the whole point of the quantized trainer: two independent
        # runs produce IDENTICAL centroids (floats trained by
        # partition-order-dependent sums would not)
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        a = self._trained_cents(spark, emb, k=4)
        b = self._trained_cents(spark, emb.repartition(7), k=4)
        assert a == b

    def test_x14_registered_query_shape(self, spark):
        df = QUERIES["x14_ivf_ann"](spark, SF_DIR)
        rows = df.collect()
        assert df.columns == ["query_id", "neighbor_id", "cosine_sim", "rnk"]
        per_q = {}
        for r in rows:
            per_q.setdefault(r.query_id, []).append(r.rnk)
        assert len(per_q) == 10
        for q, rnks in per_q.items():
            assert sorted(rnks) == list(range(1, len(rnks) + 1)), q

    def test_x14_plan_no_cartesian_broadcast_probe(self, spark):
        # probe join must ride the broadcast query side; the corpus is
        # never cartesian-joined against centroids or queries
        df = QUERIES["x14_ivf_ann"](spark, SF_DIR)
        p = _plan(df)
        assert "CartesianProduct" not in p
        assert "BroadcastHashJoin" in p


class TestSessionUid:
    def test_stable_and_session_scoped(self, spark):
        from wren_engine_spark.queries.memo import session_uid

        a = session_uid(spark)
        assert isinstance(a, str) and a
        assert session_uid(spark) == a
        # a DIFFERENT session must get a different uid. id(spark) keys
        # fail this guarantee after GC (ids recycle); the JVM session
        # UUID never does — this is what makes it a safe memo key for
        # two sequential sessions that would alias under id()
        other = spark.newSession()
        try:
            assert session_uid(other) != a
            assert session_uid(other) == session_uid(other)
        finally:
            pass  # newSession shares the JVM context; nothing to stop


class TestPQIndexAppend:
    def _quantize(self, vec, quantum=1_000_000):
        import math

        return [math.floor(float(x) * float(quantum) + 0.5) for x in vec]

    def _frozen_encode(self, qx, books, sub):
        codes = []
        for s, book in enumerate(books):
            qs = qx[s * sub:(s + 1) * sub]
            dists = [
                sum((a - b) * (a - b) for a, b in zip(qs, c)) for c in book
            ]
            codes.append(min(range(len(book)), key=lambda c: (dists[c], c)))
        return tuple(codes)

    def _built(self, spark, tmp_path):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        base = emb.filter(F.col("vec_id") % 5 != 0)
        delta = emb.filter(F.col("vec_id") % 5 == 0)
        path = str(tmp_path / "pq_idx")
        similarity.write_pq_index(
            base, "vec_id", "embedding", path,
            n_subspaces=2, k_codes=4, iters=1,
        )
        return emb, base, delta, path

    def test_append_never_retrains_and_matches_brute_force(
        self, spark, tmp_path
    ):
        emb, base, delta, path = self._built(spark, tmp_path)
        books_before, meta = similarity._load_pq_index(spark, path)
        out = similarity.pq_index_append(
            spark, path, delta, "vec_id", "embedding"
        )
        books_after, _ = similarity._load_pq_index(spark, path)
        assert books_before == books_after  # frozen codebooks
        assert out["n_appended"] == delta.count()
        sub = meta.dim // meta.n_subspaces
        got = {
            r["__id"]: (r["code_0"], r["code_1"])
            for r in spark.read.parquet(f"{path}/codes").collect()
        }
        assert len(got) == emb.count()  # base + delta, no dupes
        # every appended row's codes equal the pure-Python frozen
        # encode (quantize half-up, per-subspace integer L2 argmin,
        # ties to the lowest cluster id)
        for r in delta.collect():
            want = self._frozen_encode(self._quantize(r.embedding),
                                       books_after, sub)
            assert got[r.vec_id] == want, r.vec_id

    def test_probe_ranks_across_old_and_new_rows(self, spark, tmp_path):
        emb, base, delta, path = self._built(spark, tmp_path)
        similarity.pq_index_append(spark, path, delta, "vec_id", "embedding")
        queries = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        res = similarity.pq_index_topk(spark, path, queries, topk=5).collect()
        # brute-force ADC replay over ALL codes
        books, meta = similarity._load_pq_index(spark, path)
        sub = meta.dim // meta.n_subspaces
        codes = {
            r["__id"]: (r["code_0"], r["code_1"])
            for r in spark.read.parquet(f"{path}/codes").collect()
        }
        want = {}
        for q in queries.collect():
            qx = self._quantize(q.qvec)
            tabs = [
                [
                    sum((a - b) * (a - b)
                        for a, b in zip(qx[s * sub:(s + 1) * sub], c))
                    for c in book
                ]
                for s, book in enumerate(books)
            ]
            scored = sorted(
                (tabs[0][c0] + tabs[1][c1], nid)
                for nid, (c0, c1) in codes.items()
                if nid != q.query_id
            )
            for rnk, (adist, nid) in enumerate(scored[:5], start=1):
                want[(q.query_id, rnk)] = (nid, adist)
        got = {(r.query_id, r.rnk): (r.neighbor_id, r.adist) for r in res}
        assert got == want

    def test_epoch_append_is_idempotent(self, spark, tmp_path):
        import os

        emb, _base, delta, path = self._built(spark, tmp_path)
        similarity.pq_index_append(
            spark, path, delta, "vec_id", "embedding", epoch_id=3
        )
        n_once = spark.read.parquet(f"{path}/codes").count()
        # full replay of the same epoch (checkpoint lost its commit)
        out = similarity.pq_index_append(
            spark, path, delta, "vec_id", "embedding", epoch_id=3
        )
        assert out.get("skipped") is True
        assert spark.read.parquet(f"{path}/codes").count() == n_once
        # crash-sim: epoch marker lost AFTER the data landed — the
        # deterministic epoch-file names still converge to one copy
        os.remove(f"{path}/_epoch_3")
        similarity.pq_index_append(
            spark, path, delta, "vec_id", "embedding", epoch_id=3
        )
        assert spark.read.parquet(f"{path}/codes").count() == n_once
        assert n_once == emb.count()

    def test_rebuild_clears_epoch_markers(self, spark, tmp_path):
        import os

        emb, base, delta, path = self._built(spark, tmp_path)
        similarity.pq_index_append(
            spark, path, delta, "vec_id", "embedding", epoch_id=0
        )
        assert os.path.isfile(f"{path}/_epoch_0")
        # rebuilding the index resets it wholesale: a replayed epoch 0
        # must append into the NEW index, not skip on a stale marker
        similarity.write_pq_index(
            base, "vec_id", "embedding", path,
            n_subspaces=2, k_codes=4, iters=1,
        )
        assert not os.path.isfile(f"{path}/_epoch_0")
        similarity.pq_index_append(
            spark, path, delta, "vec_id", "embedding", epoch_id=0
        )
        assert spark.read.parquet(f"{path}/codes").count() == emb.count()

    def test_append_dim_mismatch_fails_loudly(self, spark, tmp_path):
        import pytest

        _emb, _base, _delta, path = self._built(spark, tmp_path)
        bad = spark.createDataFrame(
            [(9999, [0.1] * 32)], "vec_id LONG, embedding ARRAY<DOUBLE>"
        )
        with pytest.raises(Exception, match="dim"):
            similarity.pq_index_append(
                spark, path, bad, "vec_id", "embedding"
            )

    def test_x100_idempotent_within_session(self, spark):
        a = sorted(
            (r.query_id, r.rnk, r.neighbor_id, r.adist)
            for r in QUERIES["x100_pq_index_append"](spark, SF_DIR).collect()
        )
        b = sorted(
            (r.query_id, r.rnk, r.neighbor_id, r.adist)
            for r in QUERIES["x100_pq_index_append"](spark, SF_DIR).collect()
        )
        assert a == b and len(a) == 40  # 8 queries x top-5, no double-append

    def test_x100_probe_scans_codes_only(self, spark):
        # the lifecycle's point: after build+append, a probe never
        # touches a raw embedding — only the small-int codes table
        df = QUERIES["x100_pq_index_append"](spark, SF_DIR)
        p = _plan(df)
        assert "embedding" not in p
        assert "CartesianProduct" not in p


class TestIndexAppendFamilies:
    """append ≡ rebuild for the OTHER two persisted index families
    (simhash bands, hyperplane-LSH buckets) — library surface, no
    registry entry; the registered probes x70/t13/x63 stay build-once
    while these give a continuously-ingesting pipeline the same
    freshness path the PQ index got in x100."""

    def test_simhash_append_equals_rebuild(self, spark):
        from wren_engine_spark.operators import dedup

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        a = d.filter((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 3 != 0))
        b = d.filter((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 3 == 0))
        delta = d.filter(F.col("doc_id") % 10 == 0)
        dedup.write_simhash_index(a, "text", "doc_id", "sia_t1")
        n = dedup.simhash_index_append(spark, "sia_t1", b, "text", "doc_id")
        assert n == b.count()
        dedup.write_simhash_index(
            a.unionByName(b), "text", "doc_id", "sia_t2"
        )
        probe1 = {
            (r.delta_id, r.corpus_id, r.hamming)
            for r in dedup.simhash_index_probe(
                spark, "sia_t1", delta, "text", "doc_id", max_hamming=3
            ).collect()
        }
        probe2 = {
            (r.delta_id, r.corpus_id, r.hamming)
            for r in dedup.simhash_index_probe(
                spark, "sia_t2", delta, "text", "doc_id", max_hamming=3
            ).collect()
        }
        assert probe1 == probe2 and probe1

    def test_ann_append_equals_rebuild(self, spark):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        a = emb.filter(F.col("vec_id") % 3 != 0)
        b = emb.filter(F.col("vec_id") % 3 == 0)
        queries = emb.filter(F.col("vec_id") < 6).select("vec_id", "embedding")
        similarity.write_ann_index(
            a, "vec_id", "embedding", "aia_t1", dim=64, nbits=8, tables=3
        )
        n = similarity.ann_index_append(
            spark, "aia_t1", b, "vec_id", "embedding"
        )
        assert n == b.count()
        similarity.write_ann_index(
            emb, "vec_id", "embedding", "aia_t2", dim=64, nbits=8, tables=3
        )
        t1 = {
            (r.query_id, r.rnk): r.neighbor_id
            for r in similarity.ann_index_topk(
                spark, "aia_t1", queries, "vec_id", "embedding",
                dim=64, k=3, nbits=8, tables=3,
            ).collect()
        }
        t2 = {
            (r.query_id, r.rnk): r.neighbor_id
            for r in similarity.ann_index_topk(
                spark, "aia_t2", queries, "vec_id", "embedding",
                dim=64, k=3, nbits=8, tables=3,
            ).collect()
        }
        assert t1 == t2 and t1

    def test_ann_append_uses_index_meta_not_caller_params(self, spark):
        # meta sidecar carries the plane parameters: an append after a
        # NON-default build must hash with the build's planes, not
        # defaults — probe equality with a full rebuild proves it
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
            F.col("vec_id") < 200
        )
        a = emb.filter(F.col("vec_id") % 2 == 0)
        b = emb.filter(F.col("vec_id") % 2 == 1)
        similarity.write_ann_index(
            a, "vec_id", "embedding", "aia_t3",
            dim=64, nbits=6, tables=2, seed=7,
        )
        similarity.ann_index_append(spark, "aia_t3", b, "vec_id", "embedding")
        similarity.write_ann_index(
            emb, "vec_id", "embedding", "aia_t4",
            dim=64, nbits=6, tables=2, seed=7,
        )
        rows1 = {
            (r.table_id, r.bucket, r.vec_id)
            for r in spark.table("aia_t3").collect()
        }
        rows2 = {
            (r.table_id, r.bucket, r.vec_id)
            for r in spark.table("aia_t4").collect()
        }
        assert rows1 == rows2


class TestBloomDecontaminationScreen:
    M1, M2 = 2147483647, 2147483629
    B1, B2 = 1000003, 999983
    NBITS = 1024 * 63
    MULTS = (48271, 69621, 16807)

    def _tok_hash(self, tok):
        acc = 0
        for ch in tok:
            acc = (acc * 31 + ord(ch)) % self.M1
        return acc

    def _windows(self, text, w=8):
        import re

        toks = re.split(r"[ \t\n\x0B\f\r]+", text.strip())
        th = [self._tok_hash(t) for t in toks]
        if len(th) < w:
            return None
        out = []
        for i in range(len(th) - w + 1):
            h1 = h2 = 0
            for h in th[i:i + w]:
                h1 = (h1 * self.B1 + h) % self.M1
                h2 = (h2 * self.B2 + h) % self.M2
            out.append(h1 * self.M2 + h2)
        return out

    def _positions(self, wh):
        g = wh % self.M1
        return [(g * a % self.M1) % self.NBITS for a in self.MULTS]

    def test_matches_pure_python_bloom(self, spark):
        import duckdb

        raw = duckdb.sql(
            f"SELECT doc_id, text FROM "
            f"read_parquet('{SF_DIR}/documents.parquet')"
        ).fetchall()
        bits = set()
        for doc_id, txt in raw:
            if doc_id % 10 == 0:
                for wh in (self._windows(txt) or []):
                    bits.update(self._positions(wh))
        want = {}
        for doc_id, txt in raw:
            if doc_id % 10 == 0:
                continue
            wins = self._windows(txt)
            if wins is None:
                continue
            hits = sum(
                1 for wh in wins
                if all(p in bits for p in self._positions(wh))
            )
            want[doc_id] = (len(wins), hits, hits > 0)
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        from wren_engine_spark.operators import text as tx

        got = {
            r.doc_id: (r.n_windows, r.n_bloom_hits, r.maybe_contaminated)
            for r in tx.bloom_decontamination_screen(
                d.filter(F.col("doc_id") % 10 != 0),
                d.filter(F.col("doc_id") % 10 == 0),
                "text", "doc_id",
            ).collect()
        }
        assert got == want

    def test_no_false_negatives_vs_exact(self, spark):
        # the screen's guarantee: every doc the EXACT window-membership
        # pass finds contaminated must be flagged (FPs allowed, FNs not)
        from wren_engine_spark.operators import text as tx

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        train = d.filter(F.col("doc_id") % 10 != 0)
        test = d.filter(F.col("doc_id") % 10 == 0)
        exact = {
            r.doc_id
            for r in tx.contamination_spans(
                train, test, "text", "doc_id", window_tokens=8
            ).select("doc_id").distinct().collect()
        }
        flagged = {
            r.doc_id
            for r in tx.bloom_decontamination_screen(
                train, test, "text", "doc_id"
            ).filter(F.col("maybe_contaminated")).collect()
        }
        assert exact <= flagged

    def test_probe_plan_is_join_and_shuffle_free(self, spark):
        # the operator's reason to exist: the probe is one narrow map
        # over the corpus — the 8KB filter rides as a literal, so there
        # is NO join, NO exchange, NO Python eval anywhere in the plan
        df = QUERIES["x102_bloom_decontamination_screen"](spark, SF_DIR)
        p = _plan(df)
        for bad in ("Join", "Exchange hashpartitioning",
                    "BatchEvalPython", "ArrowEvalPython"):
            assert bad not in p, bad
        # the only exchange allowed is load_tables' deliberate
        # round-robin scan fan-out — never a key shuffle
        for line in p.splitlines():
            if "Exchange" in line:
                assert "RoundRobinPartitioning" in line, line


class TestImageAHash:
    def _python_ahash(self, doc_id, n_payload_bytes, grid=8):
        # replay multimodal._build_bmp's pattern + image_ahash's rule
        stride, w3 = 96, 96
        h = max((n_payload_bytes + stride - 1) // stride, 1)
        px = [
            [(doc_id * 31 + r * stride + k) % 251 for k in range(w3)]
            for r in range(h)
        ]
        sums = [0] * (grid * grid)
        counts = [0] * (grid * grid)
        for r in range(h):
            for k in range(w3):
                c = (r * grid // h) * grid + (k * grid // w3)
                sums[c] += px[r][k]
                counts[c] += 1
        ts = sum(map(sum, px))
        tn = h * w3
        h_lo = h_hi = 0
        for i in range(grid * grid):
            if counts[i] > 0 and sums[i] * tn >= ts * counts[i]:
                if i < 32:
                    h_lo |= 1 << i
                else:
                    h_hi |= 1 << (i - 32)
        return h, h_lo, h_hi

    def test_matches_pure_python_replay(self, spark):
        from wren_engine_spark.operators import multimodal as mm

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
        payloads = mm.attach_binary_payload(d, "text", "doc_id")
        got = {
            r.doc_id: (r.height, r.h_lo, r.h_hi, r.status)
            for r in mm.image_ahash(mm.encode_bmp(payloads)).collect()
        }
        for r in payloads.select(
            "doc_id", F.octet_length("payload").alias("nb")
        ).collect():
            h, lo, hi = self._python_ahash(r.doc_id, r.nb)
            assert got[r.doc_id] == (h, lo, hi, "bmp"), r.doc_id

    def test_pairs_find_planted_visual_duplicates(self, spark):
        from wren_engine_spark.operators import multimodal as mm

        # doc_ids congruent mod 251 with equal payload length render
        # BYTE-IDENTICAL pixel patterns (pattern byte = (id*31+j)%251,
        # gcd(31,251)=1) -> hamming 0; unrelated ids differ widely
        text = "x " * 300
        rows = [(5, text), (256, text), (7, "y " * 300), (9, "z " * 10)]
        df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        hashes = mm.image_ahash(
            mm.encode_bmp(mm.attach_binary_payload(df, "text", "doc_id"))
        )
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in mm.image_ahash_pairs(hashes, max_hamming=3).collect()
        }
        assert pairs.get((5, 256)) == 0

    def test_pairs_verify_exact_hamming(self, spark):
        from wren_engine_spark.operators import multimodal as mm

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
        hashes = mm.image_ahash(
            mm.encode_bmp(mm.attach_binary_payload(d, "text", "doc_id"))
        ).collect()
        hs = {r.doc_id: (r.h_lo, r.h_hi) for r in hashes}
        want = {}
        ids = sorted(hs)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                ham = bin(hs[a][0] ^ hs[b][0]).count("1") + bin(
                    hs[a][1] ^ hs[b][1]
                ).count("1")
                if ham <= 3:
                    want[(a, b)] = ham
        hdf = spark.createDataFrame(
            [(k, v[0], v[1], "bmp") for k, v in hs.items()],
            "doc_id LONG, h_lo LONG, h_hi LONG, status STRING",
        )
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in mm.image_ahash_pairs(hdf, max_hamming=3).collect()
        }
        assert got == want  # pigeonhole banding is lossless at ham<=3


class TestAudioFingerprint:
    def _python_fp(self, doc_id, ns, frames=32):
        samples = [
            ((doc_id * 37 + j * 7919) % 65536) - 32768 for j in range(ns)
        ]
        e = [0] * frames
        c = [0] * frames
        for j, s in enumerate(samples):
            f = (j * frames) // ns
            e[f] += s * s
            c[f] += 1
        fp = 0
        for f in range(frames - 1):
            if c[f] > 0 and c[f + 1] > 0 and e[f + 1] * c[f] >= e[f] * c[f + 1]:
                fp |= 1 << f
        return fp

    def test_matches_pure_python_replay(self, spark):
        from wren_engine_spark.operators import multimodal as mm

        # include short clips (n < frames) to pin the empty-frame rule
        rows = [(d, n) for d, n in
                ((1, 500), (2, 31), (3, 1), (4, 97), (5, 2000), (6, 32))]
        df = spark.createDataFrame(rows, "doc_id LONG, n_samples INT")
        got = {
            r.doc_id: (r.n_samples, r.fingerprint, r.status)
            for r in mm.audio_fingerprint(
                mm.encode_wav(df, "doc_id", "n_samples")
            ).collect()
        }
        for d, n in rows:
            assert got[d] == (n, self._python_fp(d, n), "wav"), (d, n)

    def test_identical_audio_same_fingerprint(self, spark):
        from wren_engine_spark.operators import multimodal as mm

        # ids 65536 apart render IDENTICAL int16 sample streams
        # (Δid*37 ≡ 0 mod 65536), so the fingerprints must collide
        rows = [(5, 400), (65541, 400), (9, 400)]
        df = spark.createDataFrame(rows, "doc_id LONG, n_samples INT")
        got = {
            r.doc_id: r.fingerprint
            for r in mm.audio_fingerprint(
                mm.encode_wav(df, "doc_id", "n_samples")
            ).collect()
        }
        assert got[5] == got[65541]

    def test_malformed_payload_yields_error_row(self, spark):
        from wren_engine_spark.operators import multimodal as mm

        df = spark.createDataFrame(
            [(1, bytearray(b"not a wav at all"))],
            "doc_id LONG, payload BINARY",
        )
        rows = mm.audio_fingerprint(df).collect()
        assert rows[0].status == "error" and rows[0].fingerprint == -1


class TestPQIndexCompact:
    def _appended(self, spark, tmp_path):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        base = emb.filter(F.col("vec_id") % 5 != 0)
        path = str(tmp_path / "pq_idx")
        similarity.write_pq_index(
            base, "vec_id", "embedding", path,
            n_subspaces=2, k_codes=4, iters=1,
        )
        # several small appends — the small-file shape compaction fixes
        for m in range(3):
            delta = emb.filter(
                (F.col("vec_id") % 5 == 0) & (F.col("vec_id") % 3 == m)
            )
            similarity.pq_index_append(
                spark, path, delta, "vec_id", "embedding"
            )
        return emb, path

    def test_compact_shrinks_files_preserves_probe(self, spark, tmp_path):
        emb, path = self._appended(spark, tmp_path)
        queries = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        before = sorted(
            (r.query_id, r.rnk, r.neighbor_id, r.adist)
            for r in similarity.pq_index_topk(spark, path, queries).collect()
        )
        books_before, _ = similarity._load_pq_index(spark, path)
        stats = similarity.pq_index_compact(spark, path)
        assert stats["files_after"] < stats["files_before"]
        assert stats["files_after"] == 1  # tiny corpus -> one 128MiB bin
        assert stats["n_rows"] == emb.count()
        after = sorted(
            (r.query_id, r.rnk, r.neighbor_id, r.adist)
            for r in similarity.pq_index_topk(spark, path, queries).collect()
        )
        assert after == before  # content-preserving by contract
        books_after, _ = similarity._load_pq_index(spark, path)
        assert books_after == books_before

    def test_compact_is_idempotent(self, spark, tmp_path):
        _emb, path = self._appended(spark, tmp_path)
        similarity.pq_index_compact(spark, path)
        again = similarity.pq_index_compact(spark, path)
        assert again["files_before"] == again["files_after"] == 1

    def test_compact_recovery_guard(self, spark, tmp_path):
        # a crash between the swap's two renames leaves the data parked
        # at codes.old with no codes directory: the next compact must
        # restore it before rewriting, and probes stay bit-identical
        import os

        emb, path = self._appended(spark, tmp_path)
        queries = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )

        def probe():
            return sorted(
                (r.query_id, r.rnk, r.neighbor_id, r.adist)
                for r in similarity.pq_index_topk(spark, path, queries).collect()
            )

        before = probe()
        os.rename(f"{path}/codes", f"{path}/codes.old")
        stats = similarity.pq_index_compact(spark, path)
        assert stats["n_rows"] == emb.count()
        assert not os.path.isdir(f"{path}/codes.old")
        assert probe() == before

    def test_t16_stream_append_matches_batch_append(self, spark):
        # per-row encoding is batching-invariant: however the stream
        # slices the delta into microbatches, the probe must equal the
        # batch-appended index's probe row-for-row
        a = sorted(
            (r.query_id, r.rnk, r.neighbor_id, r.adist)
            for r in QUERIES["x100_pq_index_append"](spark, SF_DIR).collect()
        )
        t = sorted(
            (r.query_id, r.rnk, r.neighbor_id, r.adist)
            for r in QUERIES["t16_stream_index_append"](spark, SF_DIR).collect()
        )
        assert t == a

    def test_x101_matches_x100_rows(self, spark):
        # compaction must not change what the driver oracle sees
        a = sorted(
            (r.query_id, r.rnk, r.neighbor_id, r.adist)
            for r in QUERIES["x100_pq_index_append"](spark, SF_DIR).collect()
        )
        b = sorted(
            (r.query_id, r.rnk, r.neighbor_id, r.adist)
            for r in QUERIES["x101_pq_index_compact"](spark, SF_DIR).collect()
        )
        assert a == b
