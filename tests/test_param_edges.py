"""Non-default parameter edges of the banded/LSH operator family.

The round-7/8 review cycle kept finding the same bug shape: an
operator correct at its default parameters and silently wrong at
others (image_ahash_pairs bands=5 straddle, untested non-42 LSH
seeds whose plane constants repr() in scientific notation). These
tests pin every parameterized kernel at values the registered
queries do NOT use, against brute force or a pure-Python reference:

- hyperplane signatures at a seed whose plane constants include
  exponent-notation doubles, against the pure-Python left fold;
- pigeonhole banding at band counts that do NOT divide the
  signature width (remainder bits are uncovered by every band;
  recall must still be exact because uncovered bits can only HIDE
  differences from the band keys, never invent them);
- the persisted simhash/ANN index lifecycle at non-default
  band/bit/table/seed parameters end-to-end.
"""

import random

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from wren_engine_spark.operators import dedup, multimodal, similarity

# seed=10, tables=2, nbits=8, dim=16: the generated planes contain 2
# exponent-notation values (e.g. 4.5e-05-class), the exact literals
# the default-seed tests never exercise
XSEED, XTABLES, XNBITS, XDIM = 10, 2, 8, 16


def _py_planes(seed, tables, nbits, dim):
    out = []
    for t in range(tables):
        rng = random.Random(seed + 1000 * t)
        out.append([[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(nbits)])
    return out


def _py_signature(vec, planes):
    sig = 0
    for j, p in enumerate(planes):
        acc = 0.0
        for x, y in zip(vec, p):
            acc += float(x) * y
        if acc > 0:
            sig |= 1 << j
    return sig


def _vectors(n, dim, seed=99):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        # mix of scales, incl. tiny and huge components, exact zeros
        v = [
            rng.choice([rng.gauss(0, 1), rng.gauss(0, 1e-6), rng.gauss(0, 1e6), 0.0])
            for _ in range(dim)
        ]
        rows.append((i, v))
    return rows


class TestExponentLiteralPlanes:
    def test_signatures_match_python_fold_offdefault_seed(self, spark):
        planes = _py_planes(XSEED, XTABLES, XNBITS, XDIM)
        # the seed was picked BECAUSE its planes repr() in exponent
        # notation — assert that stays true so the test can't rot into
        # testing nothing when constants change
        flat = [x for tab in planes for row in tab for x in row]
        assert any("e" in repr(x) for x in flat)
        rows = _vectors(40, XDIM)
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
        got = similarity._all_table_signatures(
            df, "vec_id", "embedding", dim=XDIM, nbits=XNBITS, tables=XTABLES, seed=XSEED
        )
        exp = sorted(
            (i, t, _py_signature(v, planes[t]))
            for i, v in rows
            for t in range(XTABLES)
        )
        assert sorted((r.vec_id, r.table_id, r.bucket) for r in got.collect()) == exp


def _brute_hamming_pairs(sig_by_id, max_hamming):
    ids = sorted(sig_by_id)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sig_by_id[a] ^ sig_by_id[b]).count("1")
            if h <= max_hamming:
                out.add((a, b, h))
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 200)
    )


class TestNondivisibleBandCounts:
    """bands that leave remainder bits uncovered (32 % 5, 32 % 6): every banded join must still find EXACTLY the brute-force
    pair set — uncovered bits can only hide differences from band
    keys, which creates extra candidates, never lost ones."""

    def test_portable_simhash_near_dup_bands5(self, spark, docs):
        sigs = {
            r.doc_id: r.simhash
            for r in dedup.simhash_portable(docs, "text", "doc_id").collect()
        }
        exp = _brute_hamming_pairs(sigs, 4)
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.portable_simhash_near_dup(
                docs, "text", "doc_id", max_hamming=4, bands=5
            ).collect()
        }
        assert got == exp
        assert exp  # the corpus must actually contain near-dup pairs

    def test_simhash_cross_contamination_bands5(self, spark, docs):
        test_df = docs.filter(F.col("doc_id") % 7 == 0)
        train_df = docs.filter(F.col("doc_id") % 7 != 0)
        sig = {
            r.doc_id: r.simhash
            for r in dedup.simhash_portable(docs, "text", "doc_id").collect()
        }
        t_ids = [r.doc_id for r in test_df.select("doc_id").collect()]
        r_ids = [r.doc_id for r in train_df.select("doc_id").collect()]
        exp = {
            t: sum(
                1 for r in r_ids if bin(sig[t] ^ sig[r]).count("1") <= 4
            )
            for t in t_ids
        }
        got = {
            r.doc_id: r.n_near_dup_train
            for r in dedup.simhash_cross_contamination(
                test_df, train_df, "text", "doc_id", max_hamming=4, bands=5
            ).collect()
        }
        assert got == exp
        assert any(v > 0 for v in exp.values())

    def test_simhash_index_probe_bands6(self, spark, docs, tmp_path):
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        delta = docs.filter(F.col("doc_id") % 5 == 0)
        table = "param_edge_simhash_b6"
        dedup.write_simhash_index(corpus, "text", "doc_id", table, bands=6)
        got = {
            (r.delta_id, r.corpus_id, r.hamming)
            for r in dedup.simhash_index_probe(
                spark, table, delta, "text", "doc_id", max_hamming=4
            ).collect()
        }
        sig = {
            r.doc_id: r.simhash
            for r in dedup.simhash_portable(docs, "text", "doc_id").collect()
        }
        d_ids = [r.doc_id for r in delta.select("doc_id").collect()]
        c_ids = [r.doc_id for r in corpus.select("doc_id").collect()]
        exp = {
            (d, c, bin(sig[d] ^ sig[c]).count("1"))
            for d in d_ids
            for c in c_ids
            if bin(sig[d] ^ sig[c]).count("1") <= 4
        }
        assert got == exp
        assert exp


class TestImageAhashBands8:
    def test_bands8_equals_brute_force(self, spark):
        rng = random.Random(3)
        hashes = []
        base = rng.getrandbits(64)
        for i in range(60):
            # cluster around a few base hashes so near-dups exist
            if i % 3 == 0:
                base = rng.getrandbits(64)
            h = base
            for _ in range(rng.randrange(0, 6)):
                h ^= 1 << rng.randrange(64)
            hashes.append((i, h & 0xFFFFFFFF, h >> 32, h))
        df = spark.createDataFrame(
            [(i, lo, hi, "bmp") for i, lo, hi, _ in hashes],
            "doc_id: long, h_lo: long, h_hi: long, status: string",
        )
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in multimodal.image_ahash_pairs(
                df, max_hamming=3, bands=8
            ).collect()
        }
        full = {i: h for i, _, _, h in hashes}
        exp = _brute_hamming_pairs(full, 3)
        assert got == exp
        assert exp


class TestAnnIndexOffDefaultParams:
    def test_index_probe_matches_python_lsh_reference(self, spark):
        dim, nbits, tables, seed, k = 16, 6, 2, 7, 3
        rows = _vectors(120, dim, seed=5)
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
        table = "param_edge_ann_nd"
        similarity.write_ann_index(
            df, "vec_id", "embedding", table,
            dim=dim, nbits=nbits, tables=tables, seed=seed, buckets=4,
        )
        queries = spark.createDataFrame(
            rows[:8], "vec_id: long, embedding: array<double>"
        )
        got = {
            (r.query_id, r.neighbor_id): (r.cosine_sim, r.rnk)
            for r in similarity.ann_index_topk(
                spark, table, queries, "vec_id", "embedding", dim=dim, k=k
            ).collect()
        }
        # pure-Python LSH reference: candidates share a (table, bucket),
        # ranked by cosine desc then neighbor id, top-k per query
        planes = _py_planes(seed, tables, nbits, dim)
        sigs = {
            i: [_py_signature(v, planes[t]) for t in range(tables)]
            for i, v in rows
        }
        import math

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb) if na and nb else 0.0

        vec = dict(rows)
        exp = {}
        for q, _ in rows[:8]:
            cands = {
                i
                for i, _v in rows
                if i != q and any(sigs[i][t] == sigs[q][t] for t in range(tables))
            }
            ranked = sorted(cands, key=lambda i: (-cos(vec[q], vec[i]), i))[:k]
            for rnk, i in enumerate(ranked, 1):
                exp[(q, i)] = (round(cos(vec[q], vec[i]), 6), rnk)
        assert got.keys() == exp.keys()
        for key in exp:
            assert got[key][1] == exp[key][1], key
            assert abs(got[key][0] - exp[key][0]) < 1e-9, key
