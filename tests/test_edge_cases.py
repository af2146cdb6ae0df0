"""Empty-input and degenerate-shape robustness: every operator must
return an empty (or well-defined) result on empty/trivial corpora, not
throw — the failure mode that surfaces in production when a filter
upstream drains a partition."""

import pytest
from pyspark.sql import functions as F

from wren_engine_spark.operators import dedup, similarity, text


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id LONG, text STRING")


@pytest.fixture(scope="module")
def empty_vecs(spark):
    return spark.createDataFrame([], "vec_id LONG, embedding ARRAY<FLOAT>")


class TestEmptyCorpora:
    def test_exact_dedup_empty(self, empty_docs):
        assert dedup.exact_dedup(empty_docs, "text", "doc_id").count() == 0

    def test_jaccard_pairs_empty(self, empty_docs):
        assert dedup.jaccard_pairs(empty_docs, "text", "doc_id").count() == 0

    def test_minhash_empty(self, empty_docs):
        assert dedup.minhash_lsh_candidates(empty_docs, "text", "doc_id").count() == 0

    def test_simhash_near_dup_empty(self, empty_docs):
        assert dedup.portable_simhash_near_dup(empty_docs, "text", "doc_id").count() == 0

    def test_winnow_empty(self, empty_docs):
        assert dedup.winnow_fingerprints(empty_docs, "text", "doc_id").count() == 0

    def test_near_dup_exact_empty(self, empty_vecs):
        assert (
            similarity.cosine_near_dup_pairs(empty_vecs, "vec_id", "embedding").count()
            == 0
        )

    def test_token_stats_empty(self, empty_docs):
        assert text.token_stats(empty_docs, "text", "doc_id").count() == 0

    def test_profile_empty(self, empty_docs):
        prof = {r.column: r for r in text.profile_columns(empty_docs, ["text"]).collect()}
        assert prof["text"].n_rows == 0 and prof["text"].n_nulls == 0


class TestDegenerateDocs:
    def test_single_doc_no_pairs(self, spark):
        df = spark.createDataFrame([(1, "one single document here")],
                                   "doc_id LONG, text STRING")
        assert dedup.jaccard_pairs(df, "text", "doc_id", n=2).count() == 0

    def test_doc_shorter_than_shingle_ignored(self, spark):
        df = spark.createDataFrame([(1, "too short"), (2, "a b c d e"), (3, "a b c d e")],
                                   "doc_id LONG, text STRING")
        pairs = dedup.jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.8).collect()
        assert {(r.id_a, r.id_b) for r in pairs} == {(2, 3)}

    def test_null_text_rows_dropped_not_fatal(self, spark):
        df = spark.createDataFrame([(1, None), (2, "a b c d"), (3, "a b c d")],
                                   "doc_id LONG, text STRING")
        pairs = dedup.jaccard_pairs(df, "text", "doc_id", n=2, threshold=0.8).collect()
        assert {(r.id_a, r.id_b) for r in pairs} == {(2, 3)}

    def test_identical_vectors_cosine_one(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0]), (2, [1.0, 2.0, 3.0])],
            "vec_id LONG, embedding ARRAY<FLOAT>",
        )
        out = similarity.cosine_near_dup_pairs(df, "vec_id", "embedding",
                                               threshold=0.99).collect()
        assert len(out) == 1 and out[0].cosine_sim == 1.0


class TestEmptyNewOperators:
    def test_connected_components_empty(self, spark):
        edges = spark.createDataFrame([], "id_a INT, id_b INT")
        assert dedup.connected_components(edges).count() == 0

    def test_duplicate_clusters_empty(self, empty_docs):
        assert dedup.duplicate_clusters(empty_docs, "text", "doc_id").count() == 0

    def test_contamination_empty_sides(self, spark, empty_docs):
        test_df = spark.createDataFrame([(1, "a b c d")], "doc_id LONG, text STRING")
        # empty train: nothing leaks; empty test: no rows
        out = {r.doc_id: r for r in
               dedup.contamination(test_df, empty_docs, "text", "doc_id").collect()}
        assert out[1].n_overlap == 0 and out[1].contamination_ratio == 0.0
        assert dedup.contamination(empty_docs, test_df, "text", "doc_id").count() == 0

    def test_incremental_dedup_empty_corpus(self, spark, empty_docs):
        batch = spark.createDataFrame([(1, "x")], "doc_id LONG, text STRING")
        assert dedup.incremental_dedup(batch, empty_docs, "text", "doc_id").count() == 1
        assert dedup.incremental_dedup(empty_docs, batch, "text", "doc_id").count() == 0

    def test_text_ops_empty(self, empty_docs):
        assert text.repetition_stats(empty_docs, "text", "doc_id").count() == 0
        assert text.pii_scrub(empty_docs, "text", "doc_id").count() == 0
        assert text.tfidf_top_terms(empty_docs, "text", "doc_id").count() == 0

    def test_pack_sequences_empty(self, spark):
        df = spark.createDataFrame([], "src STRING, id LONG, toks LONG")
        assert text.pack_sequences(df, "toks", "id", 100, "src").count() == 0

    def test_label_centroids_empty(self, spark):
        df = spark.createDataFrame([], "label INT, embedding ARRAY<FLOAT>")
        assert similarity.label_centroids(df, "embedding", "label").count() == 0


class TestRound4EdgeCases:
    def test_semantic_dedup_empty_and_single(self, spark, empty_vecs):
        assert similarity.semantic_dedup(empty_vecs, "vec_id", "embedding").count() == 0
        one = spark.createDataFrame(
            [(1, [0.5, -0.5, 0.25, 0.1])], "vec_id LONG, embedding ARRAY<FLOAT>"
        )
        rows = similarity.semantic_dedup(one, "vec_id", "embedding", 0.5, 2).collect()
        assert len(rows) == 1 and rows[0].kept is True

    def test_dsir_empty_and_short_docs(self, spark, empty_docs):
        from wren_engine_spark.operators import selection

        e = empty_docs.withColumn("lang", F.lit("en"))
        assert selection.dsir_importance_weights(
            e, F.col("lang") == "en"
        ).count() == 0
        # docs with < 2 tokens contribute no bigrams -> excluded, not fatal
        df = spark.createDataFrame(
            [(1, "single", "en"), (2, "two tokens here", "en")],
            "doc_id LONG, text STRING, lang STRING",
        )
        out = selection.dsir_importance_weights(df, F.col("lang") == "en").collect()
        assert [r.doc_id for r in out] == [2]

    def test_lm_cross_entropy_short_docs_excluded(self, spark):
        from wren_engine_spark.operators import selection

        df = spark.createDataFrame(
            [(1, "solo"), (2, "a b a b")], "doc_id LONG, text STRING"
        )
        out = selection.bigram_lm_cross_entropy(df).collect()
        assert [r.doc_id for r in out] == [2]

    def test_gopher_flags_vertical_tab_whitespace(self, spark):
        # \x0B must count as a token separator (the portable WS class)
        df = spark.createDataFrame(
            [(1, "alpha\x0bbeta\x0bgamma")], "doc_id LONG, text STRING"
        )
        r = text.gopher_quality_flags(df).collect()[0]
        assert r.n_words == 3

    def test_curation_provenance_empty(self, spark, empty_docs):
        e = empty_docs.withColumn("lang", F.lit("en"))
        assert text.curation_provenance(e).count() == 0

    def test_zorder_quantize_clamps(self, spark):
        from wren_engine_spark.operators import layout

        df = spark.createDataFrame([(0,), (50,), (100,), (150,)], "v LONG")
        got = [
            r.q for r in df.select(
                layout.zorder_quantize("v", 0, 100, 4).alias("q")
            ).collect()
        ]
        assert got[0] == 0 and got[2] == 15
        assert got[3] == 15  # above-range clamps, never overflows the key
