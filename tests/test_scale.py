"""Skew/scale soak for the dedup pipeline (round-3 verdict item 7).

Runs the x3/x44 shapes on a deliberately Zipfian corpus — one shingle
planted in 50% of documents — and measures ACTUAL per-task row counts
(spark_partition_id(), one partition == one task) instead of trusting
plan shape alone. The properties asserted are exactly the 100 TB design
claims:

  1. the doc-frequency aggregation's OUTPUT is balanced (map-side
     combine means the reduce side sees distinct shingles, so the hot
     shingle is one row, not its occurrence list);
  2. the frequency join-back CAN be split by AQE's skew-join handling
     (the hot key's rows spread over several tasks), which a
     count()-over-window never can — the comparative sub-test shows the
     window physically serializes the hot key into a single task;
  3. the full x3 / x44 operators complete on the skewed corpus and
     still find the planted duplicates.
"""

import random

import pytest
from pyspark.sql import functions as F

from wren_engine_spark.operators import dedup, text


N_DOCS = 8000
HOT = "zzhot zzipf zzhead"  # the planted hot trigram
HOT_DOCS = N_DOCS // 2


@pytest.fixture(scope="module")
def skewed(spark):
    """~8k docs x 30 tokens; the HOT trigram appears at a random offset
    in every even doc (50% document frequency); docs 0/1 and 2/3 are
    planted near-duplicate pairs."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(5000)]
    rows = []
    for i in range(N_DOCS):
        toks = [vocab[rng.randrange(5000)] for _ in range(30)]
        if i % 2 == 0:
            p = rng.randrange(27)
            toks[p:p + 3] = HOT.split()
        rows.append((i, " ".join(toks)))
    # planted near-dups: 1 differing token out of 30
    for a, b in ((0, 1), (2, 3)):
        t = rows[a][1].split()
        t[-1] = rows[b][1].split()[-1]
        rows[b] = (b, " ".join(t))
    return spark.createDataFrame(rows, "doc_id LONG, text STRING").cache()


def partition_rows(df):
    sizes = (
        df.select(F.spark_partition_id().alias("p"))
        .groupBy("p").count().collect()
    )
    return sorted(r["count"] for r in sizes)


class TestDocFrequencySkew:
    def test_freq_agg_output_balanced(self, spark, skewed):
        # the reduce side of groupBy(shingle).count() holds DISTINCT
        # shingles: the hot shingle is one row, so no partition can be
        # a straggler even with a 50%-doc-frequency key
        sh = dedup.shingle_arrays(skewed, "text", "doc_id", 3).select(
            "doc_id", F.explode("__sh").alias("shingle")
        )
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sizes = partition_rows(freq)
        assert sizes[-1] <= 3 * sizes[len(sizes) // 2]
        hot = freq.filter(F.col("shingle") == HOT).collect()
        # 50% of docs + the 2 planted near-dup copies of hot docs
        assert hot and hot[0]["df"] == HOT_DOCS + 2

    def test_broadcast_head_mode_has_no_hot_task_but_shuffle_modes_do(
        self, spark, skewed
    ):
        """The design-deciding comparison on the SAME hot key:

        - count() OVER (PARTITION BY shingle): the hot shingle's whole
          occurrence list is structurally pinned to ONE task;
        - groupBy+join of the full frequency table: better (combinable
          agg), but the join-back still concentrates the hot key — and
          AQE's skew split cannot rescue it, because the rule only
          matches plain two-shuffle SMJ children, not
          Sort(HashAgg(Shuffle));
        - broadcast hot head (jaccard_pairs' order): no shuffle on the
          shingle key at all, so the hot key's rows stay spread across
          the scan's partitions — per-task balance independent of skew.
        """
        from pyspark.sql import Window as W

        sh = dedup.shingle_arrays(skewed, "text", "doc_id", 3).select(
            "doc_id", F.explode("__sh").alias("shingle")
        )
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))

        win = sh.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("shingle")))
        wsizes = partition_rows(win)
        assert wsizes[-1] >= HOT_DOCS, wsizes[-5:]  # window: pinned

        exact = sh.join(freq, "shingle")
        esizes = partition_rows(exact)
        assert esizes[-1] >= HOT_DOCS, esizes[-5:]  # shuffle join: pinned too

        head = freq.filter(F.col("__df") > 64).withColumnRenamed("__df", "__hdf")
        bcast = sh.join(F.broadcast(head), "shingle", "left")
        bsizes = partition_rows(bcast)
        # broadcast mode: per-task rows track the scan's (uniform)
        # distribution — no partition carries the hot-key pileup the
        # shuffle modes show, and balance holds regardless of skew
        assert bsizes[-1] <= 1.5 * bsizes[len(bsizes) // 2], bsizes[-5:]
        assert bsizes[-1] < bsizes[len(bsizes) // 2] + HOT_DOCS, bsizes[-5:]

    def test_x47_plan_shingle_shuffles_are_combinable_only(self, spark, skewed):
        """The skew-proof mode's invariant: the RAW exploded shingle set
        never shuffles on the shingle key. Every shingle-keyed Exchange
        remaining in the plan must be fed by a partial (map-side
        combinable) aggregate — where the hot shingle is at most one
        row per map partition — and the frequency attach itself must be
        a broadcast hash join. This is the operator's only frequency
        attach, so it covers the registered x3 entry point's plan."""
        df = dedup.jaccard_pairs(skewed, "text", "doc_id", n=3, threshold=0.8)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin [shingle" in plan  # the freq attach
        lines = plan.splitlines()
        found = 0
        for i, l in enumerate(lines):
            if "Exchange hashpartitioning(shingle" in l:
                found += 1
                tail = "\n".join(lines[i + 1:i + 3])
                assert "partial_count" in tail, l.strip()[:120]
        assert found >= 1  # the frequency aggregation's own shuffle

    def test_x3_hot_caps_identical_on_skewed_corpus(self, spark, skewed):
        def pairs(cap):
            return {
                (r.id_a, r.id_b): round(r.jaccard, 9)
                for r in dedup.jaccard_pairs(
                    skewed, "text", "doc_id", n=3, threshold=0.8, hot_df_cap=cap,
                ).collect()
            }

        # the two caps put different shingles in the hot head, so the
        # global prefix orders differ; the prefix filter needs only a
        # consistent order, so the verified output must not change
        wide = pairs(64)
        assert wide == pairs(8)
        assert (0, 1) in wide and (2, 3) in wide


class TestPassageSkew:
    def test_x44_end_to_end_with_hot_passage(self, spark, skewed):
        """30% of docs share one 16-token passage at arbitrary offsets:
        the hash-window groupBy must complete (8-byte keys; the distinct
        aggregation's map-side partial dedup bounds the hot window to
        one row per sharing doc) and report those docs as covered."""
        passage = " ".join(f"p{i}" for i in range(16))
        share = skewed.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 < 3,
                F.concat_ws(" ", F.lit(passage), F.col("text")),
            ).otherwise(F.col("text")),
        )
        out = {
            r.doc_id: r
            for r in text.repeated_passages(share, "text", "doc_id", 16).collect()
        }
        sharing = [d for d in out if d % 10 < 3]
        assert sharing and all(out[d].n_shared_positions >= 1 for d in sharing)


class TestAqeSkewJoinSplit:
    def test_hot_key_partition_is_split_at_runtime(self, spark):
        """AQE's runtime skew-join split: a join partition holding a hot
        key gets divided across tasks AFTER the shuffle-size statistics
        arrive — the runtime complement to the explicit salted_join.
        Thresholds are scaled to testdata (defaults engage at 256MB);
        the payload is hash-valued because skew detection reads
        COMPRESSED shuffle sizes, and a constant-key partition of
        compressible rows hides from it (observed: lz4 shrinking the
        hot partition below threshold -> coalesce instead of split)."""
        saved = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                "spark.sql.autoBroadcastJoinThreshold",
            )
        }
        try:
            spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536"
            )
            spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            fact = spark.range(0, 400000).select(
                F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
                F.xxhash64("id").alias("val"),
            )
            dim = spark.range(0, 400000).select(
                F.col("id").alias("k"), F.xxhash64("id", "id").alias("tag")
            )
            j = fact.join(dim, "k").select("k", "val", "tag")
            n = len(j.collect())
            assert n == 400000  # split must not change the result
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in plan
            assert "SortMergeJoin(skew=true)" in plan
            assert "skewed" in plan  # the AQEShuffleRead doing the split
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestRegisteredEntrySoak:
    """Round-4 verdict item 8: soak the REGISTERED entry points (not
    operator re-builds) on (a) the real bench corpus with a planted
    50%-document-frequency trigram and (b) a 10x Zipfian corpus —
    written in the driver's parquet layout so QUERIES[...] runs the
    exact registered code path, with per-task row counts measured via
    spark_partition_id (one partition == one task on local[n])."""

    HOT = "qqhot qqipf qqhead"

    @pytest.fixture(scope="class")
    def bench_skew_dir(self, spark, tmp_path_factory):
        """sf0.1 documents + hot trigram appended to every even doc +
        two planted near-dup twins of docs 0 and 2, driver layout."""
        d = tmp_path_factory.mktemp("bench_skew")
        base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        maxid = base.agg(F.max("doc_id")).first()[0]
        skewed = base.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat_ws(" ", F.col("text"), F.lit(self.HOT)),
            ).otherwise(F.col("text")),
        )
        twins = skewed.filter(F.col("doc_id").isin(0, 2)).select(
            (F.col("doc_id") + maxid + 1).alias("doc_id"),
            *[c for c in skewed.columns if c != "doc_id"],
        )
        skewed.unionByName(twins).write.mode("overwrite").parquet(
            str(d / "documents.parquet")
        )
        return str(d)

    def test_registered_x3_on_skewed_bench_corpus(self, spark, bench_skew_dir):
        from wren_engine_spark.queries.registry import QUERIES

        maxid = 4999  # sf0.1 doc_ids are 0..4999; twins are 5000/5002
        out = QUERIES["x3_ngram_jaccard_pairs"](spark, bench_skew_dir)
        pairs = {(r.id_a, r.id_b) for r in out.collect()}
        assert (0, maxid + 1) in pairs and (2, maxid + 3) in pairs
        # balance of the registered default's frequency attach: rebuild
        # the identical stage (broadcast_head) on the same corpus and
        # measure per-task rows — the hot key must NOT pin one task
        docs = spark.read.parquet(f"{bench_skew_dir}/documents.parquet").repartition(32)
        sh = dedup.shingle_arrays(docs, "text", "doc_id", 3).select(
            "doc_id", F.explode("__sh").alias("shingle")
        )
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        head = freq.filter(F.col("__df") > 64).withColumnRenamed("__df", "__hdf")
        attached = sh.join(F.broadcast(head), "shingle", "left")
        sizes = partition_rows(attached)
        med = sizes[len(sizes) // 2]
        assert sizes[-1] <= 3 * med, sizes[-5:]

    def test_registered_x44_on_skewed_bench_corpus(self, spark, bench_skew_dir):
        from wren_engine_spark.queries.registry import QUERIES

        out = QUERIES["x44_repeated_passages"](spark, bench_skew_dir)
        rows = {r.doc_id: r for r in out.collect()}
        assert rows  # completes; twins share >=16-token passages
        assert rows[0].n_shared_positions > 0 and rows[2].n_shared_positions > 0

    @pytest.fixture(scope="class")
    def zipf10x_dir(self, spark, tmp_path_factory):
        """10x the synthetic micro-corpus: 80k docs x 30 tokens, hot
        trigram in 50% of docs, a 16-token hot passage in 30%."""
        d = tmp_path_factory.mktemp("zipf10x")
        rng = random.Random(11)
        passage = " ".join(f"pp{i}" for i in range(16))
        rows = []
        for i in range(80_000):
            toks = [f"w{rng.randrange(5000)}" for _ in range(30)]
            if i % 2 == 0:
                p = rng.randrange(27)
                toks[p : p + 3] = self.HOT.split()
            body = " ".join(toks)
            if i % 10 < 3:
                body = f"{passage} {body}"
            rows.append((i, body))
        spark.createDataFrame(
            rows, "doc_id LONG, text STRING"
        ).repartition(32).write.mode("overwrite").parquet(
            str(d / "documents.parquet")
        )
        return str(d)

    def test_x44_hash_window_balance_at_10x(self, spark, zipf10x_dir):
        """The 62-bit hash-window groupBy at 10x: the distinct
        aggregation's map-side partial dedup bounds the hot window to
        one row per sharing doc per map partition, so the reduce-side
        per-task row counts stay balanced even with 24k docs sharing
        one passage."""
        from wren_engine_spark.operators import text as t

        docs = spark.read.parquet(f"{zipf10x_dir}/documents.parquet")
        out = t.repeated_passages(docs, "text", "doc_id", 16, mode="hash")
        sizes = partition_rows(out)
        med = sizes[len(sizes) // 2]
        assert sizes[-1] <= 3 * med, sizes[-5:]
        got = {r.doc_id: r.n_shared_positions for r in out.collect()}
        # every passage-sharing doc reports shared windows
        assert all(got.get(i, 0) >= 1 for i in range(0, 1000) if i % 10 < 3)

    def test_registered_x47_plan_on_10x_corpus_has_no_raw_shingle_shuffle(
        self, spark, zipf10x_dir
    ):
        from wren_engine_spark.queries.registry import QUERIES

        df = QUERIES["x47_jaccard_pairs_skewproof"](spark, zipf10x_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin [shingle" in plan
        lines = plan.splitlines()
        for i, l in enumerate(lines):
            if "Exchange hashpartitioning(shingle" in l:
                tail = "\n".join(lines[i + 1 : i + 3])
                assert "partial_count" in tail, l.strip()[:120]

    @pytest.fixture(scope="class")
    def hot_excerpt_dir(self, spark, tmp_path_factory):
        """Round-6 x67 soak corpus (r5 verdict item 2): a 12-token
        boilerplate sentence appended to half of 4000 docs (its
        trigrams' doc frequency ~2000 >> hot_df_cap=64), plus three
        PURE-boilerplate excerpt docs whose every shingle is hot —
        the exact shape whose prefix must route through the hot pass."""
        d = tmp_path_factory.mktemp("hot_excerpt")
        rng = random.Random(7)
        boiler = " ".join(f"bp{i}" for i in range(12))
        rows = []
        for i in range(4000):
            toks = [f"w{rng.randrange(8000)}" for _ in range(30)]
            body = " ".join(toks)
            if i % 2 == 0:
                body = f"{body} {boiler}"
            rows.append((i, body))
        for j in range(3):  # pure-hot excerpt docs
            rows.append((4000 + j, boiler))
        spark.createDataFrame(
            rows, "doc_id LONG, text STRING"
        ).repartition(32).write.mode("overwrite").parquet(
            str(d / "documents.parquet")
        )
        return str(d)

    def test_registered_x67_on_hot_excerpt_corpus(self, spark, hot_excerpt_dir):
        """The registered containment entry on a corpus where the
        contained docs' prefixes are ALL hot shingles: every excerpt
        doc must be found inside every boilerplate-carrying container
        (containment 1.0, ~2000 containers each), the hot pass must
        appear in the executed plan as the explicit broadcast join,
        and no raw-shingle-key shuffle may exist."""
        from wren_engine_spark.queries.registry import QUERIES

        out = QUERIES["x67_containment_pairs"](spark, hot_excerpt_dir)
        rows = out.collect()
        per_excerpt = {4000 + j: 0 for j in range(3)}
        for r in rows:
            if r.contained_id in per_excerpt:
                assert r.containment == 1.0
                assert r.container_id % 2 == 0 or r.container_id >= 4000
                per_excerpt[r.contained_id] += 1
        # each excerpt is contained in all 2000 boilerplate docs plus
        # the 2 other excerpts
        assert all(c == 2002 for c in per_excerpt.values()), per_excerpt
        plan = out._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        hot = [
            l for l in lines
            if "BroadcastHashJoin [shingle" in l and "BuildRight" in l
            and "NOT (contained_id" in l
        ]
        assert hot, "hot-prefix broadcast pass missing"
        for i, l in enumerate(lines):
            if "Exchange hashpartitioning(shingle" not in l:
                continue
            ok = False
            for j in range(i + 1, min(i + 16, len(lines))):
                if "Generate explode" in lines[j]:
                    break
                if ("partial_count" in lines[j] or "LeftAnti" in lines[j]
                        or "__rn" in lines[j]):
                    ok = True
                    break
            assert ok, f"raw shingle shuffle: {l.strip()[:120]}"

    def test_registered_x69_on_10x_corpus_balanced(self, spark, zipf10x_dir):
        """Collocation mining on 80k docs with a 50%-frequency planted
        trigram: the hot bigram ('qqhot','qqipf') must dominate c_ab
        while the token-keyed exchanges stay agg-fed (one row per
        distinct bigram per map partition) — measured per-task balance
        of the bigram aggregate, not just the plan shape."""
        from wren_engine_spark.queries.registry import QUERIES

        out = QUERIES["x69_bigram_lift"](spark, zipf10x_dir)
        rows = out.collect()
        assert rows  # completes with the hot token present
        # rebuild the aggregate stage (pre-limit) and measure balance
        docs = spark.read.parquet(f"{zipf10x_dir}/documents.parquet")
        toks = docs.select(
            F.split(F.trim(F.lower(F.col("text"))), r"[ \t\n\x0B\f\r]+").alias("__t")
        )
        bi = (
            toks.filter(F.size("__t") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(__t) - 2), "
                        "i -> struct(__t[i] AS t1, __t[i + 1] AS t2))"
                    )
                ).alias("b")
            )
            .select("b.t1", "b.t2")
            .groupBy("t1", "t2")
            .agg(F.count(F.lit(1)).alias("c_ab"))
        )
        hot = {
            (r.t1, r.t2): r.c_ab
            for r in bi.filter(F.col("t1") == "qqhot").collect()
        }
        assert hot.get(("qqhot", "qqipf"), 0) >= 35_000  # ~40k planted
        sizes = partition_rows(bi)
        med = sizes[len(sizes) // 2]
        assert sizes[-1] <= 3 * max(med, 1), sizes[-5:]

    def test_registered_x70_on_10x_corpus_no_index_shuffle(
        self, spark, zipf10x_dir
    ):
        """The incremental probe at 10x: completes, finds the passage-
        sharing near-dups, and the executed plan still streams the
        index with zero band/val exchanges even with broadcast forced
        off."""
        from wren_engine_spark.queries.registry import QUERIES

        saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            df = QUERIES["x70_incremental_simhash_probe"](spark, zipf10x_dir)
            rows = df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            if saved is None:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            else:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        assert "Exchange hashpartitioning(band" not in plan
        assert "Exchange hashpartitioning(val" not in plan
        assert "BroadcastHashJoin [band" in plan
        assert len(rows) > 0  # passage-sharing docs collide and verify
