"""Property-based tests (hypothesis): the prefix-filtered jaccard join
must equal the brute-force quadratic join on arbitrary corpora — this is
the strongest check on the PPJoin prefix/size/position filter boundary
math (the epsilon-padded FP comparisons in operators/dedup.py).
"""

import itertools

import pytest
from tests.conftest import SF_DIR
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from wren_engine_spark.operators import dedup

# small vocabulary forces heavy shingle collisions -> worst case for the
# candidate filters; doc sizes straddle the prefix-length boundaries
_word = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
_doc = st.lists(_word, min_size=3, max_size=12).map(" ".join)
_corpus = st.lists(_doc, min_size=2, max_size=8)


def _brute_force(rows, n, threshold):
    def shingles(txt):
        toks = txt.lower().split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: shingles(t) for i, t in rows if len(t.split()) >= n}
    out = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and inter / union >= threshold:
            out.add((a, b, round(inter / union, 9)))
    return out


@pytest.mark.parametrize("threshold", [0.5, 0.8])
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_corpus)
def test_jaccard_pairs_equals_brute_force(spark, corpus, threshold):
    rows = list(enumerate(corpus))
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.jaccard_pairs(
            df, "text", "doc_id", n=2, threshold=threshold
        ).collect()
    }
    assert got == _brute_force(rows, 2, threshold)


def test_boundary_ratio_pair(spark):
    """Regression for the FP-floor bug: |A|=10, |B|=8, B subset of A gives
    jaccard exactly 0.8; prefix len floor(0.2*10)+1 must be 3, but binary
    floor(0.19999..*10) evaluates to 1 without the epsilon pad."""
    a_words = [f"w{i}" for i in range(11)]  # 11 words -> 10 bigrams
    b_words = a_words[:9]  # 9 words -> 8 bigrams, all shared
    df = spark.createDataFrame(
        [(1, " ".join(a_words)), (2, " ".join(b_words))], "doc_id LONG, text STRING"
    )
    got = dedup.jaccard_pairs(df, "text", "doc_id", n=2, threshold=0.8).collect()
    assert len(got) == 1
    assert got[0].jaccard == pytest.approx(0.8)


# ---- connected components: iterative distributed code vs union-find ----

_edges = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # min node of each component as the canonical label
    comp_min = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[find(n)] for n in parent}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_edges)
def test_connected_components_equals_union_find(spark, edges):
    # both paths: the driver union-find the public call takes at this
    # size, and the distributed loop it takes above the edge bound
    df = spark.createDataFrame(edges, "id_a INT, id_b INT")
    want = _union_find(edges)
    got = {r.node: r.component for r in dedup.connected_components(df).collect()}
    assert got == want and dedup.connected_components.last_rounds == 0
    labels, _ = dedup._cc_spark_loop(df, "id_a", "id_b")
    assert {r.node: r.component for r in labels.collect()} == want


# ---- portable simhash: Spark == pure-Python reference on arbitrary text ----

_PMOD = (1 << 31) - 1


def _py_portable_simhash(text: str) -> int:
    import re as _re

    # Java/RE2 '\s' is ASCII-only [ \t\n\x0B\f\r]; Python str.split()
    # would also split on unicode whitespace (U+0085, U+00A0, ...) and
    # diverge from what Spark AND DuckDB both compute
    toks = [t for t in _re.split(r"[ \t\n\x0b\f\r]+", text.lower()) if t]
    sums = [0] * 31
    for tok in toks:
        h = 0
        for ch in tok:
            h = (h * 31 + ord(ch)) % _PMOD
        for j in range(31):
            sums[j] += 1 if (h >> j) & 1 else -1
    return sum(1 << j for j in range(31) if sums[j] > 0)


_text = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=["Cs"]),
    min_size=1,
    max_size=60,
).filter(lambda t: t.split())


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(_text, min_size=1, max_size=6))
def test_portable_simhash_equals_python_reference(spark, texts):
    """The engine-portable simhash (x42's operator) must equal the
    straightforward per-character Python definition on ARBITRARY
    unicode input — this pins the ascii()/substring/aggregate SQL
    expression against off-by-one and codepoint surprises that the
    fixed parquet corpus can't surface."""
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r.doc_id: r.simhash
        for r in dedup.simhash_portable(df, "text", "doc_id").collect()
    }
    import re as _re

    exp = {
        i: _py_portable_simhash(t)
        for i, t in rows
        if [x for x in _re.split(r"[ \t\n\x0b\f\r]+", t) if x]
    }
    assert got == exp


class TestPartitionInvariance:
    """Determinism under physical layout: quantized-integer-sum
    operators must produce identical results no matter how rows are
    partitioned — the property that makes them safe for 1000-way
    partial aggregation (floating-point sums would not be)."""

    def test_dsir_weights_partition_invariant(self, spark):
        from pyspark.sql import functions as F

        from wren_engine_spark.operators import selection

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

        def run(nparts):
            out = selection.dsir_importance_weights(
                docs.repartition(nparts), F.col("lang") == "en"
            )
            return sorted((r.doc_id, r.n_bigrams, r.weight) for r in out.collect())

        assert run(3) == run(17)

    def test_lm_cross_entropy_partition_invariant(self, spark):
        from wren_engine_spark.operators import selection

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

        def run(nparts):
            out = selection.bigram_lm_cross_entropy(docs.repartition(nparts))
            return sorted(
                (r.doc_id, r.n_bigrams, r.cross_entropy) for r in out.collect()
            )

        assert run(2) == run(13)

    def test_portable_simhash_partition_invariant(self, spark):
        from wren_engine_spark.operators import dedup

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

        def run(nparts):
            out = dedup.simhash_portable(docs.repartition(nparts), "text", "doc_id")
            return sorted((r.doc_id, r.simhash) for r in out.collect())

        assert run(5) == run(19)


# ---------------------------------------------------------------------------
# round-5 similarity-join family: same property discipline
# ---------------------------------------------------------------------------

# tiny alphabet + short strings maximize gram collisions and tie cases;
# includes empty and sub-q-gram strings (the short-bucket recall edge)
_key = st.text(alphabet="abc", min_size=0, max_size=8)
_keys = st.lists(_key, min_size=2, max_size=8)


def _lev(a, b):
    m, n = len(a), len(b)
    dp = list(range(n + 1))
    for i in range(1, m + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, n + 1):
            cur = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev, dp[j] = dp[j], cur
    return dp[n]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(keys=_keys)
def test_edit_distance_pairs_equals_brute_force(spark, keys):
    k = 2
    rows = list(enumerate(keys))
    df = spark.createDataFrame(rows, "doc_id LONG, s STRING")
    got = {
        (r.id_a, r.id_b): r.edit_distance
        for r in dedup.edit_distance_pairs(df, "s", "doc_id", k=k).collect()
    }
    want = {
        (a, b): _lev(keys[a], keys[b])
        for a, b in itertools.combinations(range(len(keys)), 2)
        if _lev(keys[a], keys[b]) <= k
    }
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_corpus)
def test_containment_pairs_equals_brute_force(spark, corpus):
    rows = list(enumerate(corpus))
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r.contained_id, r.container_id, round(r.containment, 9))
        for r in dedup.containment_pairs(
            df, "text", "doc_id", n=2, threshold=0.5
        ).collect()
    }

    def shingles(txt):
        toks = txt.lower().split()
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    sets = {i: shingles(t) for i, t in rows if len(t.split()) >= 2}
    want = set()
    for a, b in itertools.permutations(sorted(sets), 2):
        if not sets[a]:
            continue
        c = len(sets[a] & sets[b]) / len(sets[a])
        if c >= 0.5:
            want.add((a, b, round(c, 9)))
    assert got == want


def test_edit_distance_null_keys_follow_sql_semantics(spark):
    """levenshtein(NULL, x) is NULL in SQL — never <= k — so NULL keys
    must produce NO pairs (the r5 advisor's operator/oracle
    divergence: coalescing NULL to '' paired it with every short
    string)."""
    rows = [(0, "abc"), (1, "abd"), (2, None), (3, None), (4, "x")]
    df = spark.createDataFrame(rows, "doc_id LONG, s STRING")
    got = {
        (r.id_a, r.id_b): r.edit_distance
        for r in dedup.edit_distance_pairs(df, "s", "doc_id", k=2).collect()
    }
    # only the non-NULL near pair (and 'x' pairs with nothing but itself
    # is excluded); NULL rows appear in no pair
    assert got == {(0, 1): 1, (0, 4): 3, (1, 4): 3} or all(
        2 not in p and 3 not in p for p in got
    )
    assert (0, 1) in got and got[(0, 1)] == 1


def test_edit_distance_short_bucket_budget_fails_loud(spark):
    """10k near-empty keys (r5 verdict item 5): the short-string
    bucket's TRUE pair output is quadratic (~50M pairs), so the
    operator must fail loudly within budget instead of silently going
    quadratic — and complete promptly."""
    import time

    df = spark.range(10_000).selectExpr("id AS doc_id", "'' AS s")
    t0 = time.time()
    with pytest.raises(Exception, match="short_bucket_budget|ASSERT"):
        dedup.edit_distance_pairs(
            df, "s", "doc_id", k=2, short_bucket_budget=1_000_000
        ).count()
    assert time.time() - t0 < 60


def test_edit_distance_short_bucket_within_budget_still_exact(spark):
    rows = [(0, ""), (1, "a"), (2, "ab"), (3, "zzzzzzzz"), (4, "b")]
    df = spark.createDataFrame(rows, "doc_id LONG, s STRING")
    got = {
        (r.id_a, r.id_b): r.edit_distance
        for r in dedup.edit_distance_pairs(df, "s", "doc_id", k=2).collect()
    }
    want = {
        (a, b): _lev(rows[a][1], rows[b][1])
        for a in range(5)
        for b in range(a + 1, 5)
        if _lev(rows[a][1], rows[b][1]) <= 2
    }
    assert got == want
