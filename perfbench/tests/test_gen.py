from collections import Counter

import numpy as np

from perfbench import gen


def test_tables_are_seed_deterministic():
    a, b, c = gen.make_tables(7, 0.001), gen.make_tables(7, 0.001), gen.make_tables(8, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(c["orders"])
    assert a["customer"].num_rows == gen.table_sizes(0.001)["customer"]


def test_agent_schedule_texts_unique_and_deterministic():
    a = gen.agent_schedule(5, 300, 0.01)
    assert a == gen.agent_schedule(5, 300, 0.01)
    assert a != gen.agent_schedule(6, 300, 0.01)
    assert len({r.sql for r in a}) == len(a)
    n = gen.AGENT_CYCLE
    for k in range(0, 300 - 2 * n, 2 * n):
        for cycle in (a[k : k + n], a[k + n : k + 2 * n]):
            assert Counter(r.kind for r in cycle) == Counter(gen.AGENT_MIX)
            assert {r.dialect for r in cycle if r.kind == "dry_plan"} == set(gen.AGENT_DIALECTS)
        # flags alternate by cycle: over two cycles, as many cache writes as zones
        executing = [r for r in a[k : k + 2 * n] if r.kind in ("query", "preview")]
        assert sum(r.use_cache for r in executing) == sum(bool(r.timezone) for r in executing) == 5


def test_corpus_same_seed_same_inputs():
    a, b, c = gen.make_corpus(1, 400), gen.make_corpus(1, 400), gen.make_corpus(2, 400)
    assert a.texts == b.texts and a.near_dups == b.near_dups
    assert np.array_equal(a.vectors, b.vectors)
    assert a.texts != c.texts


def test_corpus_ground_truth():
    c = gen.make_corpus(3, 600)
    text = dict(zip(c.doc_ids, c.texts))
    assert len(c.doc_ids) == 600 + round(600 * (gen.NEAR_DUP_FRAC + gen.EXACT_DUP_FRAC))
    assert {w for t in c.texts for w in t.split()} == set(gen.DOC_VOCAB) | {"dup"}
    for copy, src in c.table_dups.items():
        assert text[copy] == text[src] + " dup" and src < copy
    for copy, src in c.near_dups.items():
        assert gen.jaccard(text[copy], text[src]) >= gen._MIN_COPY_JACCARD and src < copy
    for copy, src in c.exact_dups.items():
        assert text[copy] == text[src] and src < copy
    # each source is copied once, so clusters are pairs and the rest singletons
    sources = [*c.table_dups.values(), *c.near_dups.values(), *c.exact_dups.values()]
    assert len(sources) == len(set(sources))
    clusters = c.cluster_of()
    assert len(set(clusters.values())) == len(c.doc_ids) - len(sources)
    assert c.exact_kept() == set(c.doc_ids) - set(c.exact_dups)
    # BM25 queries copy docs with no duplicate anywhere; half are appended later
    q_src = [c.texts.index(q) for q in c.query_texts]
    assert not set(sources) & set(q_src)
    assert 0 < len(set(q_src) & c.held_back) < len(q_src)
    assert not set(c.query_ids) & set(c.doc_ids)


def test_bm25_reference_ranks_by_score_then_id():
    c = gen.Corpus(doc_ids=[0, 1, 2, 3], texts=["a b", "a b", "c d e", "a a a b c"])
    c.query_texts = ["a b", "e"]
    top = gen.bm25_top(c, 3)
    # docs 0 and 1 are identical: the smaller id ranks first
    assert top[0][:2] == [0, 1] and 2 not in top[0]
    assert top[1] == [2]
