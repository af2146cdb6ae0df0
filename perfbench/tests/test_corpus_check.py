from perfbench import gen
from perfbench.workload_corpus import TOPK, check


def _truthful_output(c):
    clusters = c.cluster_of()
    cluster_rows = [(d, k) for d, k in clusters.items()]
    bm25 = gen.bm25_top(c, TOPK)
    return {
        "exact_dedup": [(i, "hash") for i in sorted(c.exact_kept())],
        "duplicate_clusters": list(cluster_rows),
        "scalable_duplicate_clusters": list(cluster_rows),
        "bm25_probe": [(q, d, 1.0, r + 1) for q, top in zip(c.query_ids, bm25)
                       for r, d in enumerate(top)],
        "cosine_topk": [(q, v, 0.99, 1) for q, v in zip(c.vec_query_ids, c.vec_truth)],
    }


def test_ground_truth_output_passes():
    c = gen.make_corpus(5, 400)
    assert check(c, _truthful_output(c)) == []


def test_over_merging_and_under_merging_are_caught():
    c = gen.make_corpus(5, 400)
    out = _truthful_output(c)
    singles = [d for d, k in c.cluster_of().items() if d == k][:2]
    # two unrelated docs merged into one cluster
    out["duplicate_clusters"] = [(d, singles[0] if d == singles[1] else k)
                                 for d, k in out["duplicate_clusters"]]
    # one injected copy split from its source
    copy = next(iter(c.near_dups))
    out["scalable_duplicate_clusters"] = [(d, d if d == copy else k)
                                          for d, k in out["scalable_duplicate_clusters"]]
    assert check(c, out) == ["duplicate_clusters", "scalable_duplicate_clusters"]


def test_exact_dedup_compares_kept_ids_and_rankings_compare_order():
    c = gen.make_corpus(5, 400)
    out = _truthful_output(c)
    kept = sorted(c.exact_kept())
    # same count, wrong member: a verbatim copy kept instead of its source
    copy, src = next(iter(c.exact_dups.items()))
    out["exact_dedup"] = [(copy if i == src else i, "hash") for i in kept]
    first, second = out["bm25_probe"][0], out["bm25_probe"][1]
    out["bm25_probe"][0] = (*first[:3], second[3])
    out["bm25_probe"][1] = (*second[:3], first[3])
    assert check(c, out) == ["exact_dedup", "bm25_probe"]
