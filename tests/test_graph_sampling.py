"""Connected-components dedup clustering + deterministic sampling.

Ground truth for components is an in-test union-find over the same
edges (pure Python, no graph library needed), exercised on both
hand-built shapes and randomized graphs.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from archetype_spark.operators import graph, sampling


def _uf_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min id per component, for every node incident to an edge
    touched = {x for e in edges for x in e}
    comp_min = {}
    for x in touched:
        r = find(x)
        comp_min[r] = min(comp_min.get(r, x), x)
    return {x: comp_min[find(x)] for x in touched}


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "doc_id int, other_doc_id int")
    got = graph.connected_components(df).collect()
    return {r["node"]: r["component"] for r in got}


def test_cc_chain_triangle_and_isolated_pair(spark):
    # chain 0-1-2-3, triangle 10-11-12 (with a redundant edge), pair 20-21
    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)]
    assert _cc(spark, edges) == _uf_components(30, edges)


def test_cc_empty_edges(spark):
    df = spark.createDataFrame([], "doc_id int, other_doc_id int")
    assert graph.connected_components(df).count() == 0


def test_cc_randomized_vs_union_find(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]
    assert _cc(spark, edges) == _uf_components(60, edges)


def test_cc_long_chain_needs_diameter_rounds(spark):
    # diameter 12 chain still converges (min ripples one hop per round)
    edges = [(i, i + 1) for i in range(12)]
    got = _cc(spark, edges)
    assert got == {i: 0 for i in range(13)}


def test_cc_raises_past_max_iter_when_asked(spark):
    edges = [(i, i + 1) for i in range(8)]
    df = spark.createDataFrame(edges, "doc_id int, other_doc_id int")
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(df, max_iter=2, on_max_iter="raise")
    with pytest.raises(ValueError, match="on_max_iter"):
        graph.connected_components(df, on_max_iter="explode")


def test_cc_falls_back_to_star_contraction_past_max_iter(spark):
    """A chain with diameter > max_iter must converge anyway via the
    automatic star-contraction fallback, with components identical to
    union-find (r6 VERDICT ask #3: the escape hatch is now code)."""
    edges = [(i, i + 1) for i in range(40)]  # diameter 40 > max_iter 25
    df = spark.createDataFrame(edges, "doc_id int, other_doc_id int")
    got = {r["node"]: r["component"] for r in graph.connected_components(df).collect()}
    assert got == {i: 0 for i in range(41)}


def test_star_contraction_matches_union_find_randomized(spark):
    rng = random.Random(13)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(70)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "doc_id int, other_doc_id int")
    got = {
        r["node"]: r["component"]
        for r in graph.star_contraction_components(df).collect()
    }
    assert got == _uf_components(80, edges)


def test_star_contraction_chain_triangle_pair_and_empty(spark):
    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)]
    df = spark.createDataFrame(edges, "doc_id int, other_doc_id int")
    got = {
        r["node"]: r["component"]
        for r in graph.star_contraction_components(df).collect()
    }
    assert got == _uf_components(30, edges)
    empty = spark.createDataFrame([], "doc_id int, other_doc_id int")
    assert graph.star_contraction_components(empty).count() == 0


def test_dedup_clusters_singletons_and_keepers(spark):
    ids = spark.createDataFrame([(i,) for i in range(6)], "doc_id int")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "doc_id int, other_doc_id int")
    rows = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in graph.dedup_clusters(ids, pairs).collect()
    }
    assert rows == {
        0: (0, True),
        1: (1, True),
        2: (2, True),
        3: (1, False),
        4: (4, True),
        5: (1, False),
    }


def test_keep_best_per_cluster_argmax_and_ties(spark):
    # cluster {1,3,5}: 3 has the best score; cluster {2,4}: tie on
    # score -> min id 2 wins; 0 is a singleton keeper of itself
    scored = spark.createDataFrame(
        [(0, 0.1), (1, 0.5), (2, 0.7), (3, 0.9), (4, 0.7), (5, 0.2)],
        "doc_id int, quality double",
    )
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 4)], "doc_id int, other_doc_id int"
    )
    rows = {
        r["cluster_id"]: (r["keeper_id"], r["quality"], r["n_docs"])
        for r in graph.keep_best_per_cluster(scored, pairs, "quality").collect()
    }
    assert rows == {0: (0, 0.1, 1), 1: (3, 0.9, 3), 2: (2, 0.7, 2)}


def test_keep_best_matches_min_id_policy_when_scores_constant(spark):
    # constant scores degrade to dedup_clusters' min-id keepers
    scored = spark.createDataFrame(
        [(i, 1.0) for i in range(8)], "doc_id int, quality double"
    )
    pairs = spark.createDataFrame(
        [(6, 2), (2, 7), (4, 5)], "doc_id int, other_doc_id int"
    )
    best = {
        r["cluster_id"]: r["keeper_id"]
        for r in graph.keep_best_per_cluster(scored, pairs, "quality").collect()
    }
    minid = {
        r["cluster_id"]: r["doc_id"]
        for r in graph.dedup_clusters(scored, pairs).collect()
        if r["is_keeper"]
    }
    assert best == minid


# ------------------------------------------------------------------ sampling
def test_hash_split_partitioning_independent(spark):
    ids = spark.createDataFrame([(i,) for i in range(500)], "doc_id int")
    a = {
        r["doc_id"]: r["split"]
        for r in sampling.hash_split(ids).collect()
    }
    b = {
        r["doc_id"]: r["split"]
        for r in sampling.hash_split(ids.repartition(17)).collect()
    }
    assert a == b
    frac = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.7 < frac < 0.9  # 16-bit bucket is near-uniform


def test_hash_split_exhaustive_and_validated(spark):
    ids = spark.createDataFrame([(i,) for i in range(100)], "doc_id int")
    out = sampling.hash_split(ids)
    assert out.filter(F.col("split").isNull()).count() == 0
    with pytest.raises(ValueError, match="sum to 100"):
        sampling.hash_split(ids, splits=(("train", 50),))


def test_mixture_sample_per_group_rates(spark):
    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id int, lang string")
    kept = sampling.mixture_sample(df, "lang", {"en": 20})
    by_lang = {
        r["lang"]: r["n"]
        for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert by_lang["de"] == 300  # default 100% untouched
    assert 0.05 < by_lang["en"] / 300 < 0.4  # ~20% of the en half
    # layout-independence: same kept set after a repartition
    a = {r["doc_id"] for r in kept.collect()}
    b = {
        r["doc_id"]
        for r in sampling.mixture_sample(
            df.repartition(13), "lang", {"en": 20}
        ).collect()
    }
    assert a == b
    # kept en rows are exactly the deterministic_sample(20) subset
    en20 = {
        r["doc_id"]
        for r in sampling.deterministic_sample(
            df.filter(F.col("lang") == "en"), percent=20
        ).collect()
    }
    assert {x for x in a if x % 2 == 0} == en20


def test_mixture_sample_validates_rates(spark):
    df = spark.createDataFrame([(1, "en")], "doc_id int, lang string")
    with pytest.raises(ValueError, match="must be in"):
        sampling.mixture_sample(df, "lang", {"en": 120})
    with pytest.raises(ValueError, match="default_pct"):
        sampling.mixture_sample(df, "lang", {}, default_pct=-1)


def test_deterministic_sample_is_subset_stable(spark):
    ids = spark.createDataFrame([(i,) for i in range(400)], "doc_id int")
    s10 = {r["doc_id"] for r in sampling.deterministic_sample(ids, percent=10).collect()}
    s25 = {r["doc_id"] for r in sampling.deterministic_sample(ids, percent=25).collect()}
    assert s10 <= s25  # growing the rate only ADDS rows — nested samples
    assert 0.02 < len(s10) / 400 < 0.25


def test_mixture_resample_copy_counts(spark):
    rows = [(i, "fr" if i % 3 == 0 else "en") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id int, lang string")
    out = sampling.mixture_resample(df, "lang", {"fr": 250, "en": 35})
    counts = {}
    for r in out.collect():
        counts.setdefault(r["doc_id"], []).append(r["dup_idx"])
    # fr docs: 2 or 3 copies with contiguous dup_idx; en: 0 or 1
    fr_sizes, en_sizes = set(), set()
    for i, idxs in counts.items():
        assert sorted(idxs) == list(range(len(idxs)))
        (fr_sizes if i % 3 == 0 else en_sizes).add(len(idxs))
    assert fr_sizes <= {2, 3} and 3 in fr_sizes and 2 in fr_sizes
    assert en_sizes == {1}
    # en membership identical to mixture_sample at the same rate
    en_kept = {i for i in counts if i % 3 != 0}
    ms = {
        r["doc_id"]
        for r in sampling.mixture_sample(
            df.filter(F.col("lang") == "en"), "lang", {"en": 35}
        ).collect()
    }
    assert en_kept == ms
    # rate 100 (default) == exactly one copy of everything
    plain = sampling.mixture_resample(df, "lang", {})
    assert plain.count() == 300
    assert plain.filter(F.col("dup_idx") != 0).count() == 0


def test_mixture_resample_validates(spark):
    df = spark.createDataFrame([(1, "en")], "doc_id int, lang string")
    import pytest as _pt

    with _pt.raises(ValueError, match=">= 0"):
        sampling.mixture_resample(df, "lang", {"en": -5})


def test_deterministic_shuffle_layout_and_seed(spark):
    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id int, lang string")
    a = {
        (r["lang"], r["shuffle_rank"]): r["doc_id"]
        for r in sampling.deterministic_shuffle(df, shard_col="lang", seed=7).collect()
    }
    # layout-independent: same ranks after a repartition
    b = {
        (r["lang"], r["shuffle_rank"]): r["doc_id"]
        for r in sampling.deterministic_shuffle(
            df.repartition(13), shard_col="lang", seed=7
        ).collect()
    }
    assert a == b
    # ranks are a permutation 1..n per shard, and NOT the identity order
    for lang, n in (("en", 100), ("de", 100)):
        ranks = sorted(k[1] for k in a if k[0] == lang)
        assert ranks == list(range(1, n + 1))
    assert [a[("en", r)] for r in range(1, 101)] != sorted(
        a[("en", r)] for r in range(1, 101)
    )
    # a different seed is a different permutation (epoch reshuffle)
    c = {
        (r["lang"], r["shuffle_rank"]): r["doc_id"]
        for r in sampling.deterministic_shuffle(df, shard_col="lang", seed=8).collect()
    }
    assert a != c
    # global mode: sorted by the portable key, no rank column
    g = sampling.deterministic_shuffle(df, seed=7)
    assert "shuffle_rank" not in g.columns
    assert g.count() == 200


def test_temperature_mixture_rates_flatten(spark):
    """alpha=0.5 flattening: over-represented groups get rate < 100,
    under-represented > 100; rates match the hand-derived integer
    formula; emitted total stays ~corpus-sized."""
    from archetype_spark.operators import sampling

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {
        r["lang"]: (r["n_g"], r["rate_pct"])
        for r in sampling.temperature_mixture_rates(df, "lang").collect()
    }
    import math

    w_big = round(math.sqrt(900) * 1000)    # 30000
    w_small = round(math.sqrt(100) * 1000)  # 10000
    sw = w_big + w_small
    assert rates["big"] == (900, (100 * 1000 * w_big) // (sw * 900))
    assert rates["small"] == (100, (100 * 1000 * w_small) // (sw * 100))
    assert rates["big"][1] < 100 < rates["small"][1]
    out = sampling.temperature_resample(df, "lang")
    n = out.count()
    assert abs(n - 1000) < 60, n  # hash fence keeps totals ~N


def test_temperature_resample_broadcasts_rates(spark):
    """The G-row rate table must broadcast back onto the corpus —
    the corpus never shuffles to meet its own mixture stats."""
    from archetype_spark.operators import sampling
    from archetype_spark.plans import formatted_plan

    rows = [(i, "ab"[i % 2] ) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    plan = formatted_plan(sampling.temperature_resample(df, "lang"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_weighted_sample_bias_and_determinism(spark):
    """Inclusion odds track the weight (10x-weight rows dominate an
    equal-split population), zero-weight rows never appear, the draw
    is seed-deterministic, and top-k is a TakeOrdered, not a global
    sort."""
    from archetype_spark.operators import sampling
    from archetype_spark.plans import formatted_plan

    rows = [(i, 1.0 if i < 500 else 0.1) for i in range(1000)] + [
        (1000, 0.0)
    ]
    df = spark.createDataFrame(rows, "doc_id long, weight double")
    out = sampling.weighted_sample(df, "weight", k=200, seed=0).collect()
    assert len(out) == 200
    ids = [r["doc_id"] for r in out]
    assert 1000 not in ids, "zero-weight row sampled"
    heavy = sum(1 for i in ids if i < 500)
    assert heavy > 140, heavy  # ~10x odds -> heavy class dominates
    again = [r["doc_id"] for r in
             sampling.weighted_sample(df, "weight", k=200, seed=0).collect()]
    assert ids == again
    other = [r["doc_id"] for r in
             sampling.weighted_sample(df, "weight", k=200, seed=1).collect()]
    assert ids != other
    plan = formatted_plan(sampling.weighted_sample(df, "weight", k=200))
    assert "TakeOrderedAndProject" in plan, "top-k regressed to global sort"


def test_quality_tiers_exact_vs_approx(spark, sf_dir):
    """The exact NTILE face (the oracle) and the sketch-threshold
    approx face (the 100 TB path) must agree on tier sizes and on
    the vast majority of assignments; disagreements may only sit at
    tier boundaries (adjacent tiers)."""
    from archetype_spark.operators import sampling
    from archetype_spark.tables import load

    d = load(spark, sf_dir, "documents")
    exact = {
        r["doc_id"]: r["tier"]
        for r in sampling.quality_tiers(d, n_tiles=3).collect()
    }
    approx = {
        r["doc_id"]: r["tier"]
        for r in sampling.quality_tiers(d, n_tiles=3, mode="approx").collect()
    }
    assert set(exact) == set(approx)
    agree = sum(1 for k in exact if exact[k] == approx[k]) / len(exact)
    assert agree > 0.9, agree
    assert all(abs(exact[k] - approx[k]) <= 1 for k in exact)
    # every tier is populated in both faces
    assert {1, 2, 3} == set(exact.values()) == set(approx.values())
