"""Connected components (operators/components.py): known topologies where
the transitive closure is computable by hand — the chain is the adversarial
case for min-label propagation (diameter rounds) that large-star/small-star
collapses in O(log n)."""

from __future__ import annotations

import pyspark.sql.functions as F

from dblink_spark.operators.components import connected_components


def _cc(spark, pairs):
    df = spark.createDataFrame(pairs, "v1 bigint, v2 bigint")
    return {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }


def test_two_cliques(spark):
    k1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    k2 = [(a, b) for a in range(10, 13) for b in range(10, 13) if a < b]
    got = _cc(spark, k1 + k2)
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 12: 10}


def test_long_chain_collapses(spark):
    # 0-1-2-...-63: diameter 63, but star alternation needs ~log2(64) rounds
    chain = [(i, i + 1) for i in range(63)]
    got = _cc(spark, chain)
    assert got == {i: 0 for i in range(64)}


def test_chain_reversed_ids(spark):
    # min node at the FAR end of the chain (worst propagation direction)
    chain = [(i + 1, i) for i in range(63, 0, -1)]
    got = _cc(spark, [(a, b) for a, b in chain])
    assert got == {i: 1 for i in range(1, 65)}


def test_self_loops_and_duplicates_ignored(spark):
    got = _cc(spark, [(5, 5), (1, 2), (2, 1), (1, 2), (7, 7)])
    # pure self-loop nodes contribute no edges -> not emitted
    assert got == {1: 1, 2: 1}


def test_empty_pairs(spark):
    df = spark.createDataFrame([], "v1 bigint, v2 bigint")
    assert connected_components(df).count() == 0


def test_star_and_bridge(spark):
    # hub 100 with leaves, bridged to a triangle through one leaf
    pairs = [(100, x) for x in (101, 102, 103)] + [(103, 7), (7, 8), (8, 9), (9, 7)]
    got = _cc(spark, pairs)
    assert set(got.values()) == {7}
    assert set(got) == {7, 8, 9, 100, 101, 102, 103}


def test_matches_bruteforce_random_graph(spark):
    import random

    rnd = random.Random(13)
    nodes = list(range(200))
    pairs = [(rnd.choice(nodes), rnd.choice(nodes)) for _ in range(150)]
    pairs = [(a, b) for a, b in pairs if a != b]

    # union-find ground truth
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {n for ab in pairs for n in ab}
    truth = {n: find(n) for n in touched}
    assert _cc(spark, pairs) == truth


def test_assume_distinct_parity(spark):
    """r16: ``assume_distinct=True`` (skips the initial canonicalizing
    exchange) must return the identical closure on distinct input — and,
    per the documented correctness margin, even on input that VIOLATES
    the contract (duplicates / self-pairs), since every star round ends
    in its own distinct."""
    import random

    rnd = random.Random(29)
    nodes = list(range(120))
    base = [(rnd.choice(nodes), rnd.choice(nodes)) for _ in range(90)]
    base = [(a, b) for a, b in base if a != b]
    distinct_pairs = sorted(set(base))
    violating = base + base[:17] + [(5, 5), (7, 7)]  # dups + self-pairs

    def run(pairs, assume):
        df = spark.createDataFrame(pairs, "v1 bigint, v2 bigint")
        return {
            r["node"]: r["component"]
            for r in connected_components(
                df, assume_distinct=assume
            ).collect()
        }

    truth = run(distinct_pairs, False)
    assert run(distinct_pairs, True) == truth
    assert run(violating, True) == truth
