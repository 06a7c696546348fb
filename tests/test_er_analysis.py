"""Unit tests for posterior analysis + evaluation metrics (SURVEY.md §2.7-2.9).

Hand-computed goldens — the reference has no unit tests for this layer
(its analysis/* is validated only end-to-end), so these are ours.
"""

from __future__ import annotations

import math

import pytest
import pyspark.sql.functions as F


def _clusters(spark, sets):
    return spark.createDataFrame([(sorted(s),) for s in sets], "cluster: array<string>")


def _grouping(rows):
    """membership rows -> canonical frozenset-of-frozensets."""
    from collections import defaultdict

    g = defaultdict(set)
    for r in rows:
        g[r["ent_id"]].add(r["rec_id"])
    return {frozenset(v) for v in g.values()}


class TestMembership:
    def test_clusters_to_membership_preserves_grouping(self, spark):
        """Regression: the synthetic cluster id must be assigned per cluster,
        not per exploded member (nondeterministic-expr-under-generator bug)."""
        from dblink_spark.er.analysis import clusters_to_membership

        sets = [{"a", "b", "c"}, {"d"}, {"e", "f"}]
        rows = clusters_to_membership(_clusters(spark, sets)).collect()
        assert len(rows) == 6
        assert _grouping(rows) == {frozenset(s) for s in sets}

    def test_membership_round_trip(self, spark):
        from dblink_spark.er.analysis import (
            clusters_to_membership,
            membership_to_clusters,
        )

        sets = [{"r1", "r2"}, {"r3"}, {"r4", "r5", "r6"}]
        back = membership_to_clusters(
            clusters_to_membership(_clusters(spark, sets))
        ).collect()
        assert {frozenset(r["cluster"]) for r in back} == {frozenset(s) for s in sets}


class TestPairwise:
    def test_clusters_to_pairwise_links(self, spark):
        from dblink_spark.er.analysis import clusters_to_pairwise_links

        pairs = clusters_to_pairwise_links(
            _clusters(spark, [{"b", "a", "c"}, {"d"}, {"e", "f"}])
        ).collect()
        got = {(r[0], r[1]) for r in pairs}
        assert got == {("a", "b"), ("a", "c"), ("b", "c"), ("e", "f")}

    def test_canonicalize_dedupes_and_orders(self, spark):
        from dblink_spark.er.analysis import canonicalize_pairwise_links

        df = spark.createDataFrame(
            [("b", "a"), ("a", "b"), ("x", "y")], ["rec1", "rec2"]
        )
        got = {(r[0], r[1]) for r in canonicalize_pairwise_links(df).collect()}
        assert got == {("a", "b"), ("x", "y")}

    def test_evaluate_pairwise_golden(self, spark):
        """pred {a,b,c},{d,e} vs truth {a,b},{c,d},{e}:
        pred pairs = ab,ac,bc,de (4); true pairs = ab,cd (2); TP = {ab} = 1.
        precision 1/4, recall 1/2, F1 = 2·(1/4·1/2)/(3/4) = 1/3."""
        from dblink_spark.er.metrics import evaluate_pairwise

        m = evaluate_pairwise(
            _clusters(spark, [{"a", "b", "c"}, {"d", "e"}]),
            _clusters(spark, [{"a", "b"}, {"c", "d"}, {"e"}]),
        )
        assert m.precision == pytest.approx(0.25)
        assert m.recall == pytest.approx(0.5)
        assert m.f1 == pytest.approx(1 / 3)


def _pair_join_confusion(predicted_clusters, true_clusters):
    """Oracle: the pair join that evaluate_pairwise replaced. Every
    within-cluster pair of each side, full-outer-joined on the canonical
    pair (ref: PairwiseMetrics.scala:44-52 + BinaryConfusionMatrix.scala:45-70).
    Returns (tp, fp, fn)."""
    from dblink_spark.er.analysis import clusters_to_pairwise_links

    p = clusters_to_pairwise_links(predicted_clusters).select(
        "rec1", "rec2", F.lit(True).alias("__pred")
    )
    t = clusters_to_pairwise_links(true_clusters).select(
        "rec1", "rec2", F.lit(True).alias("__true")
    )
    row = (
        p.join(t, ["rec1", "rec2"], "full_outer")
        .agg(
            F.sum(F.when(F.col("__pred") & F.col("__true"), 1).otherwise(0)).alias("tp"),
            F.sum(F.when(F.col("__pred") & F.col("__true").isNull(), 1).otherwise(0)).alias("fp"),
            F.sum(F.when(F.col("__pred").isNull() & F.col("__true"), 1).otherwise(0)).alias("fn"),
        )
        .collect()[0]
    )
    return (row["tp"] or 0, row["fp"] or 0, row["fn"] or 0)


def _random_clusterings(seed, n=300):
    """Two random clusterings of overlapping record sets: about 5% of the
    records appear only in the prediction and 5% only in the truth."""
    import random

    rng = random.Random(seed)
    ids = [f"r{i}" for i in range(n)]

    def clustering(keep):
        sets, cur = [], []
        for r in rng.sample(keep, len(keep)):
            cur.append(r)
            if rng.random() < 0.45:
                sets.append(set(cur))
                cur = []
        return sets + ([set(cur)] if cur else [])

    pred_ids = [r for r in ids if rng.random() > 0.05]
    true_ids = [r for r in ids if r not in pred_ids or rng.random() > 0.05]
    return clustering(pred_ids), clustering(true_ids)


PARITY_CASES = {
    "golden": ([{"a", "b", "c"}, {"d", "e"}], [{"a", "b"}, {"c", "d"}, {"e"}]),
    "prediction_only_records": (
        [{"a", "b", "c"}, {"x", "y"}, {"z"}],
        [{"a", "b"}, {"c"}],
    ),
    "truth_only_records": (
        [{"a", "b"}, {"c"}],
        [{"a", "b", "c"}, {"x", "y"}, {"z"}],
    ),
    "both_sides_missing": ([{"a", "b", "x"}, {"c"}], [{"a", "b", "y"}, {"c", "z"}]),
    "all_singletons": ([{"a"}, {"b"}, {"c"}, {"d"}], [{"a", "b"}, {"c", "d"}]),
    "one_cluster": ([{"a", "b", "c", "d", "e"}], [{"a", "b"}, {"c"}, {"d", "e"}]),
    "empty": ([], []),
    "random": _random_clusterings(7),
}


class TestPairwiseParity:
    """evaluate_pairwise counts pairs from one contingency table; the pair
    join above is its oracle, integer for integer."""

    @pytest.mark.parametrize("case", sorted(PARITY_CASES))
    def test_matches_pair_join(self, spark, case):
        from dblink_spark.er.metrics import evaluate_pairwise

        pred_sets, true_sets = PARITY_CASES[case]
        pred, truth = _clusters(spark, pred_sets), _clusters(spark, true_sets)
        c = evaluate_pairwise(pred, truth).confusion
        assert (c.tp, c.fp, c.fn) == _pair_join_confusion(pred, truth)

    def test_all_singletons_precision_nan(self, spark):
        from dblink_spark.er.metrics import evaluate_pairwise

        pred_sets, true_sets = PARITY_CASES["all_singletons"]
        m = evaluate_pairwise(_clusters(spark, pred_sets), _clusters(spark, true_sets))
        assert (m.confusion.tp, m.confusion.fp, m.confusion.fn) == (0, 0, 2)
        assert math.isnan(m.precision)
        assert m.recall == 0.0

    @pytest.mark.parametrize(
        "pred,truth",
        [
            ([["a", "b"], ["b", "c"]], [["a"], ["b"], ["c"]]),
            ([["a"], ["b"], ["c"]], [["a", "b", "c"], ["c"]]),
            ([["a", "a"], ["b"]], [["a", "b"]]),
        ],
        ids=["prediction", "truth", "within_cluster"],
    )
    def test_repeated_rec_id_raises(self, spark, pred, truth):
        from dblink_spark.er.metrics import evaluate_clustering, evaluate_pairwise

        schema = "cluster: array<string>"
        p = spark.createDataFrame([(c,) for c in pred], schema)
        t = spark.createDataFrame([(c,) for c in truth], schema)
        with pytest.raises(ValueError, match="partition"):
            evaluate_pairwise(p, t)
        with pytest.raises(ValueError, match="partition"):
            evaluate_clustering(p, t)


class TestARI:
    def test_perfect_agreement(self, spark):
        from dblink_spark.er.metrics import evaluate_clustering

        sets = [{"a", "b"}, {"c", "d", "e"}, {"f"}]
        assert evaluate_clustering(
            _clusters(spark, sets), _clusters(spark, sets)
        ) == pytest.approx(1.0)

    def test_known_value(self, spark):
        """pred {0,1},{2,3,4,5} vs truth {0,1,2},{3,4,5}: contingency
        [[2,0],[1,3]] → index=4, expected=7*6/15=2.8, max=6.5 →
        ARI = 1.2/3.7 = 0.324324... (matches sklearn's
        adjusted_rand_score([0,0,1,1,1,1],[0,0,0,1,1,1]))."""
        from dblink_spark.er.metrics import evaluate_clustering

        pred = _clusters(spark, [{"0", "1"}, {"2", "3", "4", "5"}])
        truth = _clusters(spark, [{"0", "1", "2"}, {"3", "4", "5"}])
        assert evaluate_clustering(pred, truth) == pytest.approx(0.32432432, abs=1e-6)

    def test_all_singletons_both(self, spark):
        from dblink_spark.er.metrics import evaluate_clustering

        sets = [{"a"}, {"b"}, {"c"}]
        assert evaluate_clustering(
            _clusters(spark, sets), _clusters(spark, sets)
        ) == pytest.approx(1.0)

    def test_independent_clusterings_near_zero(self, spark):
        from dblink_spark.er.metrics import evaluate_clustering

        pred = _clusters(spark, [{"a", "b"}, {"c", "d"}])
        truth = _clusters(spark, [{"a", "c"}, {"b", "d"}])
        # contingency [[1,1],[1,1]]: index=0, expected=2*2/6, max=2 → -0.5
        ari = evaluate_clustering(pred, truth)
        assert ari == pytest.approx(-0.5, abs=1e-9)


class TestBaselines:
    def test_exact_match_clusters(self, spark):
        from dblink_spark.er.analysis import exact_match_clusters

        df = spark.createDataFrame(
            [
                ("r1", "ANN", "SMITH"),
                ("r2", "ANN", "SMITH"),
                ("r3", "BOB", "SMITH"),
            ],
            ["rec_id", "fname", "lname"],
        )
        got = {
            frozenset(r["cluster"])
            for r in exact_match_clusters(df, ["fname", "lname"]).collect()
        }
        assert got == {frozenset({"r1", "r2"}), frozenset({"r3"})}

    def test_near_match_clusters_one_disagreement(self, spark):
        from dblink_spark.er.analysis import near_match_clusters

        df = spark.createDataFrame(
            [
                ("r1", "ANN", "SMITH", "1970"),
                ("r2", "ANN", "SMYTH", "1970"),  # lname differs only
                ("r3", "BOB", "JONES", "1980"),
            ],
            ["rec_id", "fname", "lname", "by"],
        )
        clusters = {
            frozenset(r["cluster"])
            for r in near_match_clusters(
                df, ["fname", "lname", "by"], num_disagree=1
            ).collect()
        }
        # some blocking drops lname → r1,r2 co-clustered
        assert frozenset({"r1", "r2"}) in clusters
        # r3 never joins them
        assert not any("r3" in c and len(c) > 1 for c in clusters)


class TestChainAnalysis:
    @pytest.fixture(scope="class")
    def chain(self, spark):
        """3 iterations over records a..d: {a,b} appears in 2/3 samples."""
        rows = [
            (1, 0, ["a", "b"]), (1, 0, ["c"]), (1, 1, ["d"]),
            (2, 0, ["a", "b"]), (2, 0, ["c"]), (2, 1, ["d"]),
            (3, 0, ["a"]), (3, 0, ["b", "c"]), (3, 1, ["d"]),
        ]
        return spark.createDataFrame(
            rows, "iteration: long, partition_id: int, rec_ids: array<string>"
        )

    def test_most_probable_clusters(self, spark, chain):
        from dblink_spark.er.chain import most_probable_clusters

        mpc = {r["rec_id"]: r for r in most_probable_clusters(chain).collect()}
        assert set(mpc) == {"a", "b", "c", "d"}
        assert sorted(mpc["a"]["cluster"]) == ["a", "b"]
        assert mpc["a"]["freq"] == pytest.approx(2 / 3)
        assert mpc["d"]["freq"] == pytest.approx(1.0)

    def test_most_probable_clusters_tie_break(self, spark):
        """Equal frequencies: the smaller string-cast cluster key wins. In
        string order "[a, b, c]" sorts before "[a, b]" (',' < ']'), the
        reverse of array order, so this pins the cast."""
        from dblink_spark.er.chain import (
            most_probable_clusters,
            shared_most_probable_clusters,
        )

        rows = [
            (1, 0, ["a", "b"]), (1, 0, ["c"]), (1, 0, ["d", "e"]), (1, 0, ["f"]),
            (2, 0, ["a", "b", "c"]), (2, 0, ["d", "f"]), (2, 0, ["e"]),
        ]
        chain = spark.createDataFrame(
            rows, "iteration: long, partition_id: int, rec_ids: array<string>"
        )
        mpc = {r["rec_id"]: r for r in most_probable_clusters(chain).collect()}
        assert {k: list(r["cluster"]) for k, r in mpc.items()} == {
            "a": ["a", "b", "c"],
            "b": ["a", "b", "c"],
            "c": ["a", "b", "c"],
            "d": ["d", "e"],
            "e": ["d", "e"],
            "f": ["d", "f"],
        }
        assert {r["freq"] for r in mpc.values()} == {0.5}
        smpc = {
            tuple(r["cluster"])
            for r in shared_most_probable_clusters(most_probable_clusters(chain)).collect()
        }
        assert smpc == {("a", "b", "c"), ("d", "e"), ("f",)}

    def test_shared_most_probable_clusters(self, spark, chain):
        from dblink_spark.er.chain import (
            most_probable_clusters,
            shared_most_probable_clusters,
        )

        smpc = {
            frozenset(r["cluster"])
            for r in shared_most_probable_clusters(
                most_probable_clusters(chain)
            ).collect()
        }
        assert frozenset({"a", "b"}) in smpc
        assert frozenset({"d"}) in smpc

    def test_partition_sizes(self, spark, chain):
        from dblink_spark.er.chain import partition_sizes

        rows = partition_sizes(chain).collect()
        got = {(r["iteration"], r["partition_id"]): r["n_clusters"] for r in rows}
        assert got[(1, 0)] == 2 and got[(1, 1)] == 1

    def test_cluster_size_distribution(self, spark, chain):
        from dblink_spark.er.chain import cluster_size_distribution

        rows = cluster_size_distribution(chain).collect()
        got = {(r["iteration"], r["cluster_size"]): r["n_clusters"] for r in rows}
        assert got[(1, 2)] == 1  # one 2-cluster at iteration 1
        assert got[(3, 1)] == 2  # a and d singletons at iteration 3
