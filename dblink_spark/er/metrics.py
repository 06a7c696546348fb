"""Evaluation metrics: pairwise precision/recall/F and the adjusted Rand
index (ref: analysis/PairwiseMetrics.scala, BinaryConfusionMatrix.scala,
ClusteringContingencyTable.scala, ClusteringMetrics.scala).

Both come from one sparse contingency table of the two clusterings: Spark
pairs each record's cluster ids on the two sides, one Arrow collect brings
them to the driver, and the driver tabulates the cells and sums the pair
counts with the pair-counting identities

- true positives = Σ C(n_ij, 2) over the cells,
- predicted pairs = Σ C(a_i, 2) over the predicted clusters' sizes,
- true pairs = Σ C(b_j, 2) over the true clusters' sizes,

so no record pair is ever materialised. The table joins the two sides on
``rec_id`` as a full outer join: a record present on only one side counts
as a singleton on the other, which gives the same counts as joining the two
sides' within-cluster pairs. The ARI reads the cells present on both sides
(the reference's inner join). Both clusterings must be partitions of their
records; a ``rec_id`` that repeats within one side raises ``ValueError``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame


@dataclass
class ConfusionMatrix:
    tp: int
    fp: int
    fn: int

    @property
    def precision(self) -> float:
        d = self.tp + self.fp
        return self.tp / d if d else float("nan")

    @property
    def recall(self) -> float:
        d = self.tp + self.fn
        return self.tp / d if d else float("nan")

    def f_beta(self, beta: float = 1.0) -> float:
        p, r = self.precision, self.recall
        b2 = beta * beta
        d = b2 * p + r
        return (1 + b2) * p * r / d if d else float("nan")


def _pairs_within(uid: np.ndarray, n: np.ndarray) -> int:
    """Σ C(c, 2) over the cluster sizes c: the cell counts ``n`` summed by
    cluster id ``uid``."""
    uids, inverse = np.unique(uid, return_inverse=True)
    c = np.zeros(len(uids), dtype=np.int64)
    np.add.at(c, inverse, n)
    return int(np.sum(c * (c - 1) // 2))


@dataclass(frozen=True)
class ContingencyTable:
    """The nonzero cells of the contingency table of two clusterings
    (ref: ClusteringContingencyTable.scala:56-65, J2): cluster ids on each
    side, -1 where the cell's records are absent from that side, and the
    number of records in the cell."""

    pred_uid: np.ndarray
    true_uid: np.ndarray
    n_common: np.ndarray

    def confusion(self) -> ConfusionMatrix:
        """Pairwise confusion counts (ref: PairwiseMetrics.scala:44-52 +
        BinaryConfusionMatrix.scala:45-70). Records absent from a side are
        singletons there: they add to the other side's cluster sizes and to
        no true positive."""
        pred, true = self.pred_uid >= 0, self.true_uid >= 0
        both = self.n_common[pred & true]
        tp = int(np.sum(both * (both - 1) // 2))
        predicted = _pairs_within(self.pred_uid[pred], self.n_common[pred])
        actual = _pairs_within(self.true_uid[true], self.n_common[true])
        return ConfusionMatrix(tp=tp, fp=predicted - tp, fn=actual - tp)

    def adjusted_rand_index(self) -> float:
        """ARI over the records present on both sides
        (ref: ClusteringMetrics.scala:42-83, E5). The pair counts are
        integers below 2^53, so their float values are exact."""
        both = (self.pred_uid >= 0) & (self.true_uid >= 0)
        n_common = self.n_common[both]
        comb2 = lambda c: (c * (c - 1) / 2)  # noqa: E731
        total = float(np.sum(n_common * (n_common - 1) // 2))
        n = float(np.sum(n_common))
        pred_comb = float(_pairs_within(self.pred_uid[both], n_common))
        true_comb = float(_pairs_within(self.true_uid[both], n_common))
        expected = pred_comb * true_comb / comb2(n) if n >= 2 else 0.0
        max_index = (pred_comb + true_comb) / 2.0
        if max_index == expected:
            # Degenerate: both clusterings are all-singletons (or single-cluster)
            # and therefore identical — ARI is 1 by convention (sklearn agrees).
            return 1.0
        return (total - expected) / (max_index - expected)


def contingency_table(
    predicted_clusters: DataFrame, true_clusters: DataFrame
) -> ContingencyTable:
    """Build the contingency table of two cluster frames.

    The two memberships meet in one union grouped by ``rec_id``: a full
    outer join on ``rec_id`` in one shuffle, which also counts each record's
    memberships per side. Its rows, a cluster id per side for each record,
    are collected once through Arrow and tabulated into cells on the driver
    (for entity resolution the cells are about as many as the records)."""
    from dblink_spark.er.analysis import clusters_to_membership

    absent = F.lit(None).cast("long")
    p = clusters_to_membership(predicted_clusters).select(
        "rec_id", F.col("ent_id").alias("pred_uid"), absent.alias("true_uid")
    )
    t = clusters_to_membership(true_clusters).select(
        "rec_id", absent.alias("pred_uid"), F.col("ent_id").alias("true_uid")
    )
    tbl = (
        p.unionByName(t)
        .groupBy("rec_id")
        .agg(
            F.coalesce(F.max("pred_uid"), F.lit(-1)).alias("pred_uid"),
            F.coalesce(F.max("true_uid"), F.lit(-1)).alias("true_uid"),
            ((F.count("pred_uid") > 1) | (F.count("true_uid") > 1)).alias("repeated"),
        )
        .drop("rec_id")
        .toArrow()
    )
    repeated = int(np.count_nonzero(tbl.column("repeated").to_numpy(zero_copy_only=False)))
    if repeated:
        raise ValueError(
            f"{repeated} rec_ids appear more than once within one clustering; "
            "both clusterings must be partitions of their records"
        )
    uids = np.stack(
        [tbl.column(c).to_numpy().astype(np.int64) for c in ("pred_uid", "true_uid")], axis=1
    )
    cells, n_common = np.unique(uids, axis=0, return_counts=True)
    return ContingencyTable(cells[:, 0], cells[:, 1], n_common.astype(np.int64))


@dataclass
class PairwiseMetrics:
    confusion: ConfusionMatrix

    @property
    def precision(self) -> float:
        return self.confusion.precision

    @property
    def recall(self) -> float:
        return self.confusion.recall

    @property
    def f1(self) -> float:
        return self.confusion.f_beta(1.0)


def evaluate_pairwise(predicted_clusters: DataFrame, true_clusters: DataFrame) -> PairwiseMetrics:
    """P/R/F1 over within-cluster pairs (ref: PairwiseMetrics.scala:54-63, E3)."""
    return PairwiseMetrics(contingency_table(predicted_clusters, true_clusters).confusion())


def evaluate_clustering(predicted_clusters: DataFrame, true_clusters: DataFrame) -> float:
    """Adjusted Rand index between two clusterings (ref: E4+E5)."""
    return contingency_table(predicted_clusters, true_clusters).adjusted_rand_index()
