"""Evaluation metrics: pairwise precision/recall/F, contingency table,
adjusted Rand index (ref: analysis/PairwiseMetrics.scala,
BinaryConfusionMatrix.scala, ClusteringContingencyTable.scala,
ClusteringMetrics.scala). The reductions are DataFrame aggregations; the
ARI's small contingency table is summed on the driver."""

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


def pairwise_confusion(predicted_pairs: DataFrame, true_pairs: DataFrame) -> ConfusionMatrix:
    """Full-outer join on canonical pairs with presence flags
    (ref: PairwiseMetrics.scala:44-52 + BinaryConfusionMatrix.scala:45-70)."""
    p = predicted_pairs.select("rec1", "rec2", F.lit(True).alias("__pred"))
    t = true_pairs.select("rec1", "rec2", F.lit(True).alias("__true"))
    joined = p.join(t, ["rec1", "rec2"], "full_outer")
    row = joined.agg(
        F.sum(F.when(F.col("__pred") & F.col("__true"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("__pred") & F.col("__true").isNull(), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("__pred").isNull() & F.col("__true"), 1).otherwise(0)).alias("fn"),
    ).collect()[0]
    return ConfusionMatrix(tp=row["tp"] or 0, fp=row["fp"] or 0, fn=row["fn"] or 0)


def contingency_table(pred_membership: DataFrame, true_membership: DataFrame) -> DataFrame:
    """Sparse clustering contingency table via inner join on rec_id
    (ref: ClusteringContingencyTable.scala:56-65, J2)."""
    p = pred_membership.select("rec_id", F.col("ent_id").alias("pred_uid"))
    t = true_membership.select("rec_id", F.col("ent_id").alias("true_uid"))
    return (
        p.join(t, "rec_id")
        .groupBy("pred_uid", "true_uid")
        .agg(F.count("*").alias("n_common"))
    )


def adjusted_rand_index(table: DataFrame) -> float:
    """ARI from the sparse contingency table, collected once through Arrow;
    the three pair counts and the formula run on the driver
    (ref: ClusteringMetrics.scala:42-83, E5). The pair counts are integers
    below 2^53, so their float values are exact."""
    tbl = table.select("pred_uid", "true_uid", "n_common").toArrow()
    n_common = tbl.column("n_common").to_numpy().astype(np.int64)

    def pairs_within(uid: str) -> float:
        """Σ C(c, 2) over the row sums c of one side's clusters."""
        uids, inverse = np.unique(
            tbl.column(uid).to_numpy(zero_copy_only=False), return_inverse=True
        )
        c = np.zeros(len(uids), dtype=np.int64)
        np.add.at(c, inverse, n_common)
        return float(np.sum(c * (c - 1) // 2))

    comb2 = lambda c: (c * (c - 1) / 2)  # noqa: E731
    total = float(np.sum(n_common * (n_common - 1) // 2))
    n = float(np.sum(n_common))
    pred_comb = pairs_within("pred_uid")
    true_comb = pairs_within("true_uid")
    expected = pred_comb * true_comb / comb2(n) if n >= 2 else 0.0
    max_index = (pred_comb + true_comb) / 2.0
    if max_index == expected:
        # Degenerate: both clusterings are all-singletons (or single-cluster)
        # and therefore identical — ARI is 1 by convention (sklearn agrees).
        return 1.0
    return (total - expected) / (max_index - expected)


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
    from dblink_spark.er.analysis import clusters_to_pairwise_links

    return PairwiseMetrics(
        pairwise_confusion(
            clusters_to_pairwise_links(predicted_clusters),
            clusters_to_pairwise_links(true_clusters),
        )
    )


def evaluate_clustering(predicted_clusters: DataFrame, true_clusters: DataFrame) -> float:
    """Adjusted Rand index between two clusterings (ref: E4+E5)."""
    from dblink_spark.er.analysis import clusters_to_membership

    return adjusted_rand_index(
        contingency_table(
            clusters_to_membership(predicted_clusters),
            clusters_to_membership(true_clusters),
        )
    )
