"""Posterior analysis over the linkage chain — pure DataFrame ops.

Chain schema (see sampler.py): iteration long, partition_id int,
rec_ids array<string> (one row per non-isolated cluster per sample).

Every operator here is the DataFrame re-expression of an RDD aggregation in
the reference (citations inline); the cluster identity key is the *sorted*
member array, which is deterministic where the reference relied on Set
equality. The sMPC path is aggregations only: a record's most probable
cluster is a ``min_by`` over its clusters' counts, not a window sort, and
the sample count is a lazy scalar subquery, so writing the sMPC runs one
job per shuffle and no eager count.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def most_probable_clusters(chain: DataFrame) -> DataFrame:
    """Per record: the highest posterior-frequency cluster containing it
    (ref: LinkageChain.scala:52-64, G1).

    Returns: rec_id string, cluster array<string> (sorted), freq double.
    Ties break deterministically on the smaller string-cast cluster key.
    ``freq`` divides by the number of samples through a scalar subquery, so
    a plan that does not read ``freq`` (the sMPC) never counts them.
    """
    n_samples = chain.select(F.count_distinct("iteration")).scalar()
    counts = (
        chain.select(F.sort_array("rec_ids").alias("cluster"))
        .groupBy("cluster")
        .agg(F.count("*").alias("n"))
    )
    best = (
        counts.select(F.explode("cluster").alias("rec_id"), "cluster", "n")
        .groupBy("rec_id")
        .agg(
            F.min_by(
                F.struct("cluster", "n"),
                F.struct(-F.col("n"), F.col("cluster").cast("string")),
            ).alias("best")
        )
    )
    return best.select(
        "rec_id", "best.cluster", (F.col("best.n") / n_samples).alias("freq")
    )


def shared_most_probable_clusters(mpc: DataFrame) -> DataFrame:
    """sMPC point estimate (Steorts et al. 2016): group records by their most
    probable cluster, union the record sets (ref: LinkageChain.scala:75-109).

    Returns: cluster array<string> (sorted members).
    """
    return (
        mpc.groupBy("cluster")
        .agg(F.sort_array(F.collect_set("rec_id")).alias("members"))
        .select(F.col("members").alias("cluster"))
    )


def partition_sizes(chain: DataFrame) -> DataFrame:
    """#clusters per (iteration, partition) (ref: LinkageChain.scala:118-128)."""
    return (
        chain.groupBy("iteration", "partition_id")
        .agg(F.count("*").alias("n_clusters"))
    )


def cluster_size_distribution(chain: DataFrame) -> DataFrame:
    """Histogram of cluster sizes per iteration (ref: LinkageChain.scala:137-154)."""
    return (
        chain.select("iteration", F.size("rec_ids").alias("cluster_size"))
        .groupBy("iteration", "cluster_size")
        .agg(F.count("*").alias("n_clusters"))
    )


def save_cluster_size_distribution(dist: DataFrame, path: str) -> None:
    """Driver-pivoted CSV, one row per iteration, one column per size
    (ref: LinkageChain.scala:162-185)."""
    import csv

    rows = dist.collect()
    max_size = max((r["cluster_size"] for r in rows), default=0)
    by_iter: dict[int, dict[int, int]] = {}
    for r in rows:
        by_iter.setdefault(r["iteration"], {})[r["cluster_size"]] = r["n_clusters"]
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["iteration"] + list(range(max_size + 1)))
        for it in sorted(by_iter):
            w.writerow([it] + [by_iter[it].get(k, 0) for k in range(max_size + 1)])


def save_partition_sizes(sizes: DataFrame, path: str) -> None:
    """Driver-pivoted CSV (ref: LinkageChain.scala:193-211)."""
    import csv

    rows = sizes.collect()
    pids = sorted({r["partition_id"] for r in rows})
    by_iter: dict[int, dict[int, int]] = {}
    for r in rows:
        by_iter.setdefault(r["iteration"], {})[r["partition_id"]] = r["n_clusters"]
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["iteration"] + pids)
        for it in sorted(by_iter):
            w.writerow([it] + [by_iter[it].get(p, 0) for p in pids])
