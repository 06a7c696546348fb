"""Posterior analysis in a few Spark jobs, pinned by warm job count.

The sMPC path is three aggregations and the write: no eager sample count
and no window sort. Each metric is one contingency table: the truth's own
grouping, one shuffle of both memberships by rec_id and one collect, with
no record pairs built. A path that grows a job again
fails here; the outputs themselves are pinned in test_er_analysis.py.
"""

from __future__ import annotations

import random

import pytest
import pyspark.sql.functions as F

from dblink_spark.er.analysis import membership_to_clusters
from dblink_spark.er.chain import most_probable_clusters, shared_most_probable_clusters
from dblink_spark.er.metrics import evaluate_clustering, evaluate_pairwise
from dblink_spark.sources import read_clusters_csv, read_linkage_chain, write_clusters_csv

N_RECORDS = 600
N_ITERATIONS = 12


@pytest.fixture(scope="module")
def saved_chain(spark, tmp_path_factory):
    """A seeded chain saved as parquet the way the sampler lays it out, and
    the ground-truth membership of its records."""
    rng = random.Random(11)
    ent = [rng.randrange(N_RECORDS // 2) for _ in range(N_RECORDS)]
    rows = []
    for it in range(N_ITERATIONS):
        clusters: dict[int, list[str]] = {}
        for r, e in enumerate(ent):
            key = e if rng.random() < 0.8 else N_RECORDS + r
            clusters.setdefault(key, []).append(str(r))
        rows += [(it, 0, members) for members in clusters.values()]
    out = str(tmp_path_factory.mktemp("analysis-jobs"))
    spark.createDataFrame(
        rows, "iteration: long, partition_id: int, rec_ids: array<string>"
    ).write.parquet(f"{out}/linkage-chain.parquet")
    truth = membership_to_clusters(
        spark.createDataFrame(
            [(str(r), str(e)) for r, e in enumerate(ent)], "rec_id string, ent_id string"
        )
    )
    return out, truth


def test_analysis_job_counts(spark, count_jobs, saved_chain):
    out, truth = saved_chain
    chain = read_linkage_chain(spark, out)

    def smpc(path=f"{out}/smpc-timed.csv"):
        write_clusters_csv(
            shared_most_probable_clusters(most_probable_clusters(chain)), path
        )

    smpc(f"{out}/smpc.csv")
    predicted = read_clusters_csv(spark, f"{out}/smpc.csv")
    phases = {
        "smpc": smpc,
        "evaluate_pairwise": lambda: evaluate_pairwise(predicted, truth),
        "evaluate_clustering": lambda: evaluate_clustering(predicted, truth),
    }
    for fn in phases.values():
        fn()  # warm-up
    counts = {name: count_jobs(fn) for name, fn in phases.items()}
    assert counts["smpc"] <= 4, counts
    assert counts["evaluate_pairwise"] <= 3, counts
    assert counts["evaluate_clustering"] <= 3, counts


def test_freq_reads_sample_count(spark, saved_chain):
    """``freq`` divides by the number of distinct iterations, which the
    lazy subquery counts after the cut-off filter."""
    out, _ = saved_chain
    chain = read_linkage_chain(spark, out, cutoff=N_ITERATIONS - 4)
    freqs = most_probable_clusters(chain).select(
        (F.col("freq") * 4).alias("k")
    ).collect()
    assert len(freqs) == N_RECORDS
    assert {r["k"] for r in freqs} <= {1.0, 2.0, 3.0, 4.0}
