"""Set-up in a handful of Spark jobs: the records cache, the initial state
and the adjusted Rand index, pinned by job count and by content.

Job counts come from the status tracker under a job group, the way
test_plan_audit.py pins plan shapes: a phase that grows a per-attribute or
per-aggregation job again fails here. The content pins were computed before
the set-up was batched, so they hold the cache, the state rows and the ARI
bit-identical to the per-attribute build.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from dblink_spark.er.attributes import Attribute, BetaParams, ConstantSim, LevenshteinSim
from dblink_spark.er.cache import build_records_cache
from dblink_spark.er.datagen import make_rldata
from dblink_spark.er.index import build_attribute_index_local
from dblink_spark.er.metrics import evaluate_clustering
from dblink_spark.er.partition import SinglePartition
from dblink_spark.er.state import init_state

N_RECORDS = 400
MAX_CLUSTER = 10


@pytest.fixture(scope="module")
def two_files(spark):
    """Two files, 5% missing values, two Levenshtein and three constant
    attributes."""
    pdf = make_rldata(n_records=N_RECORDS, dup_fraction=0.15, missing_fraction=0.05, seed=3)
    pdf["file_id"] = np.where(pdf["rec_id"].astype(int) % 3 == 0, "A", "B")
    lev = LevenshteinSim(7.0, 10.0)
    attrs = [
        Attribute(a, ConstantSim(), BetaParams(1.0, 99.0)) for a in ("by", "bm", "bd")
    ] + [Attribute(a, lev, BetaParams(1.0, 99.0)) for a in ("fname", "lname")]
    cols = ["rec_id", "file_id"] + [a.name for a in attrs]
    records = spark.createDataFrame(
        pdf[cols].astype(object).where(pdf[cols].notna(), None)
    )
    cache = build_records_cache(records, attrs, MAX_CLUSTER)
    return records, attrs, cache, pdf


@pytest.fixture(scope="module")
def clusterings(spark, two_files):
    """(predicted, true) cluster frames: the prediction splits the last
    record off every true cluster of three or more and leaves record 0 out."""
    _, _, _, pdf = two_files
    true, pred = [], []
    for ent, grp in pdf.groupby("ent_id"):
        ids = [r for r in grp["rec_id"] if r != "0"]
        true.append((ent, list(grp["rec_id"])))
        if len(ids) >= 3:
            pred += [(ent, ids[:-1]), (ent + "x", ids[-1:])]
        elif ids:
            pred.append((ent, ids))
    schema = "ent_id string, cluster array<string>"
    return spark.createDataFrame(pred, schema), spark.createDataFrame(true, schema)


def _state_hashes(state) -> tuple[str, str]:
    """(hash of the cluster rows in a canonical order, hash of the summary,
    θ, seed and driver RNG)."""
    rows = state.df.filter("NOT is_summary").collect()
    rows_h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: (list(r["rec_ids"]), list(r["ent_values"]))):
        rows_h.update(
            repr(
                (
                    r["partition_id"],
                    list(r["ent_values"]),
                    list(r["rec_ids"]),
                    list(r["rec_fids"]),
                    bytes(r["rec_values"]),
                    bytes(r["rec_dist"]),
                )
            ).encode()
        )
    s = state.summary
    summary_h = hashlib.sha256()
    summary_h.update(
        repr((s.num_isolates, state.population_size, state.current_seed)).encode()
    )
    summary_h.update(s.agg_distortions.astype(np.int64).tobytes())
    summary_h.update(s.rec_distortions.astype(np.int64).tobytes())
    summary_h.update(np.asarray(state.theta, np.float64).tobytes())
    summary_h.update(repr(state.rng.bit_generator.state).encode())
    return rows_h.hexdigest()[:16], summary_h.hexdigest()[:16]


def test_setup_phase_job_counts(spark, count_jobs, two_files, clusterings):
    """Warm job counts: the cache is one stacked aggregation plus one
    neighbor-pair job for all attributes, init one checking aggregation,
    one checkpoint and one collect of partial counts, and the ARI one
    shuffle of both memberships by rec_id and one collect of the
    records' cluster ids."""
    records, attrs, cache, _ = two_files
    pred, true = clusterings
    phases = {
        "build_records_cache": lambda: build_records_cache(records, attrs, MAX_CLUSTER),
        "init_state": lambda: init_state(
            spark, records, cache, SinglePartition(), 1, seed=123
        ),
        "evaluate_clustering": lambda: evaluate_clustering(pred, true),
    }
    for fn in phases.values():
        fn()  # warm-up
    counts = {name: count_jobs(fn) for name, fn in phases.items()}
    assert counts == {
        "build_records_cache": 5,
        "init_state": 5,
        "evaluate_clustering": 2,
    }


def test_batched_cache_matches_local_reference(two_files):
    """The one-aggregation cache equals a per-attribute driver-local build:
    domains, probabilities, neighbor lists, normalizations, power
    distributions, file sizes and missing counts."""
    _, attrs, cache, pdf = two_files
    assert cache.file_sizes == pdf.groupby("file_id").size().to_dict()
    assert cache.missing_counts == {
        (fid, a): int(n)
        for fid, grp in pdf.groupby("file_id")
        for a, attr in enumerate(attrs)
        if (n := grp[attr.name].isna().sum())
    }
    for attr, idx in zip(attrs, cache.indexes):
        counts = pdf[attr.name].dropna().value_counts()
        ref = build_attribute_index_local(
            {v: float(c) for v, c in counts.items()},
            attr.sim_fn,
            precache_powers=range(1, MAX_CLUSTER + 1),
        )
        assert idx.values.tolist() == ref.values.tolist()
        assert idx.probs.tolist() == ref.probs.tolist()
        assert idx.is_constant == ref.is_constant
        assert sorted(idx.power_dists) == sorted(ref.power_dists)
        if ref.is_constant:
            continue
        for v in range(ref.num_values):
            assert idx.neighbor_ids[v].tolist() == ref.neighbor_ids[v].tolist()
            # JVM and Python exp may differ in the last ulp
            assert idx.neighbor_expsims[v].tolist() == pytest.approx(
                ref.neighbor_expsims[v].tolist(), rel=1e-14
            )
        assert idx.sim_norms.tolist() == pytest.approx(ref.sim_norms.tolist(), rel=1e-14)
        for k, dist in ref.power_dists.items():
            assert idx.power_dists[k].tolist() == pytest.approx(dist.tolist(), rel=1e-12)


@pytest.mark.parametrize(
    "population,expected",
    [
        (N_RECORDS, ("de24c12518691480", "786a9651ced89f69")),
        (N_RECORDS // 3, ("2ab790099acf8eb4", "85c2a3d8672d08d5")),
        (N_RECORDS + 17, ("a1a8153a17a7c26c", "6b4932d258364587")),
    ],
    ids=["pop_eq_n", "pop_lt_n", "pop_gt_n"],
)
def test_init_state_pinned(spark, two_files, population, expected):
    """State rows and summary of the three init paths (every record its own
    entity, shared entities, extra isolates), pinned bit for bit."""
    records, _, cache, _ = two_files
    state = init_state(
        spark, records, cache, SinglePartition(), 1, seed=123,
        population_size=population,
    )
    assert _state_hashes(state) == expected


def test_ari_pinned(clusterings):
    pred, true = clusterings
    assert repr(evaluate_clustering(pred, true)) == "0.8942279325530701"


def test_init_state_rejects_missing_rec_ids(spark, two_files):
    """A null rec_id gets its own message, not the uniqueness one
    (count_distinct skips nulls)."""
    records, _, cache, _ = two_files
    nulls = records.limit(2).withColumn("rec_id", F.lit(None).cast("string"))
    with pytest.raises(ValueError, match="rec_id is missing on 2 records"):
        init_state(spark, records.union(nulls), cache, SinglePartition(), 1, seed=1)


def test_init_state_rejects_unknown_file_id(spark, two_files):
    records, _, cache, _ = two_files
    other = (
        records.limit(1)
        .withColumn("rec_id", F.lit("new"))
        .withColumn("file_id", F.lit("C"))
    )
    with pytest.raises(ValueError, match="1 records have a file_id outside"):
        init_state(spark, records.union(other), cache, SinglePartition(), 1, seed=1)
