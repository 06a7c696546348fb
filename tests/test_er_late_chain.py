"""A late-chain, 2-partition pin that needs no reference data.

The RLdata parity tests skip without the reference's example files, which
left no multi-partition chain with an exact pin. This module runs a seeded
`make_rldata` chain over a 2-partition KD-tree far enough that it reaches
the distorted regime (about a third of all cells distorted, hundreds of
clusters with two or more records) where the link and value kernels do
most of their work, and pins the hash of every iteration's summaries and
of the final state.

It also checks that a `State` is a value: transitions draw θ from a copy
of the state's driver RNG, so sampling twice from one state gives one
chain, and the driver-local and Spark paths forked from one late state
agree.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from dblink_spark.er.attributes import Attribute, BetaParams, ConstantSim, LevenshteinSim
from dblink_spark.er.cache import build_records_cache
from dblink_spark.er.datagen import make_rldata
from dblink_spark.er.partition import KDTreePartitioner, SinglePartition
from dblink_spark.er.sampler import SamplerOptions, sample
from dblink_spark.er.state import (
    assign_partitions,
    init_state,
    transition,
    transition_local,
)
from dblink_spark.sources.chain import read_linkage_chain

N_RECORDS = 1500
SEED = 3
LATE = 100
#: computed with the per-record kernel loops, before they were batched
LATE_CHAIN_SHA256 = "8d9740c6c0a74f7bfbb28c6d33db99988403c2b9988ddbb511d28775e9608762"


@pytest.fixture(scope="module")
def root(spark):
    """Iteration 0 of the chain, re-keyed to a fitted 2-leaf KD-tree."""
    pdf = make_rldata(n_records=N_RECORDS, dup_fraction=0.1, missing_fraction=0.02, seed=SEED)
    records = spark.createDataFrame(
        pdf[["rec_id", "fname", "lname", "by", "bm", "bd"]]
    ).withColumn("file_id", F.lit("0"))
    attrs = [
        Attribute("fname", LevenshteinSim(7.0, 10.0), BetaParams(0.5, 50.0)),
        Attribute("lname", LevenshteinSim(7.0, 10.0), BetaParams(0.5, 50.0)),
        Attribute("by", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("bm", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("bd", ConstantSim(), BetaParams(0.5, 50.0)),
    ]
    cache = build_records_cache(records, attrs, expected_max_cluster_size=10)
    state = init_state(spark, records, cache, SinglePartition(), 1, seed=SEED)
    part = KDTreePartitioner(num_levels=1, attribute_ids=[0])
    part.fit(state.df.filter("NOT is_summary").select("ent_values"))
    return assign_partitions(state, part, 2)


def update_hash(h, state) -> None:
    s = state.summary
    h.update(
        repr(
            (
                state.iteration,
                s.log_likelihood,
                s.num_isolates,
                s.agg_distortions.tolist(),
                s.rec_distortions.tolist(),
                state.theta.tolist(),
            )
        ).encode()
    )


def parts_hash(h, parts) -> None:
    for pid in sorted(parts):
        p = parts[pid]
        for arr in (p.entities, p.rec_ids.astype(str), p.rec_fids, p.rec_values, p.rec_dist, p.link):
            h.update(np.ascontiguousarray(arr).tobytes())


@pytest.fixture(scope="module")
def late(root):
    """(state after LATE driver-local transitions, chain hash)."""
    h = hashlib.sha256()
    state = root
    for _ in range(LATE):
        state = transition_local(state, "PCG-I")
        update_hash(h, state)
    parts_hash(h, state.local_parts)
    return state, h.hexdigest()


def links(state):
    rows = state.df.filter("NOT is_summary").collect()
    return sorted((r["partition_id"], r["ent_values"], sorted(r["rec_ids"])) for r in rows)


def test_late_chain_reaches_the_distorted_regime(late):
    state, _ = late
    parts = state.local_parts
    assert sorted(parts) == [0, 1]
    distorted = sum(int(p.rec_dist.sum()) for p in parts.values())
    multi = sum(
        int((np.bincount(p.link, minlength=p.num_entities) >= 2).sum())
        for p in parts.values()
    )
    assert distorted >= 0.25 * N_RECORDS * 5
    assert multi >= 250


def test_late_chain_hash_is_pinned(late):
    _, digest = late
    assert digest == LATE_CHAIN_SHA256


def test_late_state_forks_agree_on_local_and_spark_paths(late):
    """Two forks of one late state: driver-local and one Spark job per
    iteration. Same θ stream, same kernels, same migration — so links, θ,
    the 2-term log-likelihood and distortion counts match exactly."""
    state, _ = late
    loc, spk = state, state
    for _ in range(2):
        loc = transition_local(loc, "PCG-I")
    for _ in range(2):
        spk = transition(spk, "PCG-I")
    assert loc.iteration == spk.iteration == LATE + 2
    assert (loc.theta == spk.theta).all()
    assert loc.summary.log_likelihood == spk.summary.log_likelihood
    assert (loc.summary.agg_distortions == spk.summary.agg_distortions).all()
    assert loc.summary.num_isolates == spk.summary.num_isolates
    assert links(loc) == links(spk)


def test_sampling_twice_from_one_state_gives_one_chain(spark, root, tmp_path):
    """Transitions must not advance the input state's RNG: two chains from
    one root, on either execution path, are the same chain."""
    out = {}
    for path, opts, n in (
        ("local", SamplerOptions(), 4),
        ("spark", SamplerOptions(local_exec_max_records=0), 2),
    ):
        for run in (0, 1):
            d = str(tmp_path / f"{path}{run}")
            final = sample(root, n, opts, output_path=d)
            chain = sorted(
                tuple(r) for r in read_linkage_chain(spark, d).collect()
            )
            out[path, run] = (final, chain)
    for path in ("local", "spark"):
        (a, chain_a), (b, chain_b) = out[path, 0], out[path, 1]
        assert a.iteration == b.iteration
        assert (a.theta == b.theta).all()
        assert a.summary.log_likelihood == b.summary.log_likelihood
        assert (a.summary.agg_distortions == b.summary.agg_distortions).all()
        assert (a.summary.rec_distortions == b.summary.rec_distortions).all()
        assert a.summary.num_isolates == b.summary.num_isolates
        assert chain_a == chain_b
    assert root.iteration == 0
