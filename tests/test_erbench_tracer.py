"""The ER benchmark's tracer (``erbench/layers.py``) must keep seeing the
sampler's transitions.

``layers.instrumented`` replaces ``er.sampler.transition`` with a wrapper of
fixed signature ``(state, mode, phase_sink=None)`` and wraps
``er.sampler.transition_local`` and ``er.state.transition_partition`` by
name. A sampler that passed the wrapper a keyword it rejects, or called the
transitions through other names, would break the benchmark's traced run or
leave its per-layer counts at 0; this runs a short chain on each executor
under the wrappers and counts the spans.
"""

from __future__ import annotations

import os
import sys

import pytest

ERBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "erbench"
)
sys.path.insert(0, ERBENCH)

import layers  # noqa: E402
from measure import Tracer  # noqa: E402

from dblink_spark.er.attributes import Attribute, BetaParams, ConstantSim, LevenshteinSim  # noqa: E402
from dblink_spark.er.cache import build_records_cache  # noqa: E402
from dblink_spark.er.datagen import make_rldata  # noqa: E402
from dblink_spark.er.partition import KDTreePartitioner, SinglePartition  # noqa: E402
from dblink_spark.er.sampler import SamplerOptions, sample  # noqa: E402
from dblink_spark.er.state import assign_partitions, init_state  # noqa: E402

ITERATIONS = 3
PARTITIONS = 2


@pytest.fixture(scope="module")
def root_state(spark):
    import pyspark.sql.functions as F

    pdf = make_rldata(n_records=100, dup_fraction=0.2, missing_fraction=0.02, seed=5)
    records = spark.createDataFrame(pdf).withColumn("file_id", F.lit("0"))
    attrs = [
        Attribute("by", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("bm", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("fname", LevenshteinSim(7.0, 10.0), BetaParams(0.5, 50.0)),
        Attribute("lname", LevenshteinSim(7.0, 10.0), BetaParams(0.5, 50.0)),
    ]
    cache = build_records_cache(records, attrs, expected_max_cluster_size=10)
    s0 = init_state(spark, records, cache, SinglePartition(), 1, seed=3)
    part = KDTreePartitioner(num_levels=1, attribute_ids=[2])
    part.fit(s0.df.filter("NOT is_summary").select("ent_values"))
    assert part.num_partitions == PARTITIONS
    return s0, part


@pytest.mark.parametrize(
    "local_exec_max_records,spark_calls,driver_calls,kernel_calls",
    [
        # on Spark the kernels run in the Python workers, out of sight
        (0, ITERATIONS, 0, 0),
        (
            SamplerOptions.local_exec_max_records,
            0,
            ITERATIONS,
            ITERATIONS * PARTITIONS,
        ),
    ],
    ids=["spark", "driver"],
)
def test_traced_sample_counts_transitions(
    root_state, local_exec_max_records, spark_calls, driver_calls, kernel_calls
):
    s0, part = root_state
    state = assign_partitions(s0, part, PARTITIONS)
    tracer = Tracer()
    with layers.instrumented(tracer):
        out = sample(
            state,
            sample_size=ITERATIONS,
            options=SamplerOptions(local_exec_max_records=local_exec_max_records),
        )
    assert out.iteration == ITERATIONS
    calls = {
        name: len(tracer.named(name))
        for name in (
            "er.state.transition",
            "er.state.transition_local",
            "er.model.transition_partition",
        )
    }
    assert calls == {
        "er.state.transition": spark_calls,
        "er.state.transition_local": driver_calls,
        "er.model.transition_partition": kernel_calls,
    }
