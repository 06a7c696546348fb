"""End-to-end MCMC smoke + invariant tests on synthetic RLdata.

The reference has no kernel unit tests (SURVEY §5); these check the
invariants it relies on implicitly: population size conserved, every record
appears in exactly one cluster, distortion flags consistent with the state
(non-distorted observed values always agree with the entity), and the chain
actually links distorted duplicates (F1 beats the trivial baselines).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from dblink_spark.er.attributes import Attribute, BetaParams, ConstantSim, LevenshteinSim
from dblink_spark.er.cache import build_records_cache
from dblink_spark.er.datagen import make_rldata
from dblink_spark.er.partition import KDTreePartitioner, SinglePartition
from dblink_spark.er.sampler import SamplerOptions, sample
from dblink_spark.er.state import assign_partitions, init_state, transition


@pytest.fixture(scope="module")
def rl_setup(spark):
    pdf = make_rldata(n_records=150, dup_fraction=0.2, missing_fraction=0.02, seed=7)
    records = spark.createDataFrame(pdf).withColumnRenamed("rec_id", "rec_id")
    records = records.withColumn("file_id", records["rec_id"].substr(1, 0))  # ""
    from pyspark.sql import functions as F

    records = records.withColumn("file_id", F.lit("0"))
    attrs = [
        Attribute("by", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("bm", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("bd", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("fname", LevenshteinSim(7.0, 10.0), BetaParams(0.5, 50.0)),
        Attribute("lname", LevenshteinSim(7.0, 10.0), BetaParams(0.5, 50.0)),
    ]
    cache = build_records_cache(records, attrs, expected_max_cluster_size=10)
    return records, attrs, cache, pdf


def _check_invariants(state, n_records, pop):
    rows = state.df.filter("NOT is_summary").collect()
    assert len(rows) == pop, "population size must be conserved"
    all_recs = [r for row in rows for r in row["rec_ids"]]
    assert len(all_recs) == n_records
    assert len(set(all_recs)) == n_records, "records must partition across clusters"
    for row in rows:
        a_dim = len(row["ent_values"])
        vals = np.frombuffer(bytes(row["rec_values"]), dtype="<i4").reshape(-1, a_dim)
        dist = (
            np.frombuffer(bytes(row["rec_dist"]), dtype=np.uint8)
            .reshape(-1, a_dim)
            .astype(bool)
        )
        for vrow, drow in zip(vals, dist):
            for a, (v, d) in enumerate(zip(vrow, drow)):
                if v >= 0 and not d:
                    assert v == row["ent_values"][a], (
                        "non-distorted observed value must equal entity value"
                    )


@pytest.mark.parametrize("mode", ["Gibbs-Sequential", "Gibbs", "PCG-I", "PCG-II"])
def test_transition_invariants(spark, rl_setup, mode):
    records, attrs, cache, pdf = rl_setup
    state = init_state(
        spark, records, cache, SinglePartition(), 1, seed=123,
    )
    n = len(pdf)
    _check_invariants(state, n, n)
    for _ in range(3):
        state = transition(state, mode)
    _check_invariants(state, n, n)
    assert state.iteration == 3
    assert np.isfinite(state.summary.log_likelihood)
    assert state.summary.agg_distortions.sum() >= 0


def test_chain_links_duplicates(spark, rl_setup, tmp_path):
    """After a modest PCG-I run, the sMPC point estimate should recover a
    decent share of the true duplicate pairs with high precision.

    Mixing from the cold start is gradual (the reference runs 1,000
    iterations on RLdata500; this smoke runs 80), so thresholds are loose —
    the point is "the kernel links distorted duplicates", not convergence.
    """
    from dblink_spark.er.chain import most_probable_clusters, shared_most_probable_clusters
    from dblink_spark.er.metrics import evaluate_pairwise
    from dblink_spark.er.analysis import membership_to_clusters
    import pyspark.sql.functions as F

    records, attrs, cache, pdf = rl_setup
    state = init_state(spark, records, cache, SinglePartition(), 1, seed=11)
    out = str(tmp_path / "chain")
    state = sample(
        state,
        sample_size=10,
        options=SamplerOptions(sampler="PCG-I", burnin_interval=30, thinning_interval=5),
        output_path=out,
    )
    chain = state.df.sparkSession.read.parquet(out + "/linkage-chain.parquet")
    assert chain.select("iteration").distinct().count() == 10
    assert state.iteration == 80

    smpc = shared_most_probable_clusters(most_probable_clusters(chain))
    truth = membership_to_clusters(
        spark.createDataFrame(pdf[["rec_id", "ent_id"]]).select(
            "rec_id", F.col("ent_id").alias("ent_id")
        )
    )
    m = evaluate_pairwise(smpc, truth)
    assert m.recall > 0.25, f"recall {m.recall:.2f} too low — kernel is not linking"
    assert m.precision > 0.6, f"precision {m.precision:.2f} too low"


def test_kdtree_partitioned_run(spark, rl_setup):
    """2-partition KD-tree run: same invariants, clusters migrate freely."""
    records, attrs, cache, pdf = rl_setup
    import pyspark.sql.functions as F

    from dblink_spark.er.state import assign_partitions

    state = init_state(spark, records, cache, SinglePartition(), 1, seed=5)
    part = KDTreePartitioner(num_levels=1, attribute_ids=[3])  # split on fname
    part.fit(state.df.filter("NOT is_summary").select("ent_values"))
    assert part.num_partitions == 2
    state = assign_partitions(state, part, 2)
    # the remap must split the state BEFORE the first transition — otherwise
    # iteration 1 runs as one kernel group in a single task
    pids0 = {
        r["partition_id"]
        for r in state.df.filter("NOT is_summary").select("partition_id").distinct().collect()
    }
    assert pids0 == {0, 1}, f"initial state not partitioned: {pids0}"
    for _ in range(3):
        state = transition(state, "PCG-I")
    _check_invariants(state, len(pdf), len(pdf))
    pids = {r["partition_id"] for r in state.df.filter("NOT is_summary").select("partition_id").distinct().collect()}
    assert pids == {0, 1}, f"expected both partitions populated, got {pids}"


def test_simple_partitioner_and_lpt_schedule(spark, rl_setup):
    """The reference's blocking partitioner (K6) and its LPT scheduler (K7)
    have no config route, so this pins them directly. LPT on a hand-checked
    weight vector: heaviest first, each value to the least-loaded bin
    (ties to the lower bin), giving loads 5+3 = 4+3+1 = 8. Then a
    SimplePartitioner fitted on a real state partitions it, and one
    driver-local transition keeps every record in exactly one cluster and
    every cluster in the partition its blocking value maps to."""
    from dblink_spark.er.partition import SimplePartitioner, lpt_schedule
    from dblink_spark.er.state import transition_local

    assert lpt_schedule(
        np.array([10, 20, 30, 40, 50]), np.array([5.0, 4.0, 3.0, 3.0, 1.0]), 2
    ) == {10: 0, 20: 1, 30: 1, 40: 0, 50: 1}

    records, attrs, cache, pdf = rl_setup
    s0 = init_state(spark, records, cache, SinglePartition(), 1, seed=29)
    part = SimplePartitioner(attr_id=0, n_partitions=2)
    part.fit(s0.df.filter("NOT is_summary").select("ent_values"))
    assert set(part.value_to_partition.values()) == {0, 1}

    def pids_follow_blocking(st):
        rows = st.df.filter("NOT is_summary").collect()
        ents = np.array([r["ent_values"] for r in rows])
        assert [r["partition_id"] for r in rows] == part(ents).tolist()
        return {r["partition_id"] for r in rows}

    st = assign_partitions(s0, part, part.num_partitions)
    assert pids_follow_blocking(st) == {0, 1}
    st = transition_local(st, "PCG-I")
    assert st.iteration == 1
    _check_invariants(st, len(pdf), len(pdf))
    pids_follow_blocking(st)


def test_assign_partitions_is_a_fork_not_an_advance(spark, rl_setup):
    """r13 regression: the storage-release that transition() now performs
    must NOT happen at the assign_partitions fork point — callers re-key
    the SAME source state under several partitioners (the bench's
    1/2/4-part sweeps did exactly this and hit
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND when the first fork released s0's
    checkpoint). Both forks from one s0 must run transitions; and the
    buffered chain writer must flush samples whose source states were
    retired iterations ago (append-time decoupling)."""
    records, attrs, cache, pdf = rl_setup
    s0 = init_state(spark, records, cache, SinglePartition(), 1, seed=13)
    part = KDTreePartitioner(num_levels=1, attribute_ids=[3])
    part.fit(s0.df.filter("NOT is_summary").select("ent_values"))
    a = assign_partitions(s0, SinglePartition(), 1)
    a = transition(a, "PCG-I")
    b = assign_partitions(s0, part, 2)  # second fork from the SAME s0
    b = transition(b, "PCG-I")
    _check_invariants(b, len(pdf), len(pdf))

    # buffered writer survives retired source states: 3 samples buffered
    # across 3 transitions, flushed at the end — each sample's producing
    # state was consumed by the next transition before the flush
    import tempfile

    from dblink_spark.er.sampler import linkage_sample
    from dblink_spark.sources.chain import BufferedChainWriter, read_linkage_chain

    out = tempfile.mkdtemp(prefix="chainbuf_")
    w = BufferedChainWriter(out, buffer_size=10)
    s = a
    for _ in range(3):
        w.append(linkage_sample(s))
        s = transition(s, "PCG-I")
    w.flush()
    chain = read_linkage_chain(spark, out)
    assert chain.select("iteration").distinct().count() == 3


def test_iteration_storage_is_bounded(spark, rl_setup):
    """r13: retired state checkpoints must release their STORAGE each
    iteration, not at GC time. DataFrame.unpersist only clears the
    CacheManager entry — the localCheckpoint RDD's blocks leaked one
    cached RDD per iteration (measured ~60 MB/iter on the 1M chain:
    monotone growth, a 1,000-iteration run would pin ~60 GB). After N
    transitions the JVM's cached-RDD count must stay bounded, not grow
    linearly with N."""
    records, attrs, cache, pdf = rl_setup

    def n_cached():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    state = init_state(spark, records, cache, SinglePartition(), 1, seed=7)
    state = transition(state, "PCG-I")
    base = n_cached()
    for _ in range(6):
        state = transition(state, "PCG-I")
    after = n_cached()
    # live state needs ~1 checkpoint; allow slack for unrelated session
    # caches, but 6 iterations must NOT add ~6 RDDs
    assert after - base <= 2, (
        f"cached RDDs grew {base} -> {after} over 6 iterations — "
        "checkpoint storage is leaking again"
    )
    _check_invariants(state, len(pdf), len(pdf))


def test_init_population_smaller_than_records(spark, rl_setup):
    """pop < n_records: round-robin entity sharing over the stable
    (file_id, rec_id) order, computed WITHOUT a global single-task window
    (distributed zipWithIndex). Checks exact assignment, determinism over
    a multi-partition shuffled input, and that the chain runs on it."""
    records, attrs, cache, pdf = rl_setup
    n = len(pdf)
    pop = n // 3
    # feed the init a many-partition, deliberately shuffled input
    shuffled = records.repartition(16)
    state = init_state(spark, shuffled, cache, SinglePartition(), 1, seed=3,
                       population_size=pop)
    _check_invariants(state, n, pop)
    # exact round-robin: rank i in (file_id, rec_id) order -> entity i % pop
    rows = state.df.filter("NOT is_summary").collect()
    order = sorted(pdf["rec_id"].astype(str))
    expect_groups = {}
    for i, rid in enumerate(order):
        expect_groups.setdefault(i % pop, set()).add(rid)
    got_groups = {frozenset(r["rec_ids"]) for r in rows}
    assert got_groups == {frozenset(v) for v in expect_groups.values()}
    # deterministic across invocations
    state2 = init_state(spark, shuffled, cache, SinglePartition(), 1, seed=3,
                        population_size=pop)
    rows2 = state2.df.filter("NOT is_summary").collect()
    key = lambda r: tuple(sorted(r["rec_ids"]))
    for a, b in zip(sorted(rows, key=key), sorted(rows2, key=key)):
        assert a["ent_values"] == b["ent_values"]
        assert sorted(a["rec_ids"]) == sorted(b["rec_ids"])
    # the chain runs on the shared-entity state
    st = transition(state, "PCG-I")
    _check_invariants(st, n, pop)


def test_kernel_row_order_independence(spark, rl_setup):
    """The chain must not depend on the order rows arrive at the kernel
    (shuffle fetch order is not guaranteed across retries/AQE): a random
    permutation of entities AND records must produce a bit-identical chain,
    because run_fused_sweeps canonicalizes on entry."""
    import pyarrow.compute as pc

    from dblink_spark.er.model import PartitionState
    from dblink_spark.er.state import _pa_to_partition_state, run_fused_sweeps

    records, attrs, cache, pdf = rl_setup
    state = init_state(spark, records, cache, SinglePartition(), 1, seed=7)
    tbl = state.df.toArrow()
    ps = _pa_to_partition_state(
        tbl.filter(pc.invert(tbl.column("is_summary"))), cache.num_attributes
    )

    prng = np.random.default_rng(0)
    eperm = prng.permutation(ps.num_entities)
    inv = np.empty_like(eperm)
    inv[eperm] = np.arange(len(eperm))
    rperm = prng.permutation(ps.num_records)
    ps2 = PartitionState(
        entities=ps.entities[eperm],
        rec_ids=ps.rec_ids[rperm],
        rec_fids=ps.rec_fids[rperm],
        rec_values=ps.rec_values[rperm],
        rec_dist=ps.rec_dist[rperm],
        link=inv[ps.link][rperm],
    )
    out1 = run_fused_sweeps(ps, cache, state.theta, "PCG-I", 123, 1, 0, 3)
    out2 = run_fused_sweeps(ps2, cache, state.theta, "PCG-I", 123, 1, 0, 3)
    assert (out1.entities == out2.entities).all()
    assert (out1.rec_ids == out2.rec_ids).all()
    assert (out1.link == out2.link).all()
    assert (out1.rec_values == out2.rec_values).all()
    assert (out1.rec_dist == out2.rec_dist).all()


def test_local_vs_spark_multi_partition(spark, rl_setup):
    """transition_local must produce the SAME chain as the Spark
    transition on a 2-partition KD-tree state: kernels
    canonicalize on entry, seeds are data-keyed, and migration follows the
    same partition function — so cluster content, θ, log-likelihood (2
    terms: IEEE-commutative), and distortion counts match exactly."""
    from dblink_spark.er.state import assign_partitions, transition_local

    records, attrs, cache, pdf = rl_setup

    def mk():
        st = init_state(spark, records, cache, SinglePartition(), 1, seed=17)
        part = KDTreePartitioner(num_levels=1, attribute_ids=[3])
        part.fit(st.df.filter("NOT is_summary").select("ent_values"))
        return assign_partitions(st, part, 2)

    s_loc, s_spk = mk(), mk()
    for _ in range(3):
        s_loc = transition_local(s_loc, "PCG-I")
    for _ in range(3):
        s_spk = transition(s_spk, "PCG-I")

    assert s_loc.iteration == s_spk.iteration == 3
    assert s_loc.current_seed == s_spk.current_seed
    assert (s_loc.theta == s_spk.theta).all()
    assert s_loc.summary.log_likelihood == s_spk.summary.log_likelihood
    assert (s_loc.summary.agg_distortions == s_spk.summary.agg_distortions).all()
    assert s_loc.summary.num_isolates == s_spk.summary.num_isolates

    def links(st):
        rows = st.df.filter("NOT is_summary").collect()
        return sorted(
            (r["partition_id"], r["ent_values"], sorted(r["rec_ids"]))
            for r in rows
        )

    assert links(s_loc) == links(s_spk)
    _check_invariants(s_loc, len(pdf), len(pdf))
    # both partitions still populated after local migration
    pids = {r[0] for r in links(s_loc)}
    assert pids == {0, 1}
    # a local chain can hand back to the Spark path mid-stream
    s_mix = transition(s_loc, "PCG-I")
    s_ref = transition_local(s_spk, "PCG-I")
    assert s_mix.summary.log_likelihood == s_ref.summary.log_likelihood
    assert links(s_mix) == links(s_ref)


def test_fused_local_vs_spark_bit_parity(spark, rl_setup):
    """transition_local(n_sweeps=k) must produce the SAME chain as
    transition(n_sweeps=k) on Spark at p=1: both run run_fused_sweeps with
    identical seeds and θ redraws, so linkage structure, θ,
    log-likelihood, and distortion counts are bit-identical. Guards the
    driver-local fast path against drifting from the distributed kernel."""
    from dblink_spark.er.state import transition_local

    records, attrs, cache, pdf = rl_setup
    s_loc = init_state(spark, records, cache, SinglePartition(), 1, seed=31)
    s_spk = init_state(spark, records, cache, SinglePartition(), 1, seed=31)
    s_loc = transition_local(s_loc, "PCG-I", n_sweeps=4)
    s_loc = transition_local(s_loc, "PCG-I", n_sweeps=3)  # local→local continuation
    s_spk = transition(s_spk, "PCG-I", n_sweeps=4)
    s_spk = transition(s_spk, "PCG-I", n_sweeps=3)

    assert s_loc.iteration == s_spk.iteration == 7
    assert s_loc.current_seed == s_spk.current_seed
    assert (s_loc.theta == s_spk.theta).all()
    assert s_loc.summary.log_likelihood == s_spk.summary.log_likelihood
    assert (s_loc.summary.agg_distortions == s_spk.summary.agg_distortions).all()
    assert s_loc.summary.num_isolates == s_spk.summary.num_isolates

    def links(st):
        rows = st.df.filter("NOT is_summary AND size(rec_ids) > 0").collect()
        return sorted(
            (r["ent_values"], sorted(r["rec_ids"])) for r in rows
        )

    assert links(s_loc) == links(s_spk)
    # lazy DataFrame view materialized from local state must keep invariants
    _check_invariants(s_loc, len(pdf), len(pdf))


def test_init_state_rejects_duplicate_rec_ids(spark, rl_setup):
    """canonicalize_partition_state's determinism requires globally-unique
    rec_id (the reference documents this, Project.scala:39, but never
    enforces it); init_state must fail fast instead of silently running a
    shuffle-order-dependent chain."""
    records, attrs, cache, pdf = rl_setup
    from pyspark.sql import functions as F

    dup = records.limit(1).withColumn("file_id", F.lit("1"))
    with pytest.raises(ValueError, match="globally unique"):
        init_state(
            spark, records.union(dup), cache, SinglePartition(), 1, seed=123
        )


def test_concat_partition_states_empty_raises():
    """Empty input used to hit IndexError via parts[0] before the guard."""
    from dblink_spark.er.model import concat_partition_states

    with pytest.raises(ValueError, match="at least one part"):
        concat_partition_states([])


class TestKernelTaskPlacement:
    """The salted grouping must give every kernel group its own shuffle
    bucket, and the driver-side murmur3 must stay bit-identical to Spark's
    (it predicts where HashPartitioning will place each group)."""

    def test_murmur3_matches_spark_hash(self, spark):
        from pyspark.sql import functions as F

        from dblink_spark.er.state import _murmur3_int

        vals = list(range(16)) + [2**31 - 1, -1, -(2**31)]
        rows = (
            spark.createDataFrame([(v,) for v in vals], "x: int")
            .select("x", F.hash("x").alias("h"))
            .collect()
        )
        assert all(_murmur3_int(r["x"]) == r["h"] for r in rows)

    def test_chained_murmur3_matches_multi_column_hash(self, spark):
        from pyspark.sql import functions as F

        from dblink_spark.er.state import _murmur3_int

        pairs = [(p, s) for p in range(4) for s in range(4)]
        rows = (
            spark.createDataFrame(pairs, "pid: int, salt: int")
            .select("pid", "salt", F.hash("pid", "salt").alias("h"))
            .collect()
        )
        assert all(
            _murmur3_int(r["salt"], seed=_murmur3_int(r["pid"])) == r["h"]
            for r in rows
        )

    @pytest.mark.parametrize("p,m", [(2, 32), (4, 32), (8, 32), (16, 16), (32, 64)])
    def test_kernel_salts_collision_free(self, p, m):
        from dblink_spark.er.state import _kernel_salts, _murmur3_int

        salts = _kernel_salts(p, m)
        assert salts is not None and len(salts) == p
        buckets = [
            _murmur3_int(s, seed=_murmur3_int(pid)) % m
            for pid, s in enumerate(salts)
        ]
        assert len(set(buckets)) == p, "every kernel group needs its own bucket"

    def test_kernel_salts_impossible_when_p_exceeds_m(self):
        from dblink_spark.er.state import _kernel_salts

        assert _kernel_salts(33, 32) is None


def test_consumed_state_raises_named_error(spark, rl_setup):
    """r13 ADVICE: transition() consumes its input past iteration 0 —
    reading or advancing the consumed handle must fail HERE with
    StateConsumedError, not as a raw CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    from deep inside Spark. Roots stay readable (fork-vs-advance rule)."""
    from dblink_spark.er.state import StateConsumedError

    records, attrs, cache, pdf = rl_setup
    s0 = init_state(spark, records, cache, SinglePartition(), 1, seed=21)
    s1 = transition(s0, "PCG-I")
    s2 = transition(s1, "PCG-I")  # consumes s1
    with pytest.raises(StateConsumedError, match="iteration 1"):
        _ = s1.df
    with pytest.raises(StateConsumedError, match="transition"):
        transition(s1, "PCG-I")
    # the chain ROOT is never consumed: both reads must still work
    assert s0.df.filter("NOT is_summary").count() == len(pdf)
    _check_invariants(s2, len(pdf), len(pdf))


def test_salt_expr_cache_keyed_by_live_context(spark):
    """r13 ADVICE: _SALT_EXPR_CACHE entries are py4j-backed Columns owned
    by ONE gateway — an entry built under a dead/replaced SparkContext
    must be rebuilt, not served (it would fail every transition at that
    width with an opaque py4j error)."""
    import weakref

    from pyspark.sql import functions as F

    from dblink_spark.er import state as st

    df = spark.range(16).withColumn(
        "partition_id", (F.col("id") % 4).cast("int")
    )
    out1, keys1 = st._salted_group(df, 4, num_buckets=32)
    assert keys1 == ["partition_id", "__kernel_salt"]
    ent = st._SALT_EXPR_CACHE[(4, 32)]
    assert ent[0]() is spark.sparkContext
    expr1 = ent[1]
    st._salted_group(df, 4, num_buckets=32)
    assert st._SALT_EXPR_CACHE[(4, 32)][1] is expr1, "live-context memo hit"

    class _DeadContext:
        pass

    dead = _DeadContext()
    st._SALT_EXPR_CACHE[(4, 32)] = (weakref.ref(dead), expr1)
    del dead  # the weakref now resolves to None, as after a restart
    out3, keys3 = st._salted_group(df, 4, num_buckets=32)
    ent3 = st._SALT_EXPR_CACHE[(4, 32)]
    assert ent3[0]() is spark.sparkContext, "stale entry must be rebuilt"
    # the rebuilt expression is functional AND delivers the salt property:
    # each pid's (pid, salt) hash lands in its OWN shuffle bucket
    buckets = (
        out3.select(
            F.pmod(F.hash("partition_id", "__kernel_salt"), F.lit(32))
            .alias("b")
        )
        .distinct()
        .count()
    )
    assert buckets == 4


def _chain_hash(state) -> str:
    """Hash of θ, the summary, the iteration and seed, and the sorted
    cluster rows (partition, entity values, linked records)."""
    h = hashlib.sha256()
    h.update(np.asarray(state.theta, np.float64).tobytes())
    s = state.summary
    h.update(
        repr(
            (state.iteration, state.current_seed, s.log_likelihood, s.num_isolates)
        ).encode()
    )
    h.update(s.agg_distortions.astype(np.int64).tobytes())
    h.update(s.rec_distortions.astype(np.int64).tobytes())
    rows = state.df.filter("NOT is_summary").collect()
    for row in sorted(
        (r["partition_id"], list(r["ent_values"]), sorted(r["rec_ids"]))
        for r in rows
    ):
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def _two_partitions(spark, records, cache, seed):
    st = init_state(spark, records, cache, SinglePartition(), 1, seed=seed)
    part = KDTreePartitioner(num_levels=1, attribute_ids=[3])
    part.fit(st.df.filter("NOT is_summary").select("ent_values"))
    return assign_partitions(st, part, 2)


def _driver_p1_4_3(spark, records, cache):
    from dblink_spark.er.state import transition_local

    s = init_state(spark, records, cache, SinglePartition(), 1, seed=31)
    s = transition_local(s, "PCG-I", n_sweeps=4)
    return transition_local(s, "PCG-I", n_sweeps=3)


def _spark_p2_3x_k1(spark, records, cache):
    s = _two_partitions(spark, records, cache, 17)
    for _ in range(3):
        s = transition(s, "PCG-I")
    return s


def _spark_p2_2x_k3(spark, records, cache):
    s = _two_partitions(spark, records, cache, 29)
    for _ in range(2):
        s = transition(s, "PCG-I", n_sweeps=3)
    return s


@pytest.mark.parametrize(
    "chain,expected",
    [
        (_driver_p1_4_3, "3dac0fb8e662f337"),
        (_spark_p2_3x_k1, "ea96ed57333e089f"),
        (_spark_p2_2x_k3, "2dccfa60e0260b9d"),
    ],
    ids=["driver_p1_4_3", "spark_p2_3x_k1", "spark_p2_2x_k3"],
)
def test_chain_pinned(spark, rl_setup, chain, expected):
    """Chains on each executor, pinned bit for bit: a p=1 chain on the
    driver fused as 4 + 3 sweeps (θ redrawn between sweeps), a p=2 Spark
    chain of three one-sweep transitions (the reference cadence), and a
    p=2 Spark chain of two 3-sweep transitions (θ and migration every 3
    sweeps). The pins were computed before the transition entry points
    were merged into `transition` and `transition_local`."""
    records, attrs, cache, pdf = rl_setup
    assert _chain_hash(chain(spark, records, cache)) == expected


def test_multisweep_k3_invariants_and_determinism(spark, rl_setup):
    """k=3 on 2 partitions: population conserved, records partition
    across clusters, iteration/seed advance by k, chains deterministic
    (two identically-seeded runs agree bit-exactly), and the consumed-
    state rule applies to fused transitions too."""
    from dblink_spark.er.state import StateConsumedError, assign_partitions

    records, attrs, cache, pdf = rl_setup

    def mk():
        st = init_state(spark, records, cache, SinglePartition(), 1, seed=29)
        part = KDTreePartitioner(num_levels=1, attribute_ids=[3])
        part.fit(st.df.filter("NOT is_summary").select("ent_values"))
        return assign_partitions(st, part, 2)

    def run():
        s = mk()
        for _ in range(2):
            s = transition(s, "PCG-I", n_sweeps=3)
        return s

    a, b = run(), run()
    assert a.iteration == 6
    assert a.current_seed == mk().current_seed + 6 * 2
    _check_invariants(a, len(pdf), len(pdf))

    def links(st):
        rows = st.df.filter("NOT is_summary").collect()
        return sorted(
            (r["partition_id"], r["ent_values"], sorted(r["rec_ids"]))
            for r in rows
        )

    assert links(a) == links(b), "multisweep chain must be deterministic"
    assert a.summary.log_likelihood == b.summary.log_likelihood

    mid = transition(a, "PCG-I", n_sweeps=2)  # consumes a
    with pytest.raises(StateConsumedError):
        transition(a, "PCG-I", n_sweeps=1)
    _check_invariants(mid, len(pdf), len(pdf))


def test_sampler_multisweep_knob(spark, rl_setup, tmp_path):
    """r14: SamplerOptions.multisweep_k drives the distributed chain k
    sweeps per job without overrunning save points — exact sample count,
    exact saved iterations, invariants intact."""
    from dblink_spark.er.sampler import linkage_sample  # noqa: F401
    from dblink_spark.sources.chain import read_linkage_chain

    records, attrs, cache, pdf = rl_setup
    s0 = init_state(spark, records, cache, SinglePartition(), 1, seed=37)
    part = KDTreePartitioner(num_levels=1, attribute_ids=[3])
    part.fit(s0.df.filter("NOT is_summary").select("ent_values"))
    st = assign_partitions(s0, part, 2)
    out = str(tmp_path / "chain_ms")
    st = sample(
        st,
        sample_size=3,
        options=SamplerOptions(
            sampler="PCG-I", burnin_interval=4, thinning_interval=3,
            multisweep_k=4, local_exec_max_records=0,  # force distributed
        ),
        output_path=out,
    )
    chain = read_linkage_chain(spark, out)
    its = sorted(
        r["iteration"] for r in chain.select("iteration").distinct().collect()
    )
    assert its == [7, 10, 13], its  # burnin 4, thin 3: saves at 7,10,13
    assert st.iteration == 13
    _check_invariants(st, len(pdf), len(pdf))


def test_local_predecessor_stays_readable_after_distributed_advance(
    spark, rl_setup
):
    """r14 review fix: a driver-local (local_parts) state advanced through
    the DISTRIBUTED transition must stay readable — its DataFrame form was
    a lazy Arrow materialization of the numpy state (nothing checkpointed,
    nothing freed), so marking it consumed was a false positive. Only
    states whose checkpoint storage was actually released may raise."""
    from dblink_spark.er.state import assign_partitions, transition_local

    records, attrs, cache, pdf = rl_setup
    s0 = init_state(spark, records, cache, SinglePartition(), 1, seed=41)
    part = KDTreePartitioner(num_levels=1, attribute_ids=[3])
    part.fit(s0.df.filter("NOT is_summary").select("ent_values"))
    s = assign_partitions(s0, part, 2)
    s = transition_local(s, "PCG-I")  # local_parts state, iteration 1
    s = transition_local(s, "PCG-I")  # iteration 2, still local
    mid = s
    s = transition(s, "PCG-I")  # distributed advance through mid
    # mid holds local_parts — the documented 'stays readable' case
    assert mid.df.filter("NOT is_summary").count() == len(pdf)
    _check_invariants(s, len(pdf), len(pdf))


def test_sampler_burnin_only_multisweep(spark, rl_setup, tmp_path):
    """r14: multisweep_burnin_k fuses ONLY the burn-in (no kept sample is
    produced under the relaxed cadence): sweeps never overrun the burn-in
    boundary, the sampling phase runs at reference cadence, and saved
    iterations are exact. Measured on the rl10k reference config: burn-in
    k=8 + sampling k=1 lands F1/ARI 0.772 vs 0.764 all-unfused — kept-
    sample quality preserved while burn-in runs ~8x."""
    from dblink_spark.sources.chain import read_linkage_chain

    records, attrs, cache, pdf = rl_setup
    s0 = init_state(spark, records, cache, SinglePartition(), 1, seed=43)
    part = KDTreePartitioner(num_levels=1, attribute_ids=[3])
    part.fit(s0.df.filter("NOT is_summary").select("ent_values"))
    st = assign_partitions(s0, part, 2)
    out = str(tmp_path / "chain_bms")
    st = sample(
        st,
        sample_size=3,
        options=SamplerOptions(
            sampler="PCG-I", burnin_interval=5, thinning_interval=2,
            multisweep_burnin_k=4, local_exec_max_records=0,
        ),
        output_path=out,
    )
    its = sorted(
        r["iteration"]
        for r in read_linkage_chain(spark, out)
        .select("iteration").distinct().collect()
    )
    assert its == [7, 9, 11], its  # burnin 5, thin 2
    assert st.iteration == 11
    _check_invariants(st, len(pdf), len(pdf))


def test_sampler_multisweep_ignored_on_local_path_warns(
    spark, rl_setup, caplog
):
    """r15 (r14 ADVICE): the driver-local routing takes precedence over the
    multisweep branch — fusion only amortizes the distributed per-job
    floor, so ignoring it there is correct, but it must SAY so: a config
    asking for multisweep_k>1 on a driver-local chain gets a ONE-TIME (per
    configuration, r15 ADVICE: once-guard, not per-call) warning, and the
    chain content is the plain local chain (the setting changed nothing).
    Checked at p = 1 and p = 2: a multi-partition chain under
    local_exec_max_records is told the workaround; a single-partition
    chain always runs driver-local, so its warning gives that reason and
    suggests nothing."""
    import logging as _logging

    from dblink_spark.er import sampler as _sampler_mod

    records, attrs, cache, pdf = rl_setup
    opts = SamplerOptions(
        sampler="PCG-I", burnin_interval=2, thinning_interval=1,
        multisweep_k=4,  # ignored: the chain runs driver-local
    )
    for p in (1, 2):
        st = init_state(spark, records, cache, SinglePartition(), 1, seed=47)
        if p > 1:
            part = KDTreePartitioner(num_levels=1, attribute_ids=[3])
            part.fit(st.df.filter("NOT is_summary").select("ent_values"))
            st = assign_partitions(st, part, p)
        _sampler_mod._MS_IGNORED_WARNED.clear()  # isolate from suite ordering
        caplog.clear()
        with caplog.at_level(_logging.WARNING, logger="dblink_spark.er.sampler"):
            st = sample(st, sample_size=2, options=opts)
        assert st.iteration == 4, p  # burnin 2 + 2 kept at thin 1
        assert st.local_parts is not None, f"p={p} chain must run driver-local"
        msgs = [r.message for r in caplog.records if "multisweep" in r.message]
        assert len(msgs) == 1, (p, msgs)
        if p == 1:
            assert "single-partition" in msgs[0], msgs
            assert "local_exec_max_records" not in msgs[0], msgs
        else:
            assert "local_exec_max_records=0" in msgs[0], msgs
        # r15 ADVICE: a second sample() with the SAME config must not
        # re-warn (repeated short calls previously spammed the log
        # one-per-call)
        caplog.clear()
        with caplog.at_level(_logging.WARNING, logger="dblink_spark.er.sampler"):
            st = sample(st, sample_size=1, options=opts)
        again = [r.message for r in caplog.records if "multisweep" in r.message]
        assert again == [], (p, again)
