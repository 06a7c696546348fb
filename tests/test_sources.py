"""Sources/sinks: CSV scan semantics, clusters CSV round-trip, buffered
chain writes, and bit-exact state save/resume (SURVEY §2.1 S1-S11)."""

from __future__ import annotations

import os

import pyarrow as pa

import pyspark.sql.functions as F
import pytest

from dblink_spark.er.attributes import Attribute, BetaParams, ConstantSim, LevenshteinSim
from dblink_spark.er.cache import build_records_cache
from dblink_spark.er.datagen import make_rldata
from dblink_spark.er.partition import SinglePartition
from dblink_spark.er.sampler import SamplerOptions, sample
from dblink_spark.er.state import init_state
from dblink_spark.sources import (
    BufferedChainWriter,
    copy_files,
    load_state,
    read_clusters_csv,
    read_linkage_chain,
    read_records_csv,
    save_state,
    write_clusters_csv,
)


def test_read_records_csv_semantics(spark, tmp_path):
    """Header + all-strings + nullValue + DROPMALFORMED (ref: Project.scala:173-180)."""
    p = tmp_path / "in.csv"
    p.write_text(
        "id,src,name,year\n"
        "r1,A,alice,1990\n"
        "r2,A,NA,1991\n"          # NA -> null via nullValue
        "r3,B,carol,1992,EXTRA\n"  # malformed: extra column -> dropped
        "r4,B,dave,NA\n"
    )
    df = read_records_csv(
        spark, str(p), record_id_col="id", matching_cols=["name", "year"],
        file_id_col="src", null_value="NA",
    )
    assert df.columns == ["rec_id", "file_id", "name", "year"]
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string"] * 4
    rows = {r["rec_id"]: r for r in df.collect()}
    assert set(rows) == {"r1", "r2", "r4"}, "malformed row must be dropped"
    assert rows["r2"]["name"] is None
    assert rows["r4"]["year"] is None

    # no file column -> constant "0" file id (single-file dedup mode)
    df2 = read_records_csv(spark, str(p), record_id_col="id", matching_cols=["name"])
    assert df2.select("file_id").distinct().collect()[0][0] == "0"


def test_clusters_csv_roundtrip(spark, tmp_path):
    clusters = spark.createDataFrame(
        [(["r1", "r2"],), (["r3"],), (["r4", "r5", "r6"],)], "cluster array<string>"
    )
    out = str(tmp_path / "clusters")
    write_clusters_csv(clusters, out)
    back = read_clusters_csv(spark, out)
    got = sorted(tuple(r["cluster"]) for r in back.collect())
    assert got == [("r1", "r2"), ("r3",), ("r4", "r5", "r6")]


def test_buffered_chain_writer(spark, tmp_path):
    w = BufferedChainWriter(str(tmp_path), buffer_size=3)
    mk = lambda it: spark.createDataFrame(  # noqa: E731
        [(it, 0, ["a", "b"])], "iteration long, partition_id int, rec_ids array<string>"
    )
    for it in range(5):
        w.append(mk(it))
    w.flush()
    chain = read_linkage_chain(spark, str(tmp_path))
    assert chain.count() == 5
    # cutoff filter pushes to the scan
    assert read_linkage_chain(spark, str(tmp_path), cutoff=3).count() == 2
    plan = read_linkage_chain(spark, str(tmp_path), cutoff=3)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(iteration), GreaterThanOrEqual(iteration,3)" in plan


def test_chain_flush_is_crash_safe(spark, tmp_path, monkeypatch):
    """A flush that dies while writing its part file leaves the chain as
    the earlier flushes wrote it: the part is written under a hidden name
    and renamed into place only once complete."""
    import pyarrow.parquet as pq

    def sample(it):
        return pa.table(
            {
                "iteration": pa.array([it], pa.int64()),
                "partition_id": pa.array([0], pa.int32()),
                "rec_ids": pa.array([["a", "b"]], pa.list_(pa.string())),
            }
        )

    w = BufferedChainWriter(str(tmp_path), buffer_size=2)
    for it in range(4):
        w.append(sample(it))  # two complete flushes
    real = pq.write_table

    def torn(table, where, **kw):
        real(table, where, **kw)
        with open(where, "r+b") as f:
            f.truncate(os.path.getsize(where) // 2)
        raise OSError("killed mid-write")

    monkeypatch.setattr(pq, "write_table", torn)
    w.append(sample(4))
    with pytest.raises(OSError, match="killed mid-write"):
        w.append(sample(5))
    its = sorted(
        r["iteration"] for r in read_linkage_chain(spark, str(tmp_path)).collect()
    )
    assert its == [0, 1, 2, 3]


def test_copy_files(spark, tmp_path):
    src = tmp_path / "a.txt"
    src.write_text("hello")
    d = tmp_path / "dest"
    (out,) = copy_files(spark, [str(src)], str(d))
    assert open(out).read() == "hello"


def test_copy_files_overwrite_false_errors_on_existing(spark, tmp_path):
    """r16: overwrite=False matches the reference's documented default
    (docs/configuration.md:372-375) and the Hadoop FileUtil contract —
    an existing destination is an ERROR, not a silent clobber."""
    src = tmp_path / "a.txt"
    src.write_text("new")
    d = tmp_path / "dest"
    d.mkdir()
    (d / "a.txt").write_text("old")
    with pytest.raises(FileExistsError):
        copy_files(spark, [str(src)], str(d), overwrite=False)
    assert (d / "a.txt").read_text() == "old"
    (out,) = copy_files(spark, [str(src)], str(d), overwrite=True)
    assert open(out).read() == "new"


def test_copy_files_step_delete_source(spark, tmp_path):
    """r16: the copy-files step accepts the reference's documented
    ``overwrite`` / ``deleteSource`` params (ProjectStep.scala:157-179,
    docs/configuration.md:372-381; both default false)."""
    from dblink_spark.project import Project

    out_dir = tmp_path / "out"
    out_dir.mkdir()
    (out_dir / "run.txt").write_text("prov")
    dest = tmp_path / "archive"
    p = Project(
        spark=spark, data_path="unused", record_id_col="rec_id",
        matching_attrs=[], attr_names=[], file_id_col=None,
        entity_id_col=None, null_value=None, random_seed=1,
        expected_max_cluster_size=10, population_size=None,
        partitioner_cfg={}, output_path=str(out_dir), checkpoint_path=None,
    )
    res = p._step_copy_files(
        {"fileNames": ["run.txt"], "destinationPath": str(dest),
         "deleteSource": True}
    )
    assert res["copied"] and (dest / "run.txt").read_text() == "prov"
    assert not (out_dir / "run.txt").exists()


@pytest.fixture(scope="module")
def small_er(spark):
    pdf = make_rldata(n_records=60, dup_fraction=0.2, missing_fraction=0.02, seed=3)
    records = spark.createDataFrame(pdf).withColumn("file_id", F.lit("0"))
    attrs = [
        Attribute("by", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("bm", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("bd", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("fname", LevenshteinSim(7.0, 10.0), BetaParams(0.5, 50.0)),
        Attribute("lname", LevenshteinSim(7.0, 10.0), BetaParams(0.5, 50.0)),
    ]
    cache = build_records_cache(records, attrs, expected_max_cluster_size=10)
    return records, cache


def _linkage_set(state):
    rows = state.df.filter("NOT is_summary AND size(rec_ids) > 0").collect()
    return sorted(tuple(sorted(r["rec_ids"])) for r in rows)


def test_state_save_resume_bit_exact(spark, small_er, tmp_path):
    """save -> load -> k more iterations == k+j uninterrupted iterations.

    Driver RNG, kernel seeds, and θ all restore exactly (S4/S5 contract:
    ref State.scala:122-193 round-trips the same driver scalars)."""
    records, cache = small_er

    # uninterrupted: 6 iterations
    s_ref = init_state(spark, records, cache, SinglePartition(), 1, seed=99)
    s_ref = sample(s_ref, sample_size=6, options=SamplerOptions(sampler="PCG-I"))

    # interrupted: 3 iterations, save, load, 3 more
    s_a = init_state(spark, records, cache, SinglePartition(), 1, seed=99)
    s_a = sample(s_a, sample_size=3, options=SamplerOptions(sampler="PCG-I"))
    save_state(s_a, str(tmp_path / "ckpt"))
    s_b = load_state(spark, str(tmp_path / "ckpt"))
    assert s_b.iteration == 3
    assert (s_b.theta == s_a.theta).all()
    s_b = sample(s_b, sample_size=3, options=SamplerOptions(sampler="PCG-I"))

    assert s_b.iteration == s_ref.iteration == 6
    assert _linkage_set(s_b) == _linkage_set(s_ref)
    assert s_b.summary.log_likelihood == pytest.approx(
        s_ref.summary.log_likelihood, rel=0, abs=0
    ), "resume must be bit-exact"
    assert (s_b.summary.agg_distortions == s_ref.summary.agg_distortions).all()


def test_state_format_version_fails_fast(spark, small_er, tmp_path):
    """A checkpoint from an incompatible build must fail at load with an
    explicit format error, not deep inside np.frombuffer (ADVICE r4: the
    v1 array<array<T>> layout 'loads' then dies opaquely on reshape)."""
    import pickle

    import pytest as _pytest

    from dblink_spark.sources.state_io import DRIVER_BLOB

    records, cache = small_er
    s = init_state(spark, records, cache, SinglePartition(), 1, seed=7)
    save_state(s, str(tmp_path / "ckpt"))
    blob_path = str(tmp_path / "ckpt" / DRIVER_BLOB)
    with open(blob_path, "rb") as f:
        blob = pickle.load(f)
    assert blob["format_version"] >= 2
    blob["format_version"] = 1
    with open(blob_path, "wb") as f:
        pickle.dump(blob, f)
    with _pytest.raises(ValueError, match="incompatible state format"):
        load_state(spark, str(tmp_path / "ckpt"))
    # a pre-versioning blob (no marker at all) reads as v1 -> same diagnostic
    del blob["format_version"]
    with open(blob_path, "wb") as f:
        pickle.dump(blob, f)
    with _pytest.raises(ValueError, match="incompatible state format"):
        load_state(spark, str(tmp_path / "ckpt"))


def test_resume_appends_chain(spark, small_er, tmp_path):
    records, cache = small_er
    out = str(tmp_path / "run")
    s = init_state(spark, records, cache, SinglePartition(), 1, seed=5)
    s = sample(s, sample_size=4, options=SamplerOptions(sampler="PCG-I"), output_path=out)
    save_state(s, os.path.join(out, "ckpt"))
    s2 = load_state(spark, os.path.join(out, "ckpt"))
    s2 = sample(s2, sample_size=4, options=SamplerOptions(sampler="PCG-I"), output_path=out)
    chain = read_linkage_chain(spark, out)
    assert chain.select("iteration").distinct().count() == 8


def test_local_linkage_sample_matches_dataframe_path(spark, small_er, tmp_path):
    """The Arrow-native sample builder (driver-local chains) must produce the
    same rows as the DataFrame path, and the pyarrow-flushed files must be
    readable through the same scan with the cutoff filter still pushed."""
    from dblink_spark.er.sampler import linkage_sample, linkage_sample_local

    records, cache = small_er
    s = init_state(spark, records, cache, SinglePartition(), 1, seed=11)
    s = sample(s, sample_size=3, options=SamplerOptions(sampler="PCG-I"))
    assert s.local_parts is not None, "fused path should leave local state"

    tbl = linkage_sample_local(s)
    got = sorted(
        (r["iteration"], r["partition_id"], tuple(sorted(r["rec_ids"])))
        for r in tbl.to_pylist()
    )
    want = sorted(
        (r["iteration"], r["partition_id"], tuple(sorted(r["rec_ids"])))
        for r in linkage_sample(s).collect()
    )
    assert got == want

    # arrow tables through the writer -> same scan semantics as Spark files
    w = BufferedChainWriter(str(tmp_path), buffer_size=2)
    for it in (3, 4, 5):
        t = tbl.set_column(0, "iteration", pa.array([it] * len(tbl), pa.int64()))
        w.append(t)
    w.flush()
    chain = read_linkage_chain(spark, str(tmp_path))
    assert chain.select("iteration").distinct().count() == 3
    assert chain.schema["rec_ids"].dataType.simpleString() == "array<string>"
    assert read_linkage_chain(spark, str(tmp_path), cutoff=5).count() == len(tbl)


def test_distributed_state_save_resume_bit_exact(spark, small_er, tmp_path):
    """Multi-partition resume through the DISTRIBUTED (block-format) path:
    3 Spark transitions + save + load + 3 more == 6 uninterrupted.

    This is the path a 100-TB chain takes: the saved state round-trips
    through the cluster-row interchange format from a block_df, parquet is
    written multi-file, and correctness relies on data-keyed RNG +
    canonicalized kernel order (NOT file ordering, unlike the p=1
    single-file fast path). Bit-exact loglik equality proves the whole
    save/load/transition stack is order-independent."""
    from dblink_spark.er.partition import KDTreePartitioner
    from dblink_spark.er.state import assign_partitions, transition

    records, cache = small_er

    def fresh(seed=99):
        s0 = init_state(spark, records, cache, SinglePartition(), 1, seed=seed)
        pf = KDTreePartitioner(num_levels=1, attribute_ids=[3])
        pf.fit(s0.df.filter("NOT is_summary").select("ent_values"))
        return assign_partitions(s0, pf, pf.num_partitions)

    s_ref = fresh()
    assert s_ref.num_partitions == 2
    for _ in range(6):
        s_ref = transition(s_ref, "PCG-I")

    s_a = fresh()
    for _ in range(3):
        s_a = transition(s_a, "PCG-I")
    save_state(s_a, str(tmp_path / "dckpt"))
    s_b = load_state(spark, str(tmp_path / "dckpt"))
    assert s_b.iteration == 3 and s_b.num_partitions == 2
    for _ in range(3):
        s_b = transition(s_b, "PCG-I")

    assert s_b.iteration == s_ref.iteration == 6
    assert _linkage_set(s_b) == _linkage_set(s_ref)
    assert s_b.summary.log_likelihood == pytest.approx(
        s_ref.summary.log_likelihood, rel=0, abs=0
    ), "distributed resume must be bit-exact"
    assert (s_b.summary.agg_distortions == s_ref.summary.agg_distortions).all()


class TestDedupIndexTables:
    """Persisted dedup-index tables (VERDICT r11 tasks 3 & 5): the
    MinHash signature index and the verified pair relation round-trip
    through parquet + spec sidecar, a consumer running off the LOADED
    table produces verdicts identical to the in-session build, the
    loaded path provably scans the table (no lineage to a recompute
    exists), and a spec/version mismatch fails loudly instead of mixing
    incomparable indexes."""

    SF = "/root/testdata/sf0.001"

    def test_minhash_index_round_trip_identical_verdicts(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from dblink_spark.plans.audit import formatted_plan
        from dblink_spark.queries import materialized
        from dblink_spark.queries.dedup import (
            dedup_incremental_minhash, minhash_signatures,
        )
        from dblink_spark.sources.dedup_index import (
            load_minhash_index, save_minhash_index,
        )

        d = spark.read.parquet(f"{self.SF}/documents.parquet")
        old = minhash_signatures(d.filter(F.col("doc_id") % 10 != 0))
        path = str(tmp_path / "mh_index")
        save_minhash_index(old, path)
        # "new session" consumption: the loaded frame is a bare parquet
        # scan — nothing from the producing lineage is reachable from it
        loaded = load_minhash_index(spark, path)
        with materialized(dedup_incremental_minhash(spark, self.SF)) as b:
            base_plan = formatted_plan(b)
            base = sorted(map(tuple, b.collect()))
        with materialized(
            dedup_incremental_minhash(spark, self.SF, old_index=loaded)
        ) as df:
            plan = formatted_plan(df)
            got = sorted(map(tuple, df.collect()))
        assert got == base, "indexed path must replay identical verdicts"
        # plan pin: the old side reads the index table, and the
        # in-session persisted OLD-signature relation is gone — only the
        # new-batch cache's references remain (strictly fewer
        # InMemoryTableScan nodes than the self-building plan)
        assert "index.parquet" in plan
        assert "index.parquet" not in base_plan
        assert (
            plan.count("InMemoryTableScan")
            < base_plan.count("InMemoryTableScan")
        )

    def test_spec_or_version_mismatch_fails_loudly(self, spark, tmp_path):
        import pytest as _pytest

        from dblink_spark.sources import dedup_index as di

        d = spark.range(3).selectExpr("id AS doc_id")
        p1 = str(tmp_path / "idx1")
        di.save_index(d, p1, {"kind": "minhash-signatures", "num_hashes": 8})
        with _pytest.raises(ValueError, match="spec mismatch"):
            di.load_minhash_index(spark, p1)
        p2 = str(tmp_path / "idx2")
        di.save_minhash_index(d, p2)
        import json
        import os

        meta_path = os.path.join(p2, di.META_FILE)
        meta = json.load(open(meta_path))
        meta["format_version"] = 99
        json.dump(meta, open(meta_path, "w"))
        with _pytest.raises(ValueError, match="format v99"):
            di.load_minhash_index(spark, p2)

    def test_pair_table_shared_across_all_three_consumers(self, spark, tmp_path):
        """ONE pair build feeds components, survivors, AND the bias
        audit off the saved table, each matching its own in-session
        result — the amortization the three queries' docstrings
        document."""
        from dblink_spark.queries import materialized, release_caches
        from dblink_spark.queries.dedup import (
            bottomk_sketch_pairs, dedup_components, dedup_survivors,
        )
        from dblink_spark.queries.pipeline import q_docs_dedup_bias_audit
        from dblink_spark.sources.dedup_index import (
            load_pair_table, save_pair_table,
        )

        d = spark.read.parquet(f"{self.SF}/documents.parquet")
        pairs = bottomk_sketch_pairs(d, k=8, threshold=0.99)
        path = str(tmp_path / "pairs")
        save_pair_table(pairs, path)  # the write materializes the sweep
        release_caches(pairs)
        loaded = load_pair_table(spark, path)
        for fn in (dedup_components, dedup_survivors, q_docs_dedup_bias_audit):
            with materialized(fn(spark, self.SF)) as b:
                base = sorted(map(tuple, b.collect()))
            with materialized(fn(spark, self.SF, loaded)) as df:
                got = sorted(map(tuple, df.collect()))
            assert got == base, fn.__name__

    def test_comps_table_second_amortization_tier(self, spark, tmp_path):
        """r13: the CLOSURE persists too — components computed once from a
        shared pair table, saved, and both closure consumers (survivors +
        bias audit) run off the LOADED comps table with results identical
        to their self-contained builds; a comps table whose embedded pair
        spec mismatches fails loudly at load."""
        import pytest as _pytest

        from dblink_spark.operators.components import connected_components
        from dblink_spark.queries import materialized, release_caches
        from dblink_spark.queries.dedup import (
            bottomk_sketch_pairs, dedup_survivors,
        )
        from dblink_spark.queries.pipeline import q_docs_dedup_bias_audit
        from dblink_spark.sources.dedup_index import (
            load_comps_table, save_comps_table,
        )

        d = spark.read.parquet(f"{self.SF}/documents.parquet")
        pairs = bottomk_sketch_pairs(d, k=8, threshold=0.99)
        comps = connected_components(pairs, "doc1", "doc2")
        path = str(tmp_path / "comps")
        save_comps_table(comps, path)
        release_caches(pairs)
        loaded = load_comps_table(spark, path)
        for fn in (dedup_survivors, q_docs_dedup_bias_audit):
            with materialized(fn(spark, self.SF)) as b:
                base = sorted(map(tuple, b.collect()))
            with materialized(fn(spark, self.SF, comps=loaded)) as df:
                got = sorted(map(tuple, df.collect()))
            assert got == base, fn.__name__
        # spec discipline: a different sketch k is a DIFFERENT pair
        # universe — the embedded pair spec must reject the load
        with _pytest.raises(ValueError, match="spec mismatch"):
            load_comps_table(spark, path, k=16)
