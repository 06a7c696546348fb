#!/usr/bin/env python3
"""ER benchmark for dblink_spark: what an entity-resolution user waits for.

Usage (from the repository root)::

    python3 erbench/run.py --workload er_local_posterior --seed 1 --seconds 5 --trace 0

One run generates the workload's inputs from ``--seed`` (``gen.py``: a
records CSV with ground truth and a HOCON project config), then drives the
library API in the order ``Project._step_sample`` / ``_step_summarize`` /
``_step_evaluate`` use it, so every phase boundary is a call made here:

  set-up    read_records_csv -> build_records_cache -> init_state ->
            KDTreePartitioner.fit + assign_partitions
  pipeline  sample -> save_state -> read_linkage_chain -> cluster-size and
            partition-size saves -> most_probable_clusters ->
            shared_most_probable_clusters -> write_clusters_csv ->
            evaluate_pairwise + evaluate_clustering

Load is one process on ``local[<cores>]``, closed loop: one pipeline at a
time. Each seed names several data sets. A cold set-up of one of them and a
pipeline a quarter as long warm the JVM and the Python workers and enter no
metric. Each of the other two data sets gets one measured set-up. Pipelines
then alternate between them from their initial states until ``--seconds``
have passed (at least one each). Then sampling alone alternates between
them until the measured ``sample()`` calls add up to ``--seconds``. Output
checks run outside the timed windows. The last stdout line is one JSON
object; the lines above it print every metric with its unit and sample
counts.

``--trace 1`` replaces the measured part: after the same warm-up it runs
one set-up and one pipeline of the second data set without wrappers and one
of each with wrappers around each layer's public functions (``layers.py``),
and reports the per-layer metrics and the tracing overhead. Spans are kept
in memory and written to ``.erbench_out/`` when the run ends.
"""

from __future__ import annotations

T_LAUNCH = __import__("time").perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import layers  # noqa: E402
from measure import PeakRss, Tracer, median, result_hash, tree_pids  # noqa: E402

#: the data set of the cold, unmeasured warm-up set-up, and the measured
#: ones: each gets one measured set-up, and pipelines and lone samplings
#: alternate between them
WARMUP_DATASET = 0
DATASETS = (1, 2)
SETUP_PHASES = ("read", "cache", "init", "partition")
PIPELINE_PHASES = ("sample", "save_state", "read_chain", "summaries", "smpc", "evaluate")


class Ops:
    """Operations attempted and failed. An operation is one phase of one
    set-up or pipeline repetition; a wrong output fails its phase."""

    def __init__(self) -> None:
        self.attempted: list[tuple[str, str]] = []
        self.failed: dict[tuple[str, str], str] = {}

    def attempt(self, rep: str, phases) -> None:
        self.attempted += [(rep, p) for p in phases]

    def check(self, rep: str, phase: str, ok: bool, what: str) -> None:
        if not ok:
            self.failed.setdefault((rep, phase), what)
            print(f"CHECK FAILED [{rep}/{phase}]: {what}", file=sys.stderr)


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _alive(pid: int) -> bool:
    """Running, as opposed to exited or a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _fork(state):
    """A chain start that shares nothing mutable with ``state``: the
    driver-side RNG advances in place, so two chains sampled from one initial state
    would otherwise draw different streams."""
    import copy
    import dataclasses

    return dataclasses.replace(state, rng=copy.deepcopy(state.rng))


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.workload = gen.WORKLOADS[args.workload]
        self.tracer = Tracer()
        self.ops = Ops()
        self.spark = None
        self.rss = PeakRss(interval_s=0.1)

    # -- process -----------------------------------------------------------

    def start(self) -> None:
        """Environment, imports, input generation (untimed), SparkSession."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = tmp
        # Python workers must import dblink_spark to unpickle the kernels
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
        # Spark prefers this variable over spark.local.dir
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        self.rss.start()
        sys.path.insert(0, ROOT)
        import dblink_spark.project  # noqa: F401  (pyspark and the library)

        imported = time.perf_counter()
        confs = [
            gen.write_inputs(self.args.workload, self.args.seed,
                             os.path.join(self.work, f"input{d}"), d)
            for d in (WARMUP_DATASET, *DATASETS)
        ]
        t0 = time.perf_counter()
        from dblink_spark.session import get_spark

        self.spark = get_spark(
            "erbench",
            master=f"local[{_cores()}]",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # no hsperfdata file: HotSpot writes it under /tmp whatever
                # java.io.tmpdir says
                "spark.driver.extraJavaOptions":
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = (imported - T_LAUNCH) + (time.perf_counter() - t0)
        # spark-submit execs the JVM, so the gateway's child is the JVM: its
        # resident size follows how far G1 has grown the 8g heap, which
        # varies from run to run, so python_rss_mb leaves it out
        self.rss.exclude.add(self.spark.sparkContext._gateway.proc.pid)

        from dblink_spark.project import Project

        self.projects = [Project.from_config_file(self.spark, c) for c in confs]
        self.steps = {s["name"]: s.get("parameters", {}) for s in self.projects[0].steps}
        sp = self.steps["sample"]
        self.iterations = int(sp.get("burninInterval", 0)) + int(sp["sampleSize"]) * int(
            sp.get("thinningInterval", 1)
        )

    def stop(self) -> None:
        """Stop Spark, the JVM and every process they started; wait for all."""
        kids = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()
                try:
                    gateway.proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
                    gateway.proc.kill()
                    gateway.proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while kids and time.monotonic() < deadline:
            kids = [p for p in kids if _alive(p)]
            time.sleep(0.1)
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    # -- phases --------------------------------------------------------------

    def _phase(self, phase: str):
        return self.tracer.span(f"phase.{phase}")

    def setup(self, rep: str, d: int):
        """One set-up of data set ``d``; returns (records, cache, initial state)."""
        from dblink_spark.er import cache as er_cache
        from dblink_spark.er import state as er_state
        from dblink_spark.sources import records_csv

        p = self.projects[d]
        self.tracer.trace = rep
        self.ops.attempt(rep, SETUP_PHASES)
        with self.tracer.span("setup"):
            with self._phase("read"):
                records = records_csv.read_records_csv(
                    self.spark, p.data_path, record_id_col=p.record_id_col,
                    matching_cols=p.attr_names + [p.entity_id_col],
                    file_id_col=p.file_id_col, null_value=p.null_value,
                )
                matching = records.select("rec_id", "file_id", *p.attr_names)
            with self._phase("cache"):
                cache = er_cache.build_records_cache(
                    matching, p.matching_attrs, p.expected_max_cluster_size
                )
            with self._phase("init"):
                from dblink_spark.er.partition import SinglePartition

                state = er_state.init_state(
                    self.spark, matching, cache, SinglePartition(), 1,
                    seed=p.random_seed, population_size=p.population_size,
                )
            with self._phase("partition"):
                part = p.build_partitioner()
                if part.num_partitions > 1:
                    part.fit(state.df.filter("NOT is_summary").select("ent_values"))
                    state = er_state.assign_partitions(state, part, part.num_partitions)
        return records, cache, state

    def _sample(self, d: int, state0, shorten: int = 1):
        """The configured chain of data set ``d`` from ``state0``;
        ``shorten`` divides its burn-in and sample count (the warm-up)."""
        from dblink_spark.er import sampler as er_sampler

        sp, out = self.steps["sample"], self.projects[d].output_path
        opts = er_sampler.SamplerOptions(
            sampler=str(sp.get("sampler", "PCG-I")),
            burnin_interval=int(sp.get("burninInterval", 0)) // shorten,
            thinning_interval=int(sp.get("thinningInterval", 1)),
            write_buffer_size=int(sp.get("writeBufferSize", 10)),
            diagnostics_path=os.path.join(out, "diagnostics.csv"),
            local_exec_max_records=int(
                sp.get("localExecMaxRecords", er_sampler.SamplerOptions.local_exec_max_records)
            ),
        )
        with self._phase("sample"):
            return er_sampler.sample(
                state0, sample_size=max(1, int(sp["sampleSize"]) // shorten),
                options=opts, output_path=out,
            )

    def sweep(self, rep: str, d: int, state0) -> None:
        """Sampling alone: more sweep-throughput samples without the cost
        of another posterior analysis."""
        self.tracer.trace = rep
        self.ops.attempt(rep, ("sample",))
        state = self._sample(d, state0)
        self.ops.check(rep, "sample", state.iteration == self.iterations,
                       f"chain reached iteration {state.iteration}, configured {self.iterations}")

    def pipeline(self, rep: str, d: int, records, state0, shorten: int = 1) -> dict:
        """Sample, save, summarize and evaluate data set ``d`` from
        ``state0``; returns the final state and the evaluation."""
        import pyspark.sql.functions as F

        from dblink_spark.er import chain as er_chain
        from dblink_spark.er import metrics as er_metrics
        from dblink_spark.er.analysis import membership_to_clusters
        from dblink_spark.sources import chain as src_chain
        from dblink_spark.sources import records_csv, state_io

        p = self.projects[d]
        out = p.output_path
        cutoff = int(self.steps["summarize"].get("lowerIterationCutoff", 0)) // shorten
        smpc_path = os.path.join(out, "shared-most-probable-clusters.csv")
        self.tracer.trace = rep
        self.ops.attempt(rep, PIPELINE_PHASES)
        sc = self.spark.sparkContext
        with self.tracer.span("pipeline"):
            sc.setJobGroup(f"erbench-sample-{rep}", "erbench sample")
            state = self._sample(d, state0, shorten)
            sc.setJobGroup(f"erbench-post-{rep}", "erbench post-processing")
            with self._phase("save_state"):
                state_io.save_state(state, os.path.join(out, "final-state"))
            with self.tracer.span("analysis"):
                with self._phase("read_chain"):
                    chain = src_chain.read_linkage_chain(self.spark, out, cutoff=cutoff)
                with self._phase("summaries"), self.tracer.span("er.chain.summaries"):
                    er_chain.save_cluster_size_distribution(
                        er_chain.cluster_size_distribution(chain),
                        os.path.join(out, "cluster-size-distribution.csv"),
                    )
                    er_chain.save_partition_sizes(
                        er_chain.partition_sizes(chain),
                        os.path.join(out, "partition-sizes.csv"),
                    )
                with self._phase("smpc"):
                    records_csv.write_clusters_csv(
                        er_chain.shared_most_probable_clusters(
                            er_chain.most_probable_clusters(chain)
                        ),
                        smpc_path,
                    )
                with self._phase("evaluate"):
                    smpc = records_csv.read_clusters_csv(self.spark, smpc_path)
                    truth = membership_to_clusters(
                        records.select("rec_id", F.col(p.entity_id_col).alias("ent_id"))
                    )
                    pairwise = er_metrics.evaluate_pairwise(smpc, truth)
                    ari = er_metrics.evaluate_clustering(smpc, truth)
                    with open(os.path.join(out, "evaluation-results.txt"), "w") as f:
                        f.write(f"pairwise.precision = {pairwise.precision:.6f}\n")
                        f.write(f"pairwise.recall = {pairwise.recall:.6f}\n")
                        f.write(f"pairwise.f1 = {pairwise.f1:.6f}\n")
                        f.write(f"cluster.adjusted_rand_index = {ari:.6f}\n")
        return {"state": state, "f1": pairwise.f1, "ari": ari, "smpc_path": smpc_path}

    # -- checks (outside the timed windows) -----------------------------------

    def check_pipeline(self, rep: str, d: int, res: dict) -> dict:
        """Check one pipeline's outputs; return facts measured from them."""
        import pyarrow.parquet as pq

        from dblink_spark.sources.chain import CHAIN_DIRNAME

        sp, w, out = self.steps["sample"], self.workload, self.projects[d].output_path
        got_iter = res["state"].iteration
        self.ops.check(rep, "sample", got_iter == self.iterations,
                       f"chain reached iteration {got_iter}, configured {self.iterations}")
        chain_dir = os.path.join(out, CHAIN_DIRNAME)
        iters = pq.read_table(chain_dir, columns=["iteration"]).column("iteration")
        n_samples = len(set(iters.to_pylist()))
        self.ops.check(rep, "sample", n_samples == int(sp["sampleSize"]),
                       f"chain holds {n_samples} samples, configured {sp['sampleSize']}")
        print(f"# {rep}: data set {d} pairwise_f1 = {res['f1']:.4f}, ari = {res['ari']:.4f}")
        self.ops.check(rep, "evaluate", res["f1"] >= w.f1_floor,
                       f"pairwise F1 {res['f1']:.4f} below floor {w.f1_floor}")
        self.ops.check(rep, "evaluate", res["ari"] >= w.ari_floor,
                       f"ARI {res['ari']:.4f} below floor {w.ari_floor}")
        clusters = []
        for name in sorted(os.listdir(res["smpc_path"])):
            if name.startswith("part-"):
                with open(os.path.join(res["smpc_path"], name)) as f:
                    clusters += [line.rstrip("\n").split(", ") for line in f if line.strip()]
        n_recs = sum(len(c) for c in clusters)
        self.ops.check(rep, "smpc", n_recs == w.records,
                       f"sMPC covers {n_recs} records, input has {w.records}")
        part_sizes = os.path.join(out, "partition-sizes.csv")
        with open(part_sizes) as f:
            rows = [list(map(int, line.split(",")))[1:] for line in list(f)[1:]]
        balance = median(sum(r) / len(r) / max(r) for r in rows) if rows else 0.0
        return {
            "hash": result_hash(clusters),
            "sources.chain.bytes": _du(chain_dir),
            "sources.read_linkage_chain.rows": len(iters),
            "sources.save_state.bytes": _du(os.path.join(out, "final-state")),
            "er.partition.balance": balance,
            "iterations": got_iter,
            "partitions": res["state"].num_partitions,
        }

    # -- the run -------------------------------------------------------------

    def run(self) -> dict:
        self.start()
        # warm-up: a cold set-up and a chain a quarter as long, to load and
        # compile the JVM's code paths and start the Python workers; they
        # enter no metric
        records, _, state0 = self.setup("warmup", WARMUP_DATASET)
        self.pipeline("warmup", WARMUP_DATASET, records, state0, shorten=4)
        m = self.run_traced() if self.args.trace else self.run_timed()
        self.tracer.add("session_s", self.session_s)
        self.tracer.write(os.path.join(
            ROOT, ".erbench_out",
            f"{self.args.workload}-seed{self.args.seed}-trace{self.args.trace}-spans.json",
        ))
        return m

    def check_same(self, checked: dict[str, tuple[int, dict]]) -> None:
        """Every pipeline on one data set wrote the same sMPC."""
        first: dict[int, str] = {}
        for rep, (d, facts) in checked.items():
            first.setdefault(d, facts["hash"])
            self.ops.check(rep, "smpc", facts["hash"] == first[d],
                           "sMPC differs from the first pipeline's on the same data")

    def run_timed(self) -> dict:
        """The end-to-end metrics."""
        ready = {d: self.setup(f"setup{d}", d) for d in DATASETS}
        window = time.perf_counter()
        checked: dict[str, tuple[int, dict]] = {}
        results: dict[int, dict] = {}
        n = 0
        while n < len(DATASETS) or time.perf_counter() - window < self.args.seconds:
            d, rep = DATASETS[n % len(DATASETS)], f"pipeline{n}"
            records, _, state0 = ready[d]
            res = self.pipeline(rep, d, records, _fork(state0))
            results.setdefault(d, res)
            checked[rep] = (d, self.check_pipeline(rep, d, res))
            n += 1
        n = 0
        while sum(self._durations("phase.sample", ("pipeline", "sweep"))) < self.args.seconds:
            d = DATASETS[n % len(DATASETS)]
            self.sweep(f"sweep{n}", d, _fork(ready[d][2]))
            n += 1
        self.check_same(checked)
        self.rss.stop()

        durations = self._durations
        setup_s = self.session_s + median(durations("setup", "setup"))
        pipelines = durations("pipeline", "pipeline")
        samples = durations("phase.sample", ("pipeline", "sweep"))
        self.counts = {
            "data sets": len(DATASETS), "set-ups": len(DATASETS),
            "pipelines": len(pipelines), "sampled chains": len(samples),
        }
        print(f"# process tree peak RSS, JVM included: {self.rss.peak_bytes / 1e6:.0f} MB")
        return {
            "setup_s": setup_s,
            "sweeps_per_s": self.iterations * len(samples) / sum(samples),
            "analysis_s": median(durations("analysis", "pipeline")),
            "time_to_linkage_s": setup_s + median(pipelines),
            "pairwise_f1": statistics.fmean(r["f1"] for r in results.values()),
            "ari": statistics.fmean(r["ari"] for r in results.values()),
            "python_rss_mb": self.rss.peak_kept_bytes / 1e6,
        }

    def run_traced(self) -> dict:
        """The per-layer metrics: one set-up and one pipeline of the last
        data set without the trace wrappers and one of each with them. The
        plain set-up runs first and the plain pipeline last, so that the
        JVM's further warming does not favour one side of the overhead."""
        d = DATASETS[-1]
        plain_records, _, plain_state0 = self.setup("plain", d)
        with layers.instrumented(self.tracer):
            records, cache, state0 = self.setup("traced", d)
            traced = self.pipeline("traced", d, records, _fork(state0))
        plain = self.pipeline("plain", d, plain_records, _fork(plain_state0))
        checked = {rep: (d, self.check_pipeline(rep, d, res))
                   for rep, res in (("plain", plain), ("traced", traced))}
        self.check_same(checked)
        self.rss.stop()
        self.counts = {"set-ups": 2, "pipelines": 2}

        def duration(name: str, rep: str) -> float:
            (span,) = [s for s in self.tracer.named(name) if s.trace == rep]
            return span.duration

        facts = checked["traced"][1]
        layer = self.layer_facts(cache, facts)
        traced_s = duration("setup", "traced") + duration("pipeline", "traced")
        layer["trace.time_to_linkage_s"] = self.session_s + traced_s
        layer["trace.overhead_s"] = traced_s - duration("setup", "plain") - duration("pipeline", "plain")
        layer["proc.peak_rss_mb"] = self.rss.peak_bytes / 1e6
        layer["proc.jvm_in_use_mb"] = self.jvm_memory_bytes() / 1e6
        m = layers.layer_metrics(self.tracer, "traced", layer, metric_units("per_layer"))
        if self._driver_local():
            want = facts["iterations"] * facts["partitions"]
            got = m["er.model.transition_partition.calls"]
            self.ops.check("traced", "sample", got == want,
                           f"er.model.transition_partition.calls {got} != "
                           f"iterations x partitions {want}: a trace patch missed")
        return m

    def jvm_memory_bytes(self) -> int:
        """Heap still live after a full collection, plus non-heap in use."""
        bean = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        bean.gc()
        return bean.getHeapMemoryUsage().getUsed() + bean.getNonHeapMemoryUsage().getUsed()

    def _durations(self, name: str, trace_prefix) -> list[float]:
        """Durations of the spans called ``name`` in repetitions whose trace
        id starts with ``trace_prefix`` (a string or a tuple of them)."""
        return [s.duration for s in self.tracer.named(name) if s.trace.startswith(trace_prefix)]

    def _driver_local(self) -> bool:
        """Whether the sampler routes this chain through transition_local."""
        from dblink_spark.er.sampler import SamplerOptions

        cap = int(self.steps["sample"].get(
            "localExecMaxRecords", SamplerOptions.local_exec_max_records
        ))
        parts = self.projects[0].build_partitioner().num_partitions
        return parts > 1 and 0 < self.workload.records <= cap

    def layer_facts(self, cache, facts: dict) -> dict[str, float]:
        jobs, tasks, failed = layers.spark_job_stats(
            self.spark.sparkContext, "erbench-sample-traced"
        )
        sim_entries = sum(
            sum(len(n) for n in idx.neighbor_ids)
            for idx in cache.indexes
            if idx.neighbor_ids is not None
        )
        return {
            "er.index.domain_values": sum(idx.num_values for idx in cache.indexes),
            "er.index.sim_entries": sim_entries,
            "er.partition.balance": facts["er.partition.balance"],
            "spark.jobs_per_sweep": jobs / facts["iterations"],
            "spark.tasks_per_sweep": tasks / facts["iterations"],
            "spark.failed_tasks": failed,
            "sources.chain.bytes": facts["sources.chain.bytes"],
            "sources.read_linkage_chain.rows": facts["sources.read_linkage_chain.rows"],
            "sources.save_state.bytes": facts["sources.save_state.bytes"],
        }


def report(args, bench: Bench, metrics: dict, error: bool) -> dict:
    ops = bench.ops
    attempted = max(len(ops.attempted), 1)
    failed = len(ops.failed) + (1 if error else 0)
    units = metric_units("per_layer" if args.trace else "end_to_end")
    counts = getattr(bench, "counts", {})
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}: "
          + ", ".join(f"{v} {k}" for k, v in counts.items()))
    print(f"# error_rate = {failed / attempted:.4f} ratio ({failed} failed / {attempted} operations)")
    for name, value in metrics.items():
        print(f"# {name} = {value:.6g} {units[name]}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dblink_spark")):
        print(f"erbench: no dblink_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".erbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    bench = Bench(args, work)
    metrics, error = {}, False
    try:
        metrics = bench.run()
    except Exception:  # noqa: BLE001 — report the failure as a failed operation
        traceback.print_exc()
        error = True
    finally:
        bench.rss.stop()
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    result = report(args, bench, metrics, error)
    print(json.dumps(result))
    return 1 if error or not result["correct"] else 0


if __name__ == "__main__":
    sys.exit(main())
