"""Per-layer tracing for the ER benchmark.

Spans come from benchmark-side wrappers around the public functions of each
layer of ``dblink_spark``, installed for the traced repetitions only and
removed afterwards. Each wrapper is installed where the name is looked up
at call time, because several modules import their callees by name:

- ``er.sampler`` imported ``transition``/``transition_local``/... from
  ``er.state``, so the sampler's copies are the ones wrapped;
- ``er.state`` imported ``transition_partition`` and ``partition_summary``
  from ``er.model``, so ``er.state``'s copies are wrapped;
- ``er.model.transition_partition`` resolves the ``update_*`` kernels from
  ``er.model``'s globals at call time, so those are wrapped there.

The benchmark itself calls every phase through its defining module
(``state_io.save_state``, not ``dblink_spark.sources.save_state``), so the
wrapped names are the ones it reaches. Kernels that run inside Spark's
Python workers are not traced: workers import the library fresh.
"""

from __future__ import annotations

import importlib
from collections.abc import Iterator
from contextlib import contextmanager

from measure import Tracer, percentile

#: (module[:class], attribute, span name)
PATCHES = [
    ("dblink_spark.er.cache", "build_records_cache", "er.cache.build_records_cache"),
    ("dblink_spark.er.state", "init_state", "er.state.init_state"),
    ("dblink_spark.er.partition:KDTreePartitioner", "fit", "er.partition.fit"),
    ("dblink_spark.er.state", "assign_partitions", "er.state.assign_partitions"),
    ("dblink_spark.er.sampler", "sample", "er.sampler.sample"),
    ("dblink_spark.er.sampler", "transition_local", "er.state.transition_local"),
    ("dblink_spark.er.state", "transition_partition", "er.model.transition_partition"),
    ("dblink_spark.er.state", "partition_summary", "er.model.partition_summary"),
    ("dblink_spark.er.model", "update_links_indexed", "er.model.update_links_indexed"),
    ("dblink_spark.er.model", "update_entity_values", "er.model.update_entity_values"),
    ("dblink_spark.er.model", "update_distortions", "er.model.update_distortions"),
    ("dblink_spark.sources.chain:BufferedChainWriter", "flush", "sources.chain_writer.flush"),
    ("dblink_spark.sources.state_io", "save_state", "sources.save_state"),
    ("dblink_spark.sources.chain", "read_linkage_chain", "sources.read_linkage_chain"),
    ("dblink_spark.er.chain", "most_probable_clusters", "er.chain.most_probable_clusters"),
    ("dblink_spark.er.chain", "shared_most_probable_clusters", "er.chain.shared_most_probable_clusters"),
    ("dblink_spark.sources.records_csv", "write_clusters_csv", "sources.write_clusters_csv"),
    ("dblink_spark.er.metrics", "evaluate_pairwise", "er.metrics.evaluate_pairwise"),
    ("dblink_spark.er.metrics", "evaluate_clustering", "er.metrics.evaluate_clustering"),
]

#: per-layer metrics measured outside the spans (counts, bytes, balance,
#: Spark job stats, memory, the traced run's own totals); the caller
#: supplies them
FACTS = (
    "er.index.domain_values",
    "er.index.sim_entries",
    "er.partition.balance",
    "spark.jobs_per_sweep",
    "spark.tasks_per_sweep",
    "spark.failed_tasks",
    "sources.chain.bytes",
    "sources.read_linkage_chain.rows",
    "sources.save_state.bytes",
    "trace.time_to_linkage_s",
    "trace.overhead_s",
    "proc.peak_rss_mb",
    "proc.jvm_in_use_mb",
)


def _resolve(target: str):
    module, _, cls = target.partition(":")
    obj = importlib.import_module(module)
    return getattr(obj, cls) if cls else obj


def _traced_transition(tracer: Tracer, fn):
    """``er.state.transition`` with its public ``phase_sink`` filled in, so
    each call's driver-side plan time and Spark job time are recorded."""

    def traced(state, mode, phase_sink=None):
        sink = {} if phase_sink is None else phase_sink
        with tracer.span("er.state.transition"):
            out = fn(state, mode, phase_sink=sink)
        tracer.add("er.state.transition.plan_s", sink.get("plan", 0.0))
        tracer.add("er.state.transition.job_s", sink.get("job", 0.0))
        return out

    traced.__wrapped__ = fn
    return traced


@contextmanager
def instrumented(tracer: Tracer) -> Iterator[None]:
    """Install every wrapper for the duration of the block. A patch target
    that no longer exists raises, so a renamed layer fails loudly."""
    saved = []
    try:
        for target, attr, name in PATCHES:
            owner = _resolve(target)
            orig = getattr(owner, attr)
            setattr(owner, attr, tracer.wrap(name, orig))
            saved.append((owner, attr, orig))
        sampler = _resolve("dblink_spark.er.sampler")
        saved.append((sampler, "transition", sampler.transition))
        sampler.transition = _traced_transition(tracer, sampler.transition)
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def spark_job_stats(sc, group: str) -> tuple[int, int, int]:
    """(jobs, completed tasks, failed tasks) that ran under job group
    ``group``, from the status tracker."""
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    tasks = failed = 0
    for jid in job_ids:
        job = tracker.getJobInfo(jid)
        for sid in job.stageIds if job else ():
            stage = tracker.getStageInfo(sid)
            if stage:
                tasks += stage.numCompletedTasks
                failed += stage.numFailedTasks
    return len(job_ids), tasks, failed


def layer_metrics(
    tracer: Tracer, trace: str, facts: dict[str, float], per_layer: dict[str, str]
) -> dict[str, float]:
    """The metrics ``per_layer`` names (name -> unit, as in BENCHMARK.json)
    from the spans of trace ``trace`` plus ``facts`` measured outside the
    timed window (counts, bytes, balance, job stats)."""
    spans = [s for s in tracer.spans if s.trace == trace]

    def total(name: str) -> float:
        return sum(s.duration for s in spans if s.name == name)

    def calls(name: str) -> int:
        return sum(1 for s in spans if s.name == name)

    def pct(name: str, q: float) -> float:
        durs = [s.duration for s in spans if s.name == name]
        return percentile(durs, q).value if durs else 0.0

    out = {
        name: total(name[: -len(".s")])
        for name, unit in per_layer.items()
        if unit == "s" and name.endswith(".s")
    }
    for name in ("er.state.transition", "er.state.transition_local"):
        out[f"{name}.s_p50"] = pct(name, 50)
        out[f"{name}.s_p90"] = pct(name, 90)
        out[f"{name}.calls"] = calls(name)
    for name in ("er.model.transition_partition", "er.model.partition_summary"):
        out[f"{name}.calls"] = calls(name)
    out["er.state.transition.plan_s"] = tracer.counters.get("er.state.transition.plan_s", 0.0)
    out["er.state.transition.job_s"] = tracer.counters.get("er.state.transition.job_s", 0.0)
    out["er.sampler.sample.self_s"] = sum(
        tracer.self_time(s) for s in spans if s.name == "er.sampler.sample"
    )
    out["sources.chain_writer.flushes"] = calls("sources.chain_writer.flush")
    out["sources.chain_writer.flush_s"] = total("sources.chain_writer.flush")
    missing = set(FACTS) - set(facts)
    if missing:
        raise KeyError(f"per-layer facts not supplied: {sorted(missing)}")
    out.update((name, facts[name]) for name in FACTS)
    return {name: out[name] for name in per_layer}
