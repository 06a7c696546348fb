"""Driver-side sampling loop: burn-in, thinning, buffered sample writes,
diagnostics (ref: Sampler.scala:51-124, DiagnosticsWriter.scala:32-80).

Linkage samples are stored flat — one row per non-isolated cluster:
(iteration long, partition_id int, rec_ids array<string>) — instead of the
reference's nested per-partition LinkageState (package.scala:94-96); same
information, friendlier to Parquet/column pruning. Writes are buffered:
`write_buffer_size` iterations of samples are unioned into one Parquet
append (ref: util/BufferedRDDWriter.scala:30-74). Each sample DataFrame
derives from a localCheckpoint'ed state, so the union is a cheap re-scan of
materialized partitions, not a recompute.
"""

from __future__ import annotations

import csv
import logging
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from dblink_spark.er.state import (
    State,
    prior_log_likelihood_term,
    transition,
    transition_local,
)

#: configs already warned about fusion being ignored on the driver-local
#: path — keyed (multisweep_k, multisweep_burnin_k, n_records,
#: local_exec_max_records, single_partition) so the warning is one-time
#: per configuration, not per sample() call (r15 ADVICE).
_MS_IGNORED_WARNED: set[tuple[int, int, int, int, bool]] = set()


@dataclass
class SamplerOptions:
    sampler: str = "PCG-I"  # ref default: Sampler.scala:58-60
    burnin_interval: int = 0
    thinning_interval: int = 1
    write_buffer_size: int = 10  # ref: Sampler.scala:57
    diagnostics_path: str | None = None
    #: multi-partition chains whose total record count is at most this run
    #: their per-iteration kernels driver-local (state.transition_local) —
    #: same chain content as the Spark path, without the per-job floor.
    #: 0 disables (always distribute). Driver-sized cap: the dense state is
    #: a few hundred bytes/record, so 2M records ≈ low-GB driver memory.
    #: Single-partition chains always run driver-local, all iterations
    #: between save points fused into one call; diagnostics are still
    #: written once per saved sample (matching the reference,
    #: Sampler.scala:107-108).
    local_exec_max_records: int = 2_000_000
    #: OPT-IN (r14): distributed multi-partition chains run up to this many
    #: kernel sweeps per Spark job (state.transition's n_sweeps), amortizing
    #: the per-job plan+scheduling floor k× — measured 4.7 -> 37.8 it/s at
    #: rl10k p=4 going k=1 -> 8. Default 1 keeps the reference's
    #: one-job-per-iteration cadence (State.scala:78-99) and bit-parity
    #: with transition(); k>1 relaxes migration and θ to a k-sweep cadence
    #: (the documented chain-semantics difference — see
    #: state.transition). Sweeps never overrun a save point.
    #: APPLIES ONLY on the distributed path: chains the sampler routes
    #: driver-local (<= ``local_exec_max_records``) have no per-job floor
    #: to amortize, so fusion is a no-op there and the setting is ignored
    #: (a one-time warning says so — r14 ADVICE; set
    #: ``local_exec_max_records: 0`` to force the distributed path).
    multisweep_k: int = 1
    #: OPT-IN (r14): fuse up to this many sweeps per job ONLY during
    #: burn-in — the phase that is pure throughput (no sample is kept),
    #: where the k-sweep cadence relaxation costs nothing a kept sample
    #: would show. Sampling past burn-in proceeds at ``multisweep_k``
    #: (default 1 = exact reference cadence for every kept sample).
    #: Burn-in sweeps never overrun the burn-in boundary, so the phase
    #: switch lands exactly at ``burnin_interval``.
    multisweep_burnin_k: int = 1


def linkage_sample(state: State) -> DataFrame:
    """Current linkage structure as a DataFrame (ref: State.scala:102-112)."""
    return (
        state.df.filter(~F.col("is_summary") & (F.size("rec_ids") > 0))
        .select(
            F.lit(state.iteration).cast("long").alias("iteration"),
            F.col("partition_id"),
            F.col("rec_ids"),
        )
    )


def linkage_sample_local(state: State) -> pa.Table:
    """Same rows as `linkage_sample`, built straight from the driver-local
    numpy state as an Arrow table — no createDataFrame marshal, no Spark job.

    Only clusters with at least one linked record appear (they are the only
    ones with `link` rows), matching the `size(rec_ids) > 0` filter on the
    DataFrame path."""
    tables = []
    for pid in sorted(state.local_parts):
        ps = state.local_parts[pid]
        order = np.argsort(ps.link, kind="stable")
        sorted_link = ps.link[order]
        uniq, starts = np.unique(sorted_link, return_index=True)
        offsets = np.append(starts, sorted_link.shape[0]).astype(np.int64)
        rec_lists = pa.LargeListArray.from_arrays(
            pa.array(offsets), pa.array(ps.rec_ids[order], type=pa.string())
        ).cast(pa.list_(pa.string()))
        n = uniq.shape[0]
        tables.append(
            pa.table(
                {
                    "iteration": pa.array(
                        np.full(n, state.iteration, dtype=np.int64)
                    ),
                    "partition_id": pa.array(np.full(n, pid, dtype=np.int32)),
                    "rec_ids": rec_lists,
                }
            )
        )
    return pa.concat_tables(tables)


class DiagnosticsWriter:
    """One CSV row of chain summaries per saved sample
    (ref: DiagnosticsWriter.scala:39-72)."""

    def __init__(self, path: str, state: State):
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        # resumed chains append (mirroring BufferedChainWriter's append flag;
        # ref: DiagnosticsWriter.scala continueChain) — truncating would drop
        # the prior run's trace
        resume = state.iteration > 0 and os.path.exists(path)
        self._f = open(path, "a" if resume else "w", newline="")
        self._w = csv.writer(self._f)
        attrs = [a.name for a in state.cache.attributes]
        files = state.cache.file_ids
        self._header_attrs = attrs
        self._files = files
        if not resume:
            self._w.writerow(
                ["iteration", "time_ms", "logLikelihood", "numIsolates"]
                + [f"aggDist.{a}.{fid}" for a in attrs for fid in files]
                + [f"recDist.{k}" for k in range(len(attrs) + 1)]
            )
        self._t0 = time.time()

    def write(self, state: State) -> None:
        s = state.summary
        loglik = s.log_likelihood + prior_log_likelihood_term(
            state.cache, state.theta, s.agg_distortions
        )
        self._w.writerow(
            [state.iteration, int((time.time() - self._t0) * 1000), loglik, s.num_isolates]
            + [int(x) for x in s.agg_distortions.ravel()]
            + [int(x) for x in s.rec_distortions]
        )
        self._f.flush()

    def close(self) -> None:
        self._f.close()


def sample(
    state: State,
    sample_size: int,
    options: SamplerOptions | None = None,
    output_path: str | None = None,
) -> State:
    """Run the chain until `sample_size` samples are saved (after burn-in,
    at `thinning_interval` spacing). Returns the final state; linkage samples
    land in `{output_path}/linkage-chain.parquet` when output_path is set."""
    opts = options or SamplerOptions()
    diag = (
        DiagnosticsWriter(opts.diagnostics_path, state)
        if opts.diagnostics_path
        else None
    )
    writer = None
    if output_path is not None:
        from dblink_spark.sources.chain import BufferedChainWriter

        writer = BufferedChainWriter(
            output_path,
            buffer_size=opts.write_buffer_size,
            append=state.iteration > 0,  # resumed chain appends to existing samples
        )

    saved = 0
    thin = max(opts.thinning_interval, 1)

    def next_emit_after(it: int) -> int:
        """First post-burn-in iteration > ``it`` on the thinning grid: the
        save point neither branch's fused sweeps may overrun."""
        base = max(it + 1, opts.burnin_interval + 1)
        r = (base - opts.burnin_interval) % thin
        return base if r == 0 else base + (thin - r)
    n_records = sum(state.cache.file_sizes.values())
    on_driver = (
        state.num_partitions == 1
        or 0 < n_records <= opts.local_exec_max_records
    )
    ms_warn_key = (
        opts.multisweep_k, opts.multisweep_burnin_k,
        n_records, opts.local_exec_max_records, state.num_partitions == 1,
    )
    if (
        on_driver
        and (opts.multisweep_k > 1 or opts.multisweep_burnin_k > 1)
        and ms_warn_key not in _MS_IGNORED_WARNED
    ):
        # r14 ADVICE: the local path takes precedence over multisweep, so
        # a config asking for fusion on a driver-sized chain would
        # otherwise see no fusion and no signal. Fusion only amortizes the
        # DISTRIBUTED path's per-job floor; the local path has none, so
        # ignoring it is correct — but say so once.
        # r15 ADVICE: once-guard keyed on the option tuple so repeated
        # short sample() calls with the same config warn exactly once per
        # process (docs/README promise "one-time", not per-call).
        _MS_IGNORED_WARNED.add(ms_warn_key)
        if state.num_partitions == 1:
            # no cap routes a single partition to Spark, so there is no
            # workaround to suggest
            why = (
                "a single-partition chain always runs driver-local and "
                "already fuses every sweep up to the next save point"
            )
        else:
            why = (
                f"the chain ({n_records} records <= local_exec_max_records="
                f"{opts.local_exec_max_records}) runs driver-local, which "
                "has no per-job floor to amortize; set "
                "local_exec_max_records=0 to force the distributed path if "
                "fusion is wanted"
            )
        logging.getLogger(__name__).warning(
            "multisweep_k=%d/multisweep_burnin_k=%d ignored: %s",
            opts.multisweep_k, opts.multisweep_burnin_k, why,
        )
    while saved < sample_size:
        it = state.iteration
        if on_driver:
            # a single partition jumps straight to the next save point; on
            # more, fusing would relax migration and θ for nothing
            k = next_emit_after(it) - it if state.num_partitions == 1 else 1
            state = transition_local(state, opts.sampler, n_sweeps=k)
        else:
            if it < opts.burnin_interval:
                # fuse toward the burn-in boundary (phase switch exact)
                kmax = max(opts.multisweep_burnin_k, opts.multisweep_k)
                bound = opts.burnin_interval - it
            else:
                # fuse toward the next save point
                kmax = opts.multisweep_k
                bound = next_emit_after(it) - it
            k = max(1, min(kmax, bound))
            # one sweep keeps the two-argument call that erbench/layers.py's
            # fixed-signature `transition` wrapper accepts
            state = (
                transition(state, opts.sampler)
                if k == 1
                else transition(state, opts.sampler, n_sweeps=k)
            )
        it = state.iteration
        past_burnin = it > opts.burnin_interval
        on_thin = (it - opts.burnin_interval) % max(opts.thinning_interval, 1) == 0
        if past_burnin and on_thin:
            if writer:
                # when the chain lives driver-local, build the sample as an
                # Arrow table and let the writer flush it via pyarrow — the
                # per-save createDataFrame marshal + Spark write job otherwise
                # costs ~10x the kernel time between save points at RLdata10000
                # scale
                if state.local_parts is not None:
                    writer.append(linkage_sample_local(state))
                else:
                    writer.append(linkage_sample(state))
            saved += 1
            if diag:
                diag.write(state)
    if writer:
        writer.flush()
    if diag:
        diag.close()
    return state
