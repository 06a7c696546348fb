"""Markov-chain state as a DataFrame + the Spark-side transition operator.

State layout (one row per entity cluster, ref concept: Partitions =
RDD[(PartitionId, EntRecCluster)], package.scala:34,80-88):

    partition_id  int      entity-space partition (kernel group key)
    is_summary    boolean  per-partition summary rows ride along in-band
    ent_values    array<int>
    rec_ids       array<string>          linked records ([] = isolate)
    rec_fids      array<int>             file index per linked record
    rec_values    binary   packed little-endian int32, row-major (k, A)
    rec_dist      binary   packed uint8 0/1, row-major (k, A)
    loglik / n_isolates / agg_dist / rec_dist_hist   (summary rows only)

One iteration = groupBy(partition keys).applyInArrow(kernel) — a single
Arrow round-trip per partition and a single hash shuffle (clusters migrate to
the partition of their new entity values by virtue of the *next* groupBy),
matching the reference's mapPartitions + partitionBy cadence
(ref: GibbsUpdates.scala:124-153). In steady state the chain rides in BLOCK
format (see BLOCK_SCHEMA): each kernel emits one packed-buffer row per
destination partition, so the grouped Arrow boundary handles O(p) rows per
kernel instead of O(clusters) — cluster rows (STATE_SCHEMA) remain the
interchange format for init, save/load, and analysis. Summaries are
pre-aggregated inside the kernel and emitted as one in-band row per
partition, so the per-iteration driver action collects only num_partitions
tiny rows (the reference needed accumulator merges;
ref: GibbsUpdates.scala:219-301). Kernel groups are placed one-per-task:
a salt column decollides the group-key hash (every group gets its own
shuffle bucket) and AQE partition coalescing is disabled for the iteration
query (its bytes-based cost model would merge seconds-of-CPU kernels).

Seed discipline: kernel RNG = default_rng(seed + partition_id) — keyed on the
partition *data value*, not the Spark task index — and the kernel
canonicalizes its row order on entry (model.canonicalize_partition_state),
so RNG consumption order is determined by partition CONTENT alone. Together
these make task retries and AQE re-planning unable to change results, for
multi-partition chains included (the reference seeds by task index and
documents the weaker guarantee, State.scala:47-49).
"""

from __future__ import annotations

import copy
import weakref
from contextlib import contextmanager
from dataclasses import dataclass, replace
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dblink_spark.er.cache import RecordsCache
from dblink_spark.operators.workerboot import make_worker_boot
from dblink_spark.er.model import (
    PartitionState,
    canonicalize_partition_state,
    partition_summary,
    split_partition_state,
    transition_partition,
)
from dblink_spark.er.rand import sample_from_probs

STATE_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType()),
        StructField("is_summary", BooleanType()),
        StructField("ent_values", ArrayType(IntegerType())),
        StructField("rec_ids", ArrayType(StringType())),
        StructField("rec_fids", ArrayType(IntegerType())),
        # packed blobs, not nested arrays: array<array<T>> cells cost a
        # JVM-side element-by-element Arrow conversion per record per attr
        # (an identity applyInArrow round-trip of 300k nested rows measured
        # ~12s in one task); a binary cell is one memcpy each way.
        StructField("rec_values", BinaryType()),  # <i4, row-major (k, A)
        StructField("rec_dist", BinaryType()),  # uint8 0/1, row-major (k, A)
        StructField("loglik", DoubleType()),
        StructField("n_isolates", LongType()),
        StructField("agg_dist", ArrayType(LongType())),
        StructField("rec_dist_hist", ArrayType(LongType())),
    ]
)

#: Iteration-loop state format: ONE row per (kernel -> destination
#: partition) block, every per-record field packed into a binary blob.
#: Grouped Arrow execution (the sort/group/convert before a grouped-map
#: kernel) costs ~30-40us PER ROW single-threaded — an identity
#: groupBy().applyInArrow() over 300k cluster rows measured ~12s in one
#: task while the same bytes as a narrow mapInArrow cost 0.9s. Blocks cut
#: the grouped row count from O(clusters) to O(p^2), making the boundary a
#: handful of memcpys; cluster rows (STATE_SCHEMA) remain the interchange
#: format for init, save/load, and analysis consumers.
BLOCK_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType()),
        StructField("is_summary", BooleanType()),
        StructField("n_clusters", LongType()),
        StructField("ent_values", BinaryType()),  # <i4 (E, A)
        StructField("counts", BinaryType()),  # <i4 (E,) records per cluster
        StructField("rec_id_lens", BinaryType()),  # <i4 (R,) utf-8 lengths
        StructField("rec_id_data", BinaryType()),  # utf-8 concatenation
        StructField("rec_fids", BinaryType()),  # <i4 (R,)
        StructField("rec_values", BinaryType()),  # <i4 (R, A)
        StructField("rec_dist", BinaryType()),  # uint8 (R, A)
        StructField("loglik", DoubleType()),
        StructField("n_isolates", LongType()),
        StructField("agg_dist", ArrayType(LongType())),
        StructField("rec_dist_hist", ArrayType(LongType())),
    ]
)


@dataclass
class SummaryVars:
    """Per-iteration chain summaries (ref: package.scala:116-119)."""

    num_isolates: int
    log_likelihood: float
    agg_distortions: np.ndarray  # (A, F) counts
    rec_distortions: np.ndarray  # histogram over 0..A distorted attrs


class StateConsumedError(RuntimeError):
    """A transition already CONSUMED this state (its checkpoint storage was
    released when the successor materialized — see ``transition``'s
    consume-on-transition rule, r13). Reading or advancing it would hit
    freed RDD blocks deep inside Spark (raw
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``), so the reuse fails HERE with a
    name instead (r13 ADVICE). The rule: ADVANCE a chain through the state
    the last transition returned; FORK (linkage_sample, a second
    partitioner fit, ...) from the iteration-0 root or an
    ``assign_partitions`` result — roots and forks are never consumed. To
    keep a mid-chain snapshot readable, save it (``state_io.save_state``)
    or take ``state.df`` BEFORE advancing past it."""


@dataclass
class State:
    """Full chain state (ref: State.scala:56-68).

    The cluster rows live in ONE of three forms:

    - `_df` — cluster-row DataFrame (STATE_SCHEMA), the interchange format
      every external consumer reads (chain writer, save, analysis);
    - `block_df` — block-format DataFrame (BLOCK_SCHEMA), the iteration
      loop's wire format (distributed `transition` keeps the chain here);
    - `local_parts` — per-partition numpy states for driver-local advance.

    `state.df` is a lazy view: when only a non-cluster form exists it
    materializes cluster rows on first access (narrow mapInArrow unpack for
    blocks; Arrow createDataFrame for local parts), so consumers are
    oblivious to which form is current."""

    iteration: int
    _df: DataFrame | None  # cluster rows + in-band summary rows
    theta: np.ndarray  # (A, F) distortion probabilities
    population_size: int
    summary: SummaryVars
    partition_fn: Callable[[np.ndarray], np.ndarray]
    num_partitions: int
    start_seed: int
    current_seed: int
    cache: RecordsCache
    rng: np.random.Generator  # driver RNG (theta updates)
    #: driver-local per-partition state (pid -> PartitionState)
    local_parts: "dict[int, PartitionState] | None" = None
    spark: SparkSession | None = None
    #: iteration-loop block-format rows (BLOCK_SCHEMA)
    block_df: DataFrame | None = None
    #: lazily-created ``(weakref-to-cache, sc.broadcast(cache))`` memo
    #: (see ``_cache_ref``). The cache pickles to
    #: ~7 MB at 100k records; captured directly in the kernel closure it is
    #: re-serialized into every iteration's task binary and re-unpickled per
    #: task. As a broadcast it ships once and the worker-side broadcast
    #: registry caches the deserialized object across jobs (worker reuse),
    #: so the per-iteration closure is just theta + small callables —
    #: measured ~0.12 s/iteration at p=4 on local[32]. Mirrors the
    #: reference's broadcast RecordsCache (ref: RecordsCache.scala:74-106).
    cache_bcast: "object | None" = None
    #: set once a transition consumes this state (checkpoint storage
    #: released); any later read raises StateConsumedError by name
    _released: bool = False

    @property
    def df(self) -> DataFrame:
        if self._released:
            raise StateConsumedError(
                f"state at iteration {self.iteration} was consumed by a "
                "later transition; read .df before advancing, or fork from "
                "the chain root / an assign_partitions result"
            )
        if self._df is None and self.block_df is not None:
            self._df = _blocks_df_to_cluster_df(
                self.block_df, self.cache.num_attributes
            )
            return self._df
        if self._df is None:
            try:
                # Arrow-native marshal (Spark 4.0+ createDataFrame accepts a
                # pyarrow Table): no per-row Python lists, ~10x cheaper than
                # the pandas path at 100k+ records.
                tbl = pa.concat_tables(
                    [
                        _partition_state_to_pa(
                            self.local_parts[pid],
                            self.partition_fn(self.local_parts[pid].entities),
                            pid,
                            self.cache,
                        )
                        for pid in sorted(self.local_parts)
                    ]
                )
                self._df = self.spark.createDataFrame(tbl, schema=STATE_SCHEMA)
                return self._df
            except TypeError:  # pragma: no cover - pre-4.0 Spark fallback
                pass
            pdfs = [
                _partition_state_to_pdf(
                    self.local_parts[pid],
                    self.partition_fn(self.local_parts[pid].entities),
                    pid,
                    self.cache,
                )
                for pid in sorted(self.local_parts)
            ]
            pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
            # pandas infers the mostly-None summary scalars as float64
            # (None -> NaN), which LongType rejects; force object dtype
            pdf["loglik"] = np.array(
                [None if pd.isna(v) else float(v) for v in pdf["loglik"]],
                dtype=object,
            )
            pdf["n_isolates"] = np.array(
                [None if pd.isna(v) else int(v) for v in pdf["n_isolates"]],
                dtype=object,
            )
            self._df = self.spark.createDataFrame(pdf, STATE_SCHEMA)
        return self._df


# ---------------------------------------------------------------------------
# pandas <-> kernel marshalling
# ---------------------------------------------------------------------------


def _pdf_to_partition_state(pdf: pd.DataFrame, num_attrs: int) -> PartitionState:
    ents = np.array([np.asarray(v, dtype=np.int32) for v in pdf["ent_values"]])
    rec_ids, rec_fids, link = [], [], []
    val_chunks, dist_chunks = [], []
    for e, (ids, fids, vals, dist) in enumerate(
        zip(pdf["rec_ids"], pdf["rec_fids"], pdf["rec_values"], pdf["rec_dist"])
    ):
        rec_ids.extend(ids)
        rec_fids.extend(fids)
        link.extend([e] * len(ids))
        val_chunks.append(np.frombuffer(bytes(vals), dtype="<i4"))
        dist_chunks.append(np.frombuffer(bytes(dist), dtype=np.uint8))
    R = len(rec_ids)
    return PartitionState(
        entities=ents.reshape(len(pdf), num_attrs),
        rec_ids=np.asarray(rec_ids, dtype=str),
        rec_fids=np.array(rec_fids, dtype=np.int32),
        rec_values=(
            np.concatenate(val_chunks).astype(np.int32).reshape(R, num_attrs)
            if R
            else np.empty((0, num_attrs), dtype=np.int32)
        ),
        rec_dist=(
            np.concatenate(dist_chunks).astype(bool).reshape(R, num_attrs)
            if R
            else np.empty((0, num_attrs), dtype=bool)
        ),
        link=np.array(link, dtype=np.int64),
    )


def _partition_state_to_pdf(
    ps: PartitionState, new_pids: np.ndarray, summary_pid: int, cache: RecordsCache
) -> pd.DataFrame:
    order = np.argsort(ps.link, kind="stable")
    counts = np.bincount(ps.link, minlength=ps.num_entities)
    bounds = np.concatenate(([0], np.cumsum(counts)))
    rows = []
    for e in range(ps.num_entities):
        rs = order[bounds[e] : bounds[e + 1]]
        rows.append(
            {
                "partition_id": int(new_pids[e]),
                "is_summary": False,
                "ent_values": ps.entities[e].tolist(),
                "rec_ids": [ps.rec_ids[r] for r in rs],
                "rec_fids": ps.rec_fids[rs].tolist(),
                "rec_values": ps.rec_values[rs].astype("<i4").tobytes(),
                "rec_dist": ps.rec_dist[rs].astype(np.uint8).tobytes(),
                "loglik": None,
                "n_isolates": None,
                "agg_dist": None,
                "rec_dist_hist": None,
            }
        )
    loglik, n_iso, agg_dist, hist = partition_summary(ps, cache)
    rows.append(
        {
            "partition_id": summary_pid,
            "is_summary": True,
            "ent_values": None,
            "rec_ids": None,
            "rec_fids": None,
            "rec_values": None,
            "rec_dist": None,
            "loglik": loglik,
            "n_isolates": int(n_iso),
            "agg_dist": agg_dist.tolist(),
            "rec_dist_hist": hist.tolist(),
        }
    )
    return pd.DataFrame(rows)


#: Arrow twin of STATE_SCHEMA (exact dtype mapping Spark uses for Arrow UDFs)
_PA_STATE_SCHEMA = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("is_summary", pa.bool_()),
        ("ent_values", pa.list_(pa.int32())),
        ("rec_ids", pa.list_(pa.string())),
        ("rec_fids", pa.list_(pa.int32())),
        ("rec_values", pa.binary()),
        ("rec_dist", pa.binary()),
        ("loglik", pa.float64()),
        ("n_isolates", pa.int64()),
        ("agg_dist", pa.list_(pa.int64())),
        ("rec_dist_hist", pa.list_(pa.int64())),
    ]
)


def _binary_column_to_array(col: pa.ChunkedArray, dtype, n_items: int) -> np.ndarray:
    """Concatenate a binary column's cell payloads into one typed numpy
    array. Fast path: when the value buffer is dense (offsets cover it
    without gaps — always true for freshly built/filtered arrays), this is a
    single zero-copy frombuffer slice; otherwise falls back to a Python-level
    join of the cells."""
    arr = col.combine_chunks()
    itemsize = np.dtype(dtype).itemsize
    bufs = arr.buffers()
    if bufs[1] is not None and bufs[2] is not None and arr.null_count == 0:
        off_width = 8 if pa.types.is_large_binary(arr.type) else 4
        off_dtype = np.int64 if off_width == 8 else np.int32
        offs = np.frombuffer(bufs[1], dtype=off_dtype)[
            arr.offset : arr.offset + len(arr) + 1
        ]
        if int(offs[-1] - offs[0]) == n_items * itemsize:  # dense, no gaps
            data = np.frombuffer(bufs[2], dtype=np.uint8)[
                int(offs[0]) : int(offs[-1])
            ]
            return data.view(dtype).copy()
    return np.frombuffer(
        b"".join(arr.to_pylist()), dtype=dtype
    ).copy()


def _pa_to_partition_state(tbl: pa.Table, num_attrs: int) -> PartitionState:
    """Arrow-native twin of ``_pdf_to_partition_state``: nested list columns
    unpack via vectorized ``flatten()`` on the list offsets instead of
    materializing millions of per-cell Python lists.

    This is the decisive distributed-path optimization: at 300k records the
    Arrow→pandas conversion of ``array<array<int>>`` columns cost ~10s per
    iteration per task while the MCMC kernel itself cost ~1s."""
    import pyarrow.compute as pc

    E = tbl.num_rows
    ent = tbl.column("ent_values").combine_chunks()
    entities = (
        ent.flatten()
        .to_numpy(zero_copy_only=False)
        .astype(np.int32)
        .reshape(E, num_attrs)
    )
    rid = tbl.column("rec_ids").combine_chunks()
    counts = pc.list_value_length(rid).to_numpy(zero_copy_only=False).astype(np.int64)
    rec_ids = np.asarray(rid.flatten().to_pylist(), dtype=str)
    fid = tbl.column("rec_fids").combine_chunks()
    rec_fids = fid.flatten().to_numpy(zero_copy_only=False).astype(np.int32)
    R = rec_fids.shape[0]
    rec_values = _binary_column_to_array(
        tbl.column("rec_values"), "<i4", R * num_attrs
    ).reshape(R, num_attrs)
    rec_dist = (
        _binary_column_to_array(tbl.column("rec_dist"), np.uint8, R * num_attrs)
        .astype(bool)
        .reshape(R, num_attrs)
    )
    return PartitionState(
        entities=entities,
        rec_ids=rec_ids,
        rec_fids=rec_fids,
        rec_values=rec_values,
        rec_dist=rec_dist,
        link=np.repeat(np.arange(E, dtype=np.int64), counts),
    )


def _ps_cluster_body_pa(ps: PartitionState, new_pids: np.ndarray) -> pa.Table:
    """Cluster rows (no summary) for one PartitionState as an Arrow table:
    list columns assembled from (offsets, flat values) pairs — no per-row
    Python lists. Record order: stable grouping by entity."""
    order = np.argsort(ps.link, kind="stable")
    counts = np.bincount(ps.link, minlength=ps.num_entities)
    E, R, A = ps.num_entities, ps.num_records, ps.entities.shape[1]
    bounds = pa.array(
        np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
    )
    ent_vals = pa.ListArray.from_arrays(
        pa.array(np.arange(E + 1, dtype=np.int32) * A),
        pa.array(ps.entities.ravel(), type=pa.int32()),
    )
    rec_ids = pa.ListArray.from_arrays(
        bounds, pa.array(ps.rec_ids[order].tolist(), type=pa.string())
    )
    rec_fids = pa.ListArray.from_arrays(
        bounds, pa.array(ps.rec_fids[order], type=pa.int32())
    )
    # binary cells built zero-copy from (offsets, packed data) buffer pairs
    byte_bounds = bounds.to_numpy(zero_copy_only=False)
    rec_values = pa.Array.from_buffers(
        pa.binary(),
        E,
        [
            None,
            pa.py_buffer((byte_bounds * (A * 4)).astype(np.int32).tobytes()),
            pa.py_buffer(ps.rec_values[order].astype("<i4").tobytes()),
        ],
    )
    rec_dist = pa.Array.from_buffers(
        pa.binary(),
        E,
        [
            None,
            pa.py_buffer((byte_bounds * A).astype(np.int32).tobytes()),
            pa.py_buffer(ps.rec_dist[order].astype(np.uint8).tobytes()),
        ],
    )
    return pa.Table.from_arrays(
        [
            pa.array(np.asarray(new_pids, dtype=np.int32), type=pa.int32()),
            pa.array(np.zeros(E, dtype=bool)),
            ent_vals,
            rec_ids,
            rec_fids,
            rec_values,
            rec_dist,
            pa.nulls(E, pa.float64()),
            pa.nulls(E, pa.int64()),
            pa.nulls(E, pa.list_(pa.int64())),
            pa.nulls(E, pa.list_(pa.int64())),
        ],
        schema=_PA_STATE_SCHEMA,
    )


def _state_summary_row_pa(
    summary_pid: int, loglik, n_iso, agg_dist, hist
) -> pa.Table:
    """One in-band summary row in the cluster-row (STATE) schema."""
    return pa.Table.from_arrays(
        [
            pa.array([summary_pid], type=pa.int32()),
            pa.array([True]),
            pa.nulls(1, pa.list_(pa.int32())),
            pa.nulls(1, pa.list_(pa.string())),
            pa.nulls(1, pa.list_(pa.int32())),
            pa.nulls(1, pa.binary()),
            pa.nulls(1, pa.binary()),
            pa.array([float(loglik)], type=pa.float64()),
            pa.array([int(n_iso)], type=pa.int64()),
            pa.array([np.asarray(agg_dist, dtype=np.int64)], type=pa.list_(pa.int64())),
            pa.array([np.asarray(hist, dtype=np.int64)], type=pa.list_(pa.int64())),
        ],
        schema=_PA_STATE_SCHEMA,
    )


def _partition_state_to_pa(
    ps: PartitionState, new_pids: np.ndarray, summary_pid: int, cache: RecordsCache
) -> pa.Table:
    """Arrow-native twin of ``_partition_state_to_pdf``: cluster rows plus
    the in-band summary row."""
    body = _ps_cluster_body_pa(ps, new_pids)
    loglik, n_iso, agg_dist, hist = partition_summary(ps, cache)
    return pa.concat_tables(
        [body, _state_summary_row_pa(summary_pid, loglik, n_iso, agg_dist, hist)]
    )


# ---------------------------------------------------------------------------
# block-format marshalling (iteration-loop wire format; see BLOCK_SCHEMA)
# ---------------------------------------------------------------------------

_PA_BLOCK_SCHEMA = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("is_summary", pa.bool_()),
        ("n_clusters", pa.int64()),
        ("ent_values", pa.binary()),
        ("counts", pa.binary()),
        ("rec_id_lens", pa.binary()),
        ("rec_id_data", pa.binary()),
        ("rec_fids", pa.binary()),
        ("rec_values", pa.binary()),
        ("rec_dist", pa.binary()),
        ("loglik", pa.float64()),
        ("n_isolates", pa.int64()),
        ("agg_dist", pa.list_(pa.int64())),
        ("rec_dist_hist", pa.list_(pa.int64())),
    ]
)


def _ps_to_block_cells(ps: PartitionState, pid: int) -> list:
    """One BLOCK row's cells (ordered per _PA_BLOCK_SCHEMA, summary fields
    excluded) for one PartitionState. Record order: stable by entity."""
    order = np.argsort(ps.link, kind="stable")
    counts = np.bincount(ps.link, minlength=ps.num_entities).astype("<i4")
    ids = ps.rec_ids[order]
    id_bytes = [s.encode("utf-8") for s in ids]
    lens = np.fromiter((len(b) for b in id_bytes), dtype="<i4", count=len(id_bytes))
    return [
        pid,
        False,
        int(ps.num_entities),
        ps.entities.astype("<i4").tobytes(),
        counts.tobytes(),
        lens.tobytes(),
        b"".join(id_bytes),
        ps.rec_fids[order].astype("<i4").tobytes(),
        ps.rec_values[order].astype("<i4").tobytes(),
        ps.rec_dist[order].astype(np.uint8).tobytes(),
    ]


def _blocks_to_partition_state(tbl: pa.Table, num_attrs: int) -> PartitionState:
    """Concatenate BLOCK rows (any number, e.g. everything routed to one
    destination partition) back into a PartitionState. All per-record
    columns decode via frombuffer; only the record-id strings materialize
    as Python objects (the kernel needs them as such anyway)."""
    cols = {
        name: tbl.column(name).to_pylist()
        for name in (
            "n_clusters",
            "ent_values",
            "counts",
            "rec_id_lens",
            "rec_id_data",
            "rec_fids",
            "rec_values",
            "rec_dist",
        )
    }
    ents, cnts, ids, fids, vals, dist = [], [], [], [], [], []
    for i in range(tbl.num_rows):
        e_b = int(cols["n_clusters"][i])
        ents.append(
            np.frombuffer(cols["ent_values"][i], dtype="<i4").reshape(e_b, num_attrs)
        )
        c = np.frombuffer(cols["counts"][i], dtype="<i4").astype(np.int64)
        cnts.append(c)
        lens = np.frombuffer(cols["rec_id_lens"][i], dtype="<i4")
        data = cols["rec_id_data"][i]
        offs = np.concatenate(([0], np.cumsum(lens)))
        ids.extend(
            data[offs[j] : offs[j + 1]].decode("utf-8") for j in range(len(lens))
        )
        fids.append(np.frombuffer(cols["rec_fids"][i], dtype="<i4"))
        vals.append(
            np.frombuffer(cols["rec_values"][i], dtype="<i4").reshape(-1, num_attrs)
        )
        dist.append(
            np.frombuffer(cols["rec_dist"][i], dtype=np.uint8)
            .reshape(-1, num_attrs)
            .astype(bool)
        )
    entities = (
        np.concatenate(ents).astype(np.int32)
        if ents
        else np.empty((0, num_attrs), dtype=np.int32)
    )
    counts_all = (
        np.concatenate(cnts) if cnts else np.empty(0, dtype=np.int64)
    )
    E = entities.shape[0]
    return PartitionState(
        entities=entities,
        rec_ids=np.asarray(ids, dtype=str),
        rec_fids=(
            np.concatenate(fids).astype(np.int32)
            if fids
            else np.empty(0, dtype=np.int32)
        ),
        rec_values=(
            np.concatenate(vals).astype(np.int32)
            if vals
            else np.empty((0, num_attrs), dtype=np.int32)
        ),
        rec_dist=(
            np.concatenate(dist)
            if dist
            else np.empty((0, num_attrs), dtype=bool)
        ),
        link=np.repeat(np.arange(E, dtype=np.int64), counts_all),
    )


def _block_output_table(
    ps: PartitionState,
    new_pids: np.ndarray,
    src_pid: int,
    cache: RecordsCache,
) -> pa.Table:
    """Kernel output in BLOCK format: one row per destination partition
    (clusters routed by ``new_pids``) plus the in-band summary row."""
    parts = split_partition_state(ps, np.asarray(new_pids, dtype=np.int64))
    rows = [_ps_to_block_cells(sub, dst) for dst, sub in sorted(parts.items())]
    loglik, n_iso, agg_dist, hist = partition_summary(ps, cache)
    n_block_cols = 10  # cells emitted by _ps_to_block_cells
    arrays = []
    for idx, field in enumerate(_PA_BLOCK_SCHEMA):
        if idx < n_block_cols:
            vals = [r[idx] for r in rows]
        elif field.name == "loglik":
            vals = [None] * len(rows)
        elif field.name == "n_isolates":
            vals = [None] * len(rows)
        else:
            vals = [None] * len(rows)
        arrays.append(pa.array(vals, type=field.type))
    body = pa.Table.from_arrays(arrays, schema=_PA_BLOCK_SCHEMA)
    summ = pa.Table.from_arrays(
        [
            pa.array([src_pid], type=pa.int32()),
            pa.array([True]),
            pa.nulls(1, pa.int64()),
            pa.nulls(1, pa.binary()),
            pa.nulls(1, pa.binary()),
            pa.nulls(1, pa.binary()),
            pa.nulls(1, pa.binary()),
            pa.nulls(1, pa.binary()),
            pa.nulls(1, pa.binary()),
            pa.nulls(1, pa.binary()),
            pa.array([float(loglik)], type=pa.float64()),
            pa.array([int(n_iso)], type=pa.int64()),
            pa.array([np.asarray(agg_dist, dtype=np.int64)], type=pa.list_(pa.int64())),
            pa.array([np.asarray(hist, dtype=np.int64)], type=pa.list_(pa.int64())),
        ],
        schema=_PA_BLOCK_SCHEMA,
    )
    return pa.concat_tables([body, summ])


def _blocks_df_to_cluster_df(block_df: DataFrame, num_attrs: int) -> DataFrame:
    """Narrow mapInArrow unpack of BLOCK rows into cluster rows
    (STATE_SCHEMA) — no shuffle; summary rows pass through re-shaped."""

    boot = make_worker_boot()

    def unpack(batches):
        boot()  # stat-guard zipimport invalidation (operators/workerboot.py)
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            import pyarrow.compute as pc

            summ = tbl.filter(tbl.column("is_summary"))
            blocks = tbl.filter(pc.equal(tbl.column("is_summary"), False))
            out = []
            pids = blocks.column("partition_id").to_pylist()
            for i in range(blocks.num_rows):
                ps = _blocks_to_partition_state(blocks.slice(i, 1), num_attrs)
                out.append(
                    _ps_cluster_body_pa(
                        ps, np.full(ps.num_entities, pids[i], dtype=np.int32)
                    )
                )
            for i in range(summ.num_rows):
                out.append(
                    _state_summary_row_pa(
                        summ.column("partition_id")[i].as_py(),
                        summ.column("loglik")[i].as_py(),
                        summ.column("n_isolates")[i].as_py(),
                        summ.column("agg_dist")[i].as_py(),
                        summ.column("rec_dist_hist")[i].as_py(),
                    )
                )
            if out:
                for b in pa.concat_tables(out).to_batches():
                    yield b

    return block_df.mapInArrow(unpack, STATE_SCHEMA)


def run_fused_sweeps(
    ps: PartitionState,
    cache: RecordsCache,
    theta: np.ndarray,
    mode: str,
    seed: int,
    num_partitions: int,
    pid: int,
    n_sweeps: int,
    theta_per_sweep: bool = True,
) -> PartitionState:
    """`n_sweeps` consecutive Markov transitions over one partition's state.

    Shared by the Spark `applyInPandas` kernel and the driver-local fused
    path (`transition_fused(local=True)`) so both produce bit-identical
    chains. Sweep ``j`` uses rng seed ``seed + j*num_partitions + pid`` —
    exactly the seed the unfused path gives iteration ``j``. Between fused
    sweeps θ is redrawn in place when ``theta_per_sweep`` (single
    partition ⇒ local distortion counts are the global counts, so this is
    the same Beta posterior the driver would sample; ref:
    GibbsUpdates.scala:305-320). With ``theta_per_sweep=False`` the given
    θ holds for ALL sweeps — the multi-partition fused variant
    (``transition_multisweep``), where a per-sweep local redraw would
    sample from partition-local counts, a different model.

    The state is canonicalized on entry (content-determined row order), so
    the chain does not depend on shuffle fetch order — the property that
    makes the data-keyed seeds actually deliver retry/AQE-proof results on
    multi-partition chains."""
    num_attrs = cache.num_attributes
    num_files = len(cache.file_ids)
    ps = canonicalize_partition_state(ps)
    th = theta
    for j in range(n_sweeps):
        rng = np.random.default_rng(seed + j * num_partitions + pid)
        if j > 0 and theta_per_sweep:
            _, _, agg, _ = partition_summary(ps, cache)
            th = draw_theta(rng, cache, agg.reshape(num_attrs, num_files))
        ps = transition_partition(rng, ps, cache, th, mode)
    return ps


def _murmur3_int(x: int, seed: int = 42) -> int:
    """Murmur3_x86_32 of one int32, bit-identical to Spark's ``F.hash`` /
    ``HashPartitioning`` (seed 42; multi-column hashes chain the previous
    hash as the next seed). Public algorithm (Austin Appleby, public domain);
    pinned against Spark in tests/test_er_mcmc.py."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = x & 0xFFFFFFFF
    k = (k * c1) & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = (k * c2) & 0xFFFFFFFF
    h = seed & 0xFFFFFFFF
    h ^= k
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # finalization: 4 bytes hashed
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


#: memoized salt Column expressions keyed by (num_partitions, num_buckets)
#: — Column objects are immutable and plan-independent, so one expression
#: serves every iteration of every chain at that width. Unbounded growth
#: impossible in practice (a session uses a handful of widths). Values are
#: ``(weakref-to-SparkContext, expr)`` (r13 ADVICE): a Column is backed by
#: a py4j JVM object owned by ONE gateway — after a SparkContext restart in
#: the same process a cached expression references a dead JVM object and
#: every transition at that width would fail with an opaque py4j error, so
#: entries built under a different (or collected) context are rebuilt.
_SALT_EXPR_CACHE: dict = {}


def _kernel_salts(num_partitions: int, num_buckets: int) -> list[int] | None:
    """Per-partition salt values making ``pmod(hash(pid, salt), num_buckets)``
    pairwise distinct — each kernel group gets its OWN shuffle bucket, hence
    its own task.

    Hash-partitioning p group keys into m buckets collides two keys with
    probability ~p²/2m (birthday), and a collision serializes two
    compute-heavy kernels inside one task — at p=4, m=32 the stock hash
    really does collide (pids 1 and 3). Growing m instead would need m ~ p²
    for collision-freeness, which is absurd at p=1000; a driver-side salt
    search is O(m log m) once per transition and exact for any p <= m.
    Returns None when p > m (exact placement impossible; plain grouping is
    no worse then)."""
    if num_partitions > num_buckets:
        return None
    used: set[int] = set()
    salts: list[int] = []
    for pid in range(num_partitions):
        seed = _murmur3_int(pid)
        s = 0
        while True:
            b = _murmur3_int(s, seed) % num_buckets  # Python % == Spark pmod
            if b not in used:
                used.add(b)
                salts.append(s)
                break
            s += 1
    return salts


def _salted_group(
    df: DataFrame, num_partitions: int, num_buckets: int | None = None
) -> tuple[DataFrame, list[str]]:
    """Attach the collision-free salt column and return (df, grouping keys).

    The kernel still reads ``key[0]`` for the partition id, and the salt is a
    pure function of partition_id, so chains are bit-identical with or
    without it — only task *placement* changes. ``num_buckets`` is the
    shuffle width the iteration query will run with (``_kernel_exec_conf``
    scopes ``spark.sql.shuffle.partitions`` to the same value); when None,
    the session conf is read as a fallback."""
    if num_partitions <= 1:
        return df, ["partition_id"]
    if num_buckets is not None:
        m = num_buckets
    else:
        spark = df.sparkSession
        try:
            # Non-numeric values (e.g. "auto" on some platforms) or an AQE
            # initialPartitionNum override make the bucket prediction wrong;
            # placement is only an optimization, so degrade to unsalted.
            m = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:  # noqa: BLE001 - conf absent or non-numeric
            return df, ["partition_id"]
    salts = _kernel_salts(num_partitions, m)
    if salts is None:
        return df, ["partition_id"]
    # Column expressions are plan-independent; memoize per (p, m) so the
    # per-iteration driver cost is one withColumn, not p+3 py4j
    # expression-construction round-trips (the transition loop calls this
    # every iteration — measured ~17 ms/iter at p=4 rebuilt fresh)
    key = (num_partitions, m)
    sc = df.sparkSession.sparkContext
    hit = _SALT_EXPR_CACHE.get(key)
    # validate the cached Column was built under the LIVE context (a
    # weakref, not id(), because CPython reuses ids after GC)
    expr = hit[1] if hit is not None and hit[0]() is sc else None
    if expr is None:
        arr = F.array(*[F.lit(s) for s in salts])
        expr = F.element_at(arr, F.col("partition_id") + 1)
        _SALT_EXPR_CACHE[key] = (weakref.ref(sc), expr)
    return (
        df.withColumn("__kernel_salt", expr),
        ["partition_id", "__kernel_salt"],
    )


@contextmanager
def _kernel_exec_conf(spark: SparkSession, shuffle_partitions: int | None = None):
    """Run the iteration query with AQE partition coalescing OFF and (when
    ``shuffle_partitions`` is given) the shuffle width pinned to the kernel
    count.

    The coalescer's cost model is bytes-based; a kernel group is a few MB of
    state but seconds of compute, so AQE happily merges all groups into one
    task (observed: a 4-partition RLdata10000 iteration ran as ONE task),
    silently serializing the partition parallelism the sampler exists to
    exploit. SQLConf is snapshotted when the action starts, so scoping the
    toggles around the materializing collect confines them to iteration
    queries; analytic queries keep coalescing (there it is the right
    behavior).

    Pinning ``spark.sql.shuffle.partitions`` to p kills the empty-bucket
    tasks: at the default 32 buckets a p=4 iteration schedules 32 map + 32
    reduce tasks of which 56 carry nothing — measured ~0.1 s/iteration of
    pure scheduling on local[32]. With width p and the collision-free salts
    (``_kernel_salts(p, p)``) each kernel owns exactly one bucket, so steady
    state runs p map + p reduce tasks. Placement quality is unchanged (the
    salt search is exact for any p <= m, and here m == p)."""
    keys = {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
    if shuffle_partitions is not None and shuffle_partitions >= 1:
        keys["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    olds: dict[str, str | None] = {}
    for k, v in keys.items():
        try:
            olds[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 - conf may be unset
            olds[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in olds.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def _resolve_cache(cache_ref) -> RecordsCache:
    """Accept either a bare RecordsCache or a ``sc.broadcast`` handle.

    On executors the broadcast path hits the worker-process broadcast
    registry, so the ~7 MB cache is deserialized once per worker instead of
    once per task per iteration."""
    from pyspark.broadcast import Broadcast

    return cache_ref.value if isinstance(cache_ref, Broadcast) else cache_ref


def make_transition_kernel(
    cache: RecordsCache,
    theta: np.ndarray,
    mode: str,
    seed: int,
    partition_fn: Callable[[np.ndarray], np.ndarray],
    n_sweeps: int = 1,
    num_partitions: int = 1,
    theta_per_sweep: bool = True,
):
    """Build the applyInPandas kernel for one iteration (or, with
    ``n_sweeps > 1``, several fused iterations — single-partition only; see
    ``transition_fused``). theta/seed are captured in the closure — the
    Python-native equivalent of the reference's per-iteration distProbs
    broadcast (ref: State.scala:83-84). Sweep ``j`` uses rng seed
    ``seed + j*num_partitions + pid``, exactly the seed the unfused path
    would give iteration ``j``."""
    cache_ref = cache
    num_attrs = _resolve_cache(cache_ref).num_attributes
    boot = make_worker_boot()

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        boot()  # stat-guard zipimport invalidation (operators/workerboot.py)
        cache = _resolve_cache(cache_ref)
        pid = int(key[0])
        pdf = pdf[~pdf["is_summary"]]
        if len(pdf) == 0:
            return pd.DataFrame(columns=[f.name for f in STATE_SCHEMA.fields])
        ps = _pdf_to_partition_state(pdf, num_attrs)
        ps = run_fused_sweeps(
            ps, cache, theta, mode, seed, num_partitions, pid, n_sweeps,
            theta_per_sweep,
        )
        new_pids = partition_fn(ps.entities)
        return _partition_state_to_pdf(ps, new_pids, pid, cache)

    return kernel


def make_transition_kernel_arrow(
    cache: RecordsCache,
    theta: np.ndarray,
    mode: str,
    seed: int,
    partition_fn: Callable[[np.ndarray], np.ndarray],
    n_sweeps: int = 1,
    num_partitions: int = 1,
    theta_per_sweep: bool = True,
):
    """``applyInArrow`` twin of :func:`make_transition_kernel`: identical
    chain content (same ``run_fused_sweeps``, same canonicalization, same
    seeds) but the state crosses the JVM/Python boundary as packed Arrow
    buffers. Accepts EITHER cluster rows (first transition after init/
    load) or BLOCK rows (steady state, detected by the ``counts`` column)
    and always emits BLOCK rows — grouped Arrow execution costs ~30-40us
    per input row, so keeping the loop in block format turns the group
    boundary from O(clusters) rows into O(p) per kernel."""
    cache_ref = cache
    num_attrs = _resolve_cache(cache_ref).num_attributes
    boot = make_worker_boot()

    def kernel(key: tuple, tbl: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        boot()  # stat-guard zipimport invalidation (operators/workerboot.py)
        cache = _resolve_cache(cache_ref)
        k0 = key[0]
        pid = int(k0.as_py() if hasattr(k0, "as_py") else k0)
        tbl = tbl.filter(pc.equal(tbl.column("is_summary"), False))
        if tbl.num_rows == 0:
            return _PA_BLOCK_SCHEMA.empty_table()
        if "counts" in tbl.schema.names:
            ps = _blocks_to_partition_state(tbl, num_attrs)
        else:
            ps = _pa_to_partition_state(tbl, num_attrs)
        ps = run_fused_sweeps(
            ps, cache, theta, mode, seed, num_partitions, pid, n_sweeps,
            theta_per_sweep,
        )
        new_pids = partition_fn(ps.entities)
        return _block_output_table(ps, new_pids, pid, cache)

    return kernel


def _apply_kernel_grouped(
    df_in: DataFrame,
    keys: list[str],
    cache: RecordsCache,
    theta: np.ndarray,
    mode: str,
    seed: int,
    partition_fn: Callable[[np.ndarray], np.ndarray],
    n_sweeps: int = 1,
    num_partitions: int = 1,
    theta_per_sweep: bool = True,
) -> tuple[DataFrame, bool]:
    """Group by the kernel keys and apply the transition kernel. Returns
    ``(new_df, is_block)``: Arrow-capable Spark (4.0+) runs the block-format
    loop; the pandas fallback keeps the cluster-row format."""
    grouped = df_in.groupBy(*keys)
    if hasattr(grouped, "applyInArrow"):
        kernel = make_transition_kernel_arrow(
            cache, theta, mode, seed, partition_fn, n_sweeps,
            num_partitions, theta_per_sweep,
        )
        return grouped.applyInArrow(kernel, BLOCK_SCHEMA), True
    kernel = make_transition_kernel(
        cache, theta, mode, seed, partition_fn, n_sweeps, num_partitions,
        theta_per_sweep,
    )
    return grouped.applyInPandas(kernel, STATE_SCHEMA), False


def _cache_ref(state: State, df: DataFrame):
    """Lazily broadcast the cache (once per chain) and return the handle to
    capture in kernel closures; falls back to the bare object if broadcast
    creation fails (placement/size optimizations must never break the
    chain). A failure is memoized (``cache_bcast = (id, False)``) so a
    broken context is not re-attempted every transition. The successful
    handle lives as long as the State holds it — the ContextCleaner
    reclaims the broadcast blocks once the last State referencing it is
    garbage collected, the normal Spark broadcast lifecycle.

    The memo is keyed by a WEAKREF to the cache it was built from (r5
    ADVICE): a State built with a DIFFERENT cache but a carried-over
    ``cache_bcast`` (e.g. via ``dataclasses.replace``) would otherwise
    silently run kernels against the stale broadcast; an identity mismatch
    re-broadcasts instead (a weakref, not ``id()``, because ids are reused
    after GC)."""
    memo = state.cache_bcast
    if not (
        isinstance(memo, tuple)
        and len(memo) == 2
        and memo[0]() is state.cache
    ):
        try:
            handle = df.sparkSession.sparkContext.broadcast(state.cache)
        except Exception:  # noqa: BLE001 - e.g. mocked/stopped context
            handle = False
        state.cache_bcast = (weakref.ref(state.cache), handle)
    handle = state.cache_bcast[1]
    return handle if handle else state.cache


def _release_state_df(old_df) -> None:
    """Free a retired state DataFrame's storage NOW, not at GC time.

    ``DataFrame.unpersist`` only clears the CacheManager entry; a
    ``localCheckpoint``'ed state's storage lives on the CHECKPOINT RDD
    inside its LogicalRDD plan, which survives until the py4j object is
    garbage collected and the ContextCleaner gets to it. Measured on the
    1M-record chain (r13): one leaked ~60 MB cached RDD per iteration,
    monotone growth — a 1,000-iteration production run would pin ~60 GB
    of storage it never reads again. Reaching through the analyzed plan
    for ``.rdd()`` (only LogicalRDD has it; anything else raises and is
    ignored) releases the blocks immediately."""
    if old_df is None:
        return
    try:
        old_df.unpersist()
    except Exception:  # noqa: BLE001 — may be unpersisted already
        pass
    try:
        old_df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — not a checkpointed plan
        pass


def _consume_state_dfs(state: State, old_dfs) -> None:
    """Release retired checkpoint storage and mark the predecessor consumed
    (``StateConsumedError`` on any later read/advance). Only marks when
    the state actually LOSES readable content: a predecessor that still
    holds ``local_parts`` stays legitimately readable — its DataFrame
    forms were lazy Arrow materializations of the numpy state (never
    checkpointed; the release calls are no-ops on them), and the numpy
    state itself is untouched (r14 review fix: a transition_local state
    advanced through the distributed path was falsely marked)."""
    released = False
    for old_df in old_dfs:
        if old_df is not None:
            _release_state_df(old_df)
            released = True
    if released and state.local_parts is None:
        state._released = True


def _require_live(state: State, op: str) -> None:
    if state._released:
        raise StateConsumedError(
            f"{op}: state at iteration {state.iteration} was already "
            "consumed by a later transition; advance the state the last "
            "transition returned, or fork from the chain root / an "
            "assign_partitions result"
        )


def transition(
    state: State, mode: str, phase_sink: dict[str, float] | None = None
) -> State:
    """One Markov transition (ref: State.scala:78-99 `nextState`):
    θ update (driver Beta draws) → partition kernels (one shuffle) →
    in-band summary collection.

    CONSUMES its input past iteration 0: the previous state's checkpoint
    storage is released once the new state materializes (r13 — pre-r13
    this leaked ~60 MB/iteration at 1M records), so reading or advancing
    a STALE mid-chain handle you already transitioned past raises
    ``StateConsumedError`` by name (r14, the r13 ADVICE: previously the
    reuse surfaced as a raw CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND from deep
    inside Spark). Iteration-0 roots and `assign_partitions` forks stay
    readable.

    ``phase_sink`` (bench/profiling only): when given, receives
    ``{"plan": s, "job": s}`` — the driver-side cost (θ draw, salt
    column, kernel plan build + cloudpickle, lazy-checkpoint Catalyst
    planning) vs the one Spark job (scan → shuffle → Python kernels →
    checkpoint materialization → summary collect). Zero overhead when
    None (two branch checks)."""
    import time as _time

    _require_live(state, "transition")
    t0 = _time.time() if phase_sink is not None else 0.0
    cache = state.cache
    theta, rng = _next_theta(state)

    # steady state keeps the chain in block format (O(p) grouped rows per
    # kernel); entry from init/load/assign feeds cluster rows once
    src = state.block_df if state.block_df is not None else state.df
    p = state.num_partitions
    df_in, keys = _salted_group(src, p, num_buckets=p)
    # _kernel_exec_conf must wrap localCheckpoint too: the checkpoint call
    # builds the QueryExecution (and snapshots SQLConf) even though the lazy
    # materialization only happens at the summary collect below.
    with _kernel_exec_conf(df_in.sparkSession, shuffle_partitions=p):
        new_df, is_block = _apply_kernel_grouped(
            df_in, keys, _cache_ref(state, df_in), theta, mode,
            state.current_seed, state.partition_fn, num_partitions=p,
        )
        # Truncate lineage every iteration: the DataFrame analogue of the
        # reference's persist + periodic checkpoint (ref: Sampler.scala:56,
        # util/PeriodicCheckpointer.scala) — without this the plan grows per
        # iteration and Catalyst analysis time dominates. Lazy: the summary
        # collect right below materializes the checkpoint, so each transition
        # costs ONE job instead of two.
        new_df = new_df.localCheckpoint(eager=False)
        if phase_sink is not None:
            t1 = _time.time()
            phase_sink["plan"] = t1 - t0
        summary = collect_summary(new_df, cache)
        if phase_sink is not None:
            phase_sink["job"] = _time.time() - t1
    # never release the chain ROOT (iteration 0): init states are
    # legitimately reused as fork points (part.fit(s0.df) after a
    # warm fused transition; multi-partitioning sweeps); from
    # iteration 1 on the predecessor is genuinely retired chain state
    old_dfs = (
        [state._df, state.block_df] if state.iteration > 0 else []
    )
    new_state = replace(
        state,
        iteration=state.iteration + 1,
        _df=None if is_block else new_df,
        block_df=new_df if is_block else None,
        local_parts=None,
        theta=theta,
        rng=rng,
        summary=summary,
        current_seed=state.current_seed + state.num_partitions,
    )
    _consume_state_dfs(state, old_dfs)
    return new_state


def transition_fused(
    state: State, mode: str, n_sweeps: int, local: bool = True
) -> State:
    """``n_sweeps`` Markov transitions without per-iteration Spark jobs.

    Only valid for single-partition chains: no clusters can migrate, and the
    partition's distortion counts are the global counts, so the per-sweep θ
    update (M15) can run inside the sweep loop. A single-partition chain has
    no distributable work — it IS a driver-sized problem (the reference runs
    these on local[1], docs/guide.md:132-141) — so by default the sweeps run
    driver-local on the cached numpy state, skipping the Arrow round-trip
    and job-scheduling floor entirely; `state.df` rematerializes lazily when
    a DataFrame consumer (chain writer, save) needs it. ``local=False``
    keeps the Spark `applyInPandas` execution (one job per call). Both paths
    call `run_fused_sweeps`, so they produce bit-identical chains. The chain
    is statistically identical to the unfused sampler (same kernels, same
    seeds per sweep); only θ's RNG stream differs, so a fused run is not
    bit-identical to an unfused one.
    """
    _require_live(state, "transition_fused")
    if state.num_partitions != 1:
        raise ValueError("transition_fused requires a single-partition chain")
    if n_sweeps < 1:
        raise ValueError("n_sweeps must be >= 1")
    cache = state.cache
    theta, rng = _next_theta(state)
    if local:
        ps = state.local_parts[0] if state.local_parts else None
        if ps is None:
            if hasattr(state.df, "toArrow"):
                import pyarrow.compute as pc

                tbl = state.df.toArrow()
                tbl = tbl.filter(pc.equal(tbl.column("is_summary"), False))
                ps = _pa_to_partition_state(tbl, cache.num_attributes)
            else:
                pdf = state.df.toPandas()
                ps = _pdf_to_partition_state(
                    pdf[~pdf["is_summary"]], cache.num_attributes
                )
        ps = run_fused_sweeps(
            ps, cache, theta, mode, state.current_seed, 1, 0, n_sweeps
        )
        # Canonicalize record order (stable-grouped by entity) — the exact
        # normalization a DataFrame round trip applies via
        # _partition_state_to_pdf — so local continuation, save/resume, and
        # the Spark fused path all see identical array layouts and produce
        # bit-identical chains and float sums.
        order = np.argsort(ps.link, kind="stable")
        ps = PartitionState(
            entities=ps.entities,
            rec_ids=ps.rec_ids[order],
            rec_fids=ps.rec_fids[order],
            rec_values=ps.rec_values[order],
            rec_dist=ps.rec_dist[order],
            link=ps.link[order],
        )
        loglik, n_iso, agg, hist = partition_summary(ps, cache)
        A, Fn = cache.num_attributes, len(cache.file_ids)
        summary = SummaryVars(
            num_isolates=int(n_iso),
            log_likelihood=float(loglik),
            agg_distortions=agg.reshape(A, Fn),
            rec_distortions=hist,
        )
        # never release the chain ROOT (iteration 0): init states are
        # legitimately reused as fork points (part.fit(s0.df) after a
        # warm fused transition; multi-partitioning sweeps); from
        # iteration 1 on the predecessor is genuinely retired chain state
        old_dfs = (
            [state._df, state.block_df] if state.iteration > 0 else []
        )
        new_state = replace(
            state,
            iteration=state.iteration + n_sweeps,
            _df=None,
            block_df=None,
            local_parts={0: ps},
            theta=theta,
            rng=rng,
            summary=summary,
            current_seed=state.current_seed + n_sweeps,
        )
    else:
        src = state.block_df if state.block_df is not None else state.df
        p = state.num_partitions
        df_in, keys = _salted_group(src, p, num_buckets=p)
        with _kernel_exec_conf(df_in.sparkSession, shuffle_partitions=p):
            new_df, is_block = _apply_kernel_grouped(
                df_in, keys, _cache_ref(state, df_in), theta, mode,
                state.current_seed, state.partition_fn, n_sweeps=n_sweeps,
                num_partitions=p,
            )
            new_df = new_df.localCheckpoint(eager=False)
            summary = collect_summary(new_df, cache)
        # never release the chain ROOT (iteration 0): init states are
        # legitimately reused as fork points (part.fit(s0.df) after a
        # warm fused transition; multi-partitioning sweeps); from
        # iteration 1 on the predecessor is genuinely retired chain state
        old_dfs = (
            [state._df, state.block_df] if state.iteration > 0 else []
        )
        new_state = replace(
            state,
            iteration=state.iteration + n_sweeps,
            _df=None if is_block else new_df,
            block_df=new_df if is_block else None,
            local_parts=None,
            theta=theta,
            rng=rng,
            summary=summary,
            current_seed=state.current_seed + n_sweeps * state.num_partitions,
        )
    _consume_state_dfs(state, old_dfs)
    return new_state


def transition_multisweep(
    state: State, mode: str, n_sweeps: int,
    phase_sink: dict[str, float] | None = None,
) -> State:
    """``n_sweeps`` kernel sweeps per Spark job on a MULTI-partition chain
    (VERDICT r13 task 3) — the distributed fusion ``transition_fused``
    provides for p=1.

    The measured per-iteration floor is structural: ~0.157s of driver
    plan-build + Python-job scheduling per transition at rl10k p=4
    (bench ``er_iterfloor_*``), one job per iteration being the
    reference's own cadence (ref: State.scala:78-99). Fusing k sweeps
    into each job amortizes that floor k× — the kernels loop k times on
    the partition state they already hold in memory, so the extra sweeps
    cost only their numpy compute.

    CHAIN-SEMANTICS DIFFERENCE vs k unfused transitions (opt-in, k=1 is
    bit-identical to ``transition`` — pinned in tests/test_er_mcmc.py):

    - **Migration every k sweeps.** Clusters move to the partition of
      their (new) entity values only at job boundaries, so for sweeps
      2..k a cluster whose entity drifted across a KD-tree cell boundary
      keeps sampling against its OLD partition's inverted index. Same
      class of approximation the partitioned model already makes within
      one sweep (the reference's partitions, too, only exchange at
      iteration boundaries); it relaxes k× further.
    - **θ every k sweeps.** θ is drawn ONCE per job from the previous
      global summary and held fixed for all k sweeps (a per-sweep redraw
      inside a partition would sample from partition-LOCAL distortion
      counts — a different posterior; that exact redraw is only valid at
      p=1, where ``transition_fused`` does it). The (θ, linkage) blocked
      scan remains a valid sampler — each block conditions on the
      other's current value — just on a k-sweep cadence.

    Both relaxations vanish at k=1. MEASURED quality cost (rl10k
    reference config end-to-end, 1000-iteration chains, distributed
    2-partition): F1/ARI 0.764 at k=1, 0.725 at k=2, 0.713 at k=8 — and
    a 2000-iteration k=8 chain lands 0.703, so extra length does NOT
    buy the cadence back at this scale. Throughput at p=4 scales
    4.7/10.6/20.2/37.8 it/s for k=1/2/4/8. The honest trade: use k>1
    where throughput is the binding constraint (burn-in, exploratory
    runs, partition-count sweeps) and k=1 reference cadence for the
    chains whose samples you keep — the measured best-of-both is
    ``SamplerOptions.multisweep_burnin_k``: burn-in fused at k=8 +
    sampling at k=1 lands F1/ARI 0.772 on the same rl10k workload
    (kept-sample quality fully preserved, burn-in ~8x). The bench tracks
    all three sides every round (VERDICT r14 task 2): throughput
    (``er_rl10k_multisweep4p_k*``), the pessimal full-chain k=8 quality
    pin (``er_rl10k_multisweep_f1/ari``), and the recommended
    burn-in-fused config's kept-sample quality
    (``er_rl10k_burninfused_f1/ari``).

    AT SCALE the sweet spot SHRINKS (r15, BENCH_1M_MULTISWEEP_r15.json —
    1M records, interleaved k cycles, quiet host): the per-job floor the
    fusion amortizes is a small share of a 1M iteration, so the win
    saturates at k=2 (1.63x/1.42x/1.42x sec-per-iter at p=8/16/32) and
    LARGER k erodes it (k=8: 1.12x/0.97x/1.12x) — sweeps 2..k sample
    against progressively staler partitions and a fixed θ, and those
    kernels run measurably slower. Equal-sweep quality at 1M shows no
    k=8 penalty on the early chain (64-sweep final states: F1 0.157
    fused vs 0.062 unfused from the same init + seed stream, 1.8x less
    wall). Recommended k by regime: job-floor-bound chains (rl10k-class,
    <~100k records/partition-count) take k=8 burn-in; kernel-bound 1M+
    chains take k=2."""
    import time as _time

    _require_live(state, "transition_multisweep")
    if n_sweeps < 1:
        raise ValueError("n_sweeps must be >= 1")
    t0 = _time.time() if phase_sink is not None else 0.0
    cache = state.cache
    theta, rng = _next_theta(state)
    src = state.block_df if state.block_df is not None else state.df
    p = state.num_partitions
    df_in, keys = _salted_group(src, p, num_buckets=p)
    with _kernel_exec_conf(df_in.sparkSession, shuffle_partitions=p):
        new_df, is_block = _apply_kernel_grouped(
            df_in, keys, _cache_ref(state, df_in), theta, mode,
            state.current_seed, state.partition_fn, n_sweeps=n_sweeps,
            num_partitions=p, theta_per_sweep=False,
        )
        new_df = new_df.localCheckpoint(eager=False)
        if phase_sink is not None:
            t1 = _time.time()
            phase_sink["plan"] = t1 - t0
        summary = collect_summary(new_df, cache)
        if phase_sink is not None:
            phase_sink["job"] = _time.time() - t1
    old_dfs = (
        [state._df, state.block_df] if state.iteration > 0 else []
    )
    new_state = replace(
        state,
        iteration=state.iteration + n_sweeps,
        _df=None if is_block else new_df,
        block_df=new_df if is_block else None,
        local_parts=None,
        theta=theta,
        rng=rng,
        summary=summary,
        current_seed=state.current_seed + n_sweeps * p,
    )
    _consume_state_dfs(state, old_dfs)
    return new_state


def _df_to_local_parts(
    df: DataFrame, num_attrs: int
) -> dict[int, PartitionState]:
    """Collect a state DataFrame into driver-local per-partition states
    (Arrow-native on Spark 4.0+, pandas fallback otherwise)."""
    if hasattr(df, "toArrow"):
        import pyarrow.compute as pc

        tbl = df.toArrow()
        tbl = tbl.filter(pc.equal(tbl.column("is_summary"), False))
        pids = np.unique(
            tbl.column("partition_id").to_numpy(zero_copy_only=False)
        )
        return {
            int(pid): _pa_to_partition_state(
                tbl.filter(pc.equal(tbl.column("partition_id"), int(pid))),
                num_attrs,
            )
            for pid in pids
        }
    pdf = df.toPandas()
    pdf = pdf[~pdf["is_summary"]]
    return {
        int(pid): _pdf_to_partition_state(grp, num_attrs)
        for pid, grp in pdf.groupby("partition_id")
    }


def transition_local(state: State, mode: str) -> State:
    """One Markov transition executed entirely on the driver.

    Same chain semantics as :func:`transition` — per-partition kernels with
    seed ``current_seed + pid``, θ drawn once from the driver RNG, clusters
    migrated to the partition of their new entity values — but without the
    per-iteration Spark job: kernels run sequentially on cached numpy
    states and migration is an in-memory split+concat
    (``model.split_partition_state`` / ``concat_partition_states``).

    The kernels canonicalize on entry, so a chain advanced locally produces
    the SAME cluster content as the Spark ``applyInPandas`` execution
    (pinned by tests/test_er_mcmc.py::test_local_vs_spark_multi_partition);
    float log-likelihood sums match bit-exactly for ≤2 partitions (IEEE
    addition is commutative) and to reordering rounding beyond that.

    Use when the whole state comfortably fits on the driver — the sampler
    gates it on total record count. The Spark path remains the execution
    strategy at scale; this removes the ~1.5 s/iteration job floor that
    dominates driver-sized problems (the reference runs these workloads on
    local[1], docs/guide.md:132-141).
    """
    _require_live(state, "transition_local")
    cache = state.cache
    num_attrs = cache.num_attributes
    theta, rng = _next_theta(state)
    parts = state.local_parts
    if parts is None:
        parts = _df_to_local_parts(state.df, num_attrs)
    P = state.num_partitions

    from dblink_spark.er.model import concat_partition_states, split_partition_state

    swept: dict[int, PartitionState] = {}
    for pid in sorted(parts):
        swept[pid] = run_fused_sweeps(
            parts[pid], cache, theta, mode, state.current_seed, P, pid, 1
        )

    # summaries on the post-sweep, pre-migration states (what the Spark
    # kernel emits as in-band rows), reduced in pid order
    A, Fn = num_attrs, len(cache.file_ids)
    loglik, n_iso = 0.0, 0
    agg = np.zeros(A * Fn, dtype=np.int64)
    hist = np.zeros(A + 1, dtype=np.int64)
    for pid in sorted(swept):
        ll, ni, ag, hs = partition_summary(swept[pid], cache)
        loglik += ll
        n_iso += int(ni)
        agg += ag
        hist += hs
    summary = SummaryVars(
        num_isolates=n_iso,
        log_likelihood=float(loglik),
        agg_distortions=agg.reshape(A, Fn),
        rec_distortions=hist,
    )

    # migrate clusters to the partition of their new entity values
    buckets: dict[int, list[PartitionState]] = {}
    for pid in sorted(swept):
        ps = swept[pid]
        for t, sub in split_partition_state(
            ps, state.partition_fn(ps.entities)
        ).items():
            buckets.setdefault(t, []).append(sub)
    migrated = {t: concat_partition_states(subs) for t, subs in buckets.items()}

    # never release the chain ROOT (iteration 0): init states are
    # legitimately reused as fork points (part.fit(s0.df) after a
    # warm fused transition; multi-partitioning sweeps); from
    # iteration 1 on the predecessor is genuinely retired chain state
    old_dfs = (
        [state._df, state.block_df] if state.iteration > 0 else []
    )
    new_state = replace(
        state,
        iteration=state.iteration + 1,
        _df=None,
        block_df=None,
        local_parts=migrated,
        theta=theta,
        rng=rng,
        summary=summary,
        current_seed=state.current_seed + P,
    )
    _consume_state_dfs(state, old_dfs)
    return new_state


class PartitionBudgetError(RuntimeError):
    """A partition's packed state would exceed the configured memory budget
    (or Arrow's hard per-cell ceiling). Raised at ``assign_partitions`` time
    — fail fast on the driver instead of an executor OOM / Arrow overflow
    mid-chain. The fix is always the same: more, smaller partitions
    (``KDTreePartitioner(num_levels=...)`` +1 halves the largest one)."""


#: Arrow binary cells use 32-bit offsets: one packed buffer (the largest is
#: rec_values at 4*R*A bytes) must stay below 2^31 bytes or the kernel's
#: Arrow marshal overflows. This ceiling is structural, not configurable.
_ARROW_CELL_LIMIT = (1 << 31) - 1

#: Default per-partition packed-state budget. The whole partition is
#: materialized in one grouped-Arrow task (the reference shares the
#: limitation — SURVEY §4: "spill is not handled"; ref:
#: GibbsUpdates.scala:175-184 likewise collects the full partition), and
#: the kernel's numpy working set runs a small multiple of the packed
#: bytes, so 2 GiB packed keeps a task comfortably inside a typical
#: 8-16 GiB executor. Override per call or via
#: ``DBLINK_PARTITION_BUDGET_MB``; 0 disables the soft budget (Arrow
#: hard-ceiling check only — see ``audit_partition_budget``).
_DEFAULT_PARTITION_BUDGET_MB = 2048


def audit_partition_budget(
    state_df: DataFrame,
    num_attributes: int,
    budget_bytes: int | None = None,
) -> list[dict]:
    """Per-partition packed-state byte estimate, checked against the budget.

    One cheap aggregation job over the (already checkpointed) cluster rows:
    for each partition, E clusters and R records pack to
    ``4*A*E + 4*E`` (ent_values + counts) plus the record blobs
    (rec_values 4*R*A, rec_dist R*A — measured exactly via octet_length),
    plus rec_id payload (utf-8 bytes + 4*R lengths) and fids (4*R) — the
    BLOCK_SCHEMA wire format's exact widths.

    Raises :class:`PartitionBudgetError` when any partition exceeds the
    budget, or when its largest single Arrow cell would exceed the 2^31
    hard ceiling regardless of budget. Returns the per-partition stats
    (sorted by bytes, descending) for diagnostics/tests.

    ``budget_bytes=0`` (or ``DBLINK_PARTITION_BUDGET_MB=0``) is the
    explicit opt-out sentinel (ADVICE r8): deployments that deliberately
    run partitions above the default 2 GiB — executors with real headroom
    — disable the soft budget without losing the STRUCTURAL 2^31 Arrow
    cell check, which is never skippable (exceeding it corrupts the
    kernel marshal, not just memory)."""
    import os

    if budget_bytes is None:
        budget_bytes = (
            int(os.environ.get(
                "DBLINK_PARTITION_BUDGET_MB", _DEFAULT_PARTITION_BUDGET_MB
            ))
            << 20
        )
    if budget_bytes < 0:
        # only the EXPLICIT 0 sentinel disables the soft budget (ADVICE r9:
        # a typo'd DBLINK_PARTITION_BUDGET_MB=-2048 must not silently opt out)
        raise ValueError(
            f"partition budget must be >= 0 (0 disables the soft budget); "
            f"got {budget_bytes} bytes"
        )
    rows = (
        state_df.filter(~F.col("is_summary"))
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("E"),
            F.sum(F.size("rec_ids")).alias("R"),
            F.sum(
                F.octet_length("rec_values") + F.octet_length("rec_dist")
            ).alias("blob_bytes"),
            F.sum(
                F.aggregate(
                    "rec_ids",
                    F.lit(0).cast("long"),
                    lambda acc, rid: acc + F.octet_length(rid),
                )
            ).alias("id_bytes"),
        )
        .collect()
    )
    stats = []
    for r in rows:
        e, rec, blob, ids = int(r["E"]), int(r["R"] or 0), int(
            r["blob_bytes"] or 0
        ), int(r["id_bytes"] or 0)
        packed = 4 * num_attributes * e + 4 * e + blob + ids + 8 * rec
        stats.append(
            {
                "partition_id": int(r["partition_id"]),
                "n_clusters": e,
                "n_records": rec,
                "packed_bytes": packed,
                "max_cell_bytes": max(4 * rec * num_attributes, ids),
            }
        )
    stats.sort(key=lambda s: -s["packed_bytes"])
    if stats:
        worst = stats[0]
        guidance = (
            "increase the partitioner's granularity — e.g. "
            "KDTreePartitioner(num_levels=+1) halves the largest partition "
            "— or raise DBLINK_PARTITION_BUDGET_MB if the executors have "
            "headroom"
        )
        if worst["max_cell_bytes"] > _ARROW_CELL_LIMIT:
            raise PartitionBudgetError(
                f"partition {worst['partition_id']} packs a "
                f"{worst['max_cell_bytes']:,}-byte Arrow cell "
                f"(> 2^31-1 hard ceiling; {worst['n_records']:,} records x "
                f"{num_attributes} attributes): {guidance}"
            )
        if budget_bytes > 0 and worst["packed_bytes"] > budget_bytes:
            raise PartitionBudgetError(
                f"partition {worst['partition_id']} packs "
                f"{worst['packed_bytes']:,} bytes "
                f"({worst['n_clusters']:,} clusters, "
                f"{worst['n_records']:,} records) > budget "
                f"{budget_bytes:,}: {guidance}"
            )
    return stats


def assign_partitions(
    state: State,
    partition_fn: Callable[[np.ndarray], np.ndarray],
    num_partitions: int,
    partition_budget_bytes: int | None = None,
) -> State:
    """Re-key every cluster row to a (newly fitted) partition function.

    Init runs under SinglePartition (the KD-tree fits on the *initialized*
    entity values), so without this remap the whole first transition would
    execute as ONE kernel group in a single task — a memory/straggler trap
    at scale. The reference initializes partitions with the fitted partition
    function (ref: State.scala:244-270); this is the DataFrame equivalent:
    a narrow mapInPandas (no shuffle — the first groupBy in transition()
    co-locates), re-checkpointed so the remap computes once.

    After the remap, :func:`audit_partition_budget` fails fast (with
    actionable guidance) if any partition's packed state would not fit the
    per-partition memory budget — the one scale ceiling this execution
    model has (each partition is materialized whole in one grouped-Arrow
    task; the reference shares it, SURVEY §4 "spill is not handled").
    """
    boot = make_worker_boot()

    def assign_pid(batches):
        boot()  # stat-guard zipimport invalidation (operators/workerboot.py)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.copy()
            mask = ~pdf["is_summary"]
            if mask.any():
                ents = np.stack(
                    [np.asarray(v, dtype=np.int32) for v in pdf.loc[mask, "ent_values"]]
                )
                pdf.loc[mask, "partition_id"] = partition_fn(ents).astype(np.int32)
            pdf["partition_id"] = pdf["partition_id"].astype(np.int32)
            yield pdf

    new_df = state.df.mapInPandas(assign_pid, STATE_SCHEMA).localCheckpoint(eager=True)
    audit_partition_budget(
        new_df, state.cache.num_attributes, partition_budget_bytes
    )
    # NO release of the input state's frames: assign_partitions is a FORK,
    # not an advance — callers legitimately re-key the SAME source state
    # under several partitioners (the bench's 1/2/4-part sweeps, probe
    # tools), so the input must stay readable (releasing here broke the
    # second assign_partitions(s0, ...) with
    # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
    new_state = replace(
        state,
        _df=new_df,
        block_df=None,
        local_parts=None,
        partition_fn=partition_fn,
        num_partitions=num_partitions,
        # fresh chains get the seed an init at P partitions would have had;
        # a mid-chain re-partition (not the normal path) keeps its stream
        current_seed=(
            state.start_seed + num_partitions
            if state.iteration == 0
            else state.current_seed
        ),
    )
    return new_state


def _next_theta(state: State) -> tuple[np.ndarray, np.random.Generator]:
    """θ for the transition out of ``state``, drawn from a copy of its driver
    RNG. The input state's RNG stays where it was, so a state is a value:
    every chain sampled from it sees the same θ stream. The advanced copy
    belongs to the successor state."""
    rng = copy.deepcopy(state.rng)
    return draw_theta(rng, state.cache, state.summary.agg_distortions), rng


def draw_theta(
    rng: np.random.Generator, cache: RecordsCache, agg_dist: np.ndarray
) -> np.ndarray:
    """θ_(attr,file) ~ Beta(α + D, β + n − D) on the driver
    (ref: GibbsUpdates.scala:305-320)."""
    A = cache.num_attributes
    files = cache.file_ids
    theta = np.empty((A, len(files)), dtype=np.float64)
    for a, attr in enumerate(cache.attributes):
        prior = attr.distortion_prior
        for f, fid in enumerate(files):
            n = cache.file_sizes[fid]
            d = float(agg_dist[a, f])
            theta[a, f] = rng.beta(prior.alpha + d, prior.beta + n - d)
    return theta


def collect_summary(state_df: DataFrame, cache: RecordsCache) -> SummaryVars:
    """Collect the in-band per-partition summary rows (num_partitions of
    them) and finish the reduction on the driver."""
    rows = state_df.filter(F.col("is_summary")).select(
        "loglik", "n_isolates", "agg_dist", "rec_dist_hist"
    ).collect()
    A = cache.num_attributes
    Fn = len(cache.file_ids)
    loglik = sum(r["loglik"] for r in rows)
    n_iso = sum(r["n_isolates"] for r in rows)
    agg = np.zeros(A * Fn, dtype=np.int64)
    hist = np.zeros(A + 1, dtype=np.int64)
    for r in rows:
        agg += np.array(r["agg_dist"], dtype=np.int64)
        hist += np.array(r["rec_dist_hist"], dtype=np.int64)
    return SummaryVars(
        num_isolates=int(n_iso),
        log_likelihood=float(loglik),
        agg_distortions=agg.reshape(A, Fn),
        rec_distortions=hist,
    )


def prior_log_likelihood_term(
    cache: RecordsCache, theta: np.ndarray, agg_dist: np.ndarray
) -> float:
    """Driver-side distortion-prior contribution to the log-likelihood
    (ref: GibbsUpdates.scala:283-293)."""
    total = 0.0
    for a, attr in enumerate(cache.attributes):
        prior = attr.distortion_prior
        for f, fid in enumerate(cache.file_ids):
            n = cache.file_sizes[fid]
            d = float(agg_dist[a, f])
            th = float(theta[a, f])
            total += (prior.alpha + d - 1.0) * np.log(th) + (
                prior.beta + n - d - 1.0
            ) * np.log(1.0 - th)
    return total


# ---------------------------------------------------------------------------
# Deterministic initialization (ref: State.scala:205-334)
# ---------------------------------------------------------------------------


def init_state(
    spark: SparkSession,
    records: DataFrame,
    cache: RecordsCache,
    partition_fn: Callable[[np.ndarray], np.ndarray],
    num_partitions: int,
    seed: int,
    population_size: int | None = None,
) -> State:
    """Deterministic initial state: record i (in a stable global order) links
    to entity i mod popSize; entity values copy the first linked record's
    values with missing imputed from the empirical distributions; distortion
    flags start true iff record and entity values disagree; leftover entity
    ids become isolates with random values.

    The reference initializes per-RDD-partition with a bin-packing heuristic
    (State.scala:244-270); a stable global row_number gives the same model
    semantics with cleaner determinism. Records are dictionary-encoded and
    given their partition ids inside the init map itself, and the state is
    checkpointed once.
    """
    # One agg job sizes the problem and checks the records it is given:
    # every rec_id present and globally unique (the reference documents but
    # never checks this, Project.scala:39 — canonicalize_partition_state's
    # determinism, and with it the retry/AQE-proof claim, relies on rec_id
    # sort keys being collision-free), and every file_id one the cache knows.
    counts = records.agg(
        F.count("*").alias("n"),
        F.count("rec_id").alias("n_present"),
        F.count_distinct("rec_id").alias("n_ids"),
        F.count_if(
            ~F.coalesce(F.col("file_id").isin(cache.file_ids), F.lit(False))
        ).alias("n_unknown_file"),
    ).first()
    n_records = counts["n"]
    if counts["n_present"] != n_records:
        raise ValueError(
            f"rec_id is missing on {n_records - counts['n_present']} records"
        )
    if counts["n_ids"] != n_records:
        raise ValueError(
            f"rec_id must be globally unique across files: {n_records} records "
            f"but only {counts['n_ids']} distinct rec_ids (ref: Project.scala:39)"
        )
    if counts["n_unknown_file"]:
        raise ValueError(
            f"{counts['n_unknown_file']} records have a file_id outside the "
            f"records cache's files {cache.file_ids}"
        )
    pop = population_size if population_size is not None else n_records
    if pop <= 0:
        raise ValueError("population size must be positive")

    num_attrs = cache.num_attributes
    probs = [idx.probs for idx in cache.indexes]
    # a value's id is its rank in the sorted domain (AttributeIndex.values)
    value_sets = [pa.array(idx.values.tolist(), pa.string()) for idx in cache.indexes]
    file_set = pa.array(cache.file_ids, pa.string())
    attr_names = [a.name for a in cache.attributes]
    strings = records.select(
        *[F.col(c).cast("string") for c in ["rec_id", "file_id"] + attr_names]
    )

    def encode(batch: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray]:
        """(values (n, A) int32, missing = -1; file indexes (n,) int32)."""
        import pyarrow.compute as pc

        def ids(col: pa.Array, value_set: pa.Array) -> np.ndarray:
            pos = pc.index_in(col, value_set=value_set.cast(col.type))
            return pos.fill_null(-1).to_numpy(zero_copy_only=False).astype(np.int32)

        vals = np.empty((batch.num_rows, num_attrs), dtype=np.int32)
        for a, name in enumerate(attr_names):
            vals[:, a] = ids(batch.column(name), value_sets[a])
        return vals, ids(batch.column("file_id"), file_set)

    def impute(ent_values: np.ndarray, rng: np.random.Generator) -> None:
        """Fill the missing (-1) entity values in place from the empirical
        distributions, attribute by attribute."""
        for a in range(num_attrs):
            if ent_values[a] < 0:
                ent_values[a] = sample_from_probs(rng, probs[a], 1)[0]

    def clusters_table(
        ents: np.ndarray, link: np.ndarray, rec_ids, fids: np.ndarray,
        vals: np.ndarray,
    ) -> pa.Table:
        """Cluster rows of entities ``ents`` and the records linked to them."""
        ps = PartitionState(
            entities=ents,
            rec_ids=np.asarray(rec_ids, dtype=str),
            rec_fids=fids,
            rec_values=vals,
            rec_dist=(vals >= 0) & (vals != ents[link]),
            link=link,
        )
        return _ps_cluster_body_pa(ps, partition_fn(ents))

    boot = make_worker_boot()
    if pop >= n_records:
        # Fast path (the common case): every record seeds its own entity —
        # no shuffle at all, one map over the records. Imputation RNG is
        # keyed on (seed, crc32(rec_id)) so results do not depend on input
        # partitioning.
        import zlib

        def init_map(batches):
            boot()  # operators/workerboot.py
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                vals, fids = encode(batch)
                rec_ids = batch.column("rec_id").to_pylist()
                ents = vals.copy()
                for i in np.flatnonzero((vals < 0).any(axis=1)):
                    impute(
                        ents[i],
                        np.random.default_rng((seed, zlib.crc32(rec_ids[i].encode()))),
                    )
                link = np.arange(len(ents), dtype=np.int64)
                yield from clusters_table(ents, link, rec_ids, fids, vals).to_batches()

        clusters = strings.mapInArrow(init_map, STATE_SCHEMA)
    else:
        # pop < n_records: records share entities round-robin over a stable
        # global order (ref: State.scala:276 `i mod numEntities`).
        #
        # A global row_number() window would funnel the whole dataset
        # through ONE task; instead use the zipWithIndex pattern, fully
        # distributed: range-repartition on the sort key (partition i holds
        # keys < partition i+1 — a total order since (file_id, rec_id) is
        # unique), count per partition, prefix-sum the tiny count vector on
        # the driver, then encode and stamp __ridx = offset[pid] + local
        # position with a narrow map. Two jobs over a checkpointed input, no
        # single-partition exchange anywhere.
        n_parts = max(int(spark.sparkContext.defaultParallelism), 1)
        ordered = (
            strings.repartitionByRange(n_parts, "file_id", "rec_id")
            .sortWithinPartitions("file_id", "rec_id")
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
        part_counts = {
            r["__pid"]: r["cnt"]
            for r in ordered.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
        }
        offsets: dict[int, int] = {}
        acc = 0
        for p in sorted(part_counts):
            offsets[p] = acc
            acc += part_counts[p]

        def stamp_ridx(batches):
            boot()  # operators/workerboot.py
            seen = 0  # mapInArrow runs once per partition: counter is local
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                vals, fids = encode(batch)
                base = offsets[batch.column("__pid")[0].as_py()]
                ridx = base + seen + np.arange(batch.num_rows, dtype=np.int64)
                seen += batch.num_rows
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(ridx % pop),
                        pa.array(ridx),
                        batch.column("rec_id"),
                        pa.array(fids),
                        pa.ListArray.from_arrays(
                            pa.array(np.arange(len(vals) + 1, dtype=np.int32) * num_attrs),
                            pa.array(vals.ravel()),
                        ),
                    ],
                    names=["__ent", "__ridx", "rec_id", "fid", "values"],
                )

        numbered = ordered.mapInArrow(
            stamp_ridx,
            "__ent long, __ridx long, rec_id string, fid int, values array<int>",
        )

        def init_kernel(key: tuple, tbl: pa.Table) -> pa.Table:
            boot()  # operators/workerboot.py
            rng = np.random.default_rng((seed, key[0].as_py()))
            tbl = tbl.sort_by("__ridx")
            vals = (
                tbl.column("values").combine_chunks().flatten()
                .to_numpy(zero_copy_only=False).astype(np.int32)
                .reshape(tbl.num_rows, num_attrs)
            )
            # the first record seeds the entity
            ents = vals[:1].copy()
            impute(ents[0], rng)
            return clusters_table(
                ents,
                np.zeros(tbl.num_rows, dtype=np.int64),
                tbl.column("rec_id").to_pylist(),
                tbl.column("fid").to_numpy().astype(np.int32),
                vals,
            )

        clusters = numbered.groupBy("__ent").applyInArrow(init_kernel, STATE_SCHEMA)

    if pop > n_records:
        # isolates with empirical random values, built on the driver
        rng = np.random.default_rng(seed + pop)
        ents = np.empty((pop - n_records, num_attrs), dtype=np.int32)
        for e in range(len(ents)):
            for a in range(num_attrs):
                ents[e, a] = sample_from_probs(rng, probs[a], 1)[0]
        isolates = clusters_table(
            ents,
            np.empty(0, dtype=np.int64),
            [],
            np.empty(0, dtype=np.int32),
            np.empty((0, num_attrs), dtype=np.int32),
        )
        clusters = clusters.unionByName(
            spark.createDataFrame(isolates, schema=STATE_SCHEMA)
        )

    state_df = clusters.localCheckpoint(eager=True)

    # initial summaries from ONE collect of per-batch partial counts: the
    # isolates and the distortion counts over the packed rec_dist blobs
    # (loglik is reported from iteration 1; θ only needs agg_dist)
    A, Fn = num_attrs, len(cache.file_ids)

    def partial_counts(batches):
        import pyarrow.compute as pc

        boot()  # operators/workerboot.py
        for batch in batches:
            fids = batch.column("rec_fids").flatten().to_numpy(zero_copy_only=False)
            dist = _binary_column_to_array(
                pa.chunked_array([batch.column("rec_dist")]), np.uint8, fids.size * A
            ).reshape(-1, A)
            # key = fid * A + pos, counted only where distorted
            keys = (fids.astype(np.int64)[:, None] * A + np.arange(A))[dist.astype(bool)]
            n_iso = pc.sum(pc.equal(pc.list_value_length(batch.column("rec_ids")), 0))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([n_iso.as_py() or 0], pa.int64()),
                    pa.array([np.bincount(keys, minlength=Fn * A)], pa.list_(pa.int64())),
                ],
                names=["n_isolates", "agg_dist"],
            )

    partials = (
        state_df.select("rec_ids", "rec_fids", "rec_dist")
        .mapInArrow(partial_counts, "n_isolates long, agg_dist array<long>")
        .collect()
    )
    agg = np.zeros(Fn * A, dtype=np.int64)
    for r in partials:
        agg += np.asarray(r["agg_dist"], dtype=np.int64)
    summary = SummaryVars(
        num_isolates=sum(r["n_isolates"] for r in partials),
        log_likelihood=float("nan"),
        agg_distortions=agg.reshape(Fn, A).T.copy(),
        rec_distortions=np.zeros(A + 1, dtype=np.int64),
    )

    rng = np.random.default_rng(seed)
    return State(
        iteration=0,
        _df=state_df,
        spark=spark,
        theta=np.array(
            [
                [a.distortion_prior.mean] * Fn
                for a in cache.attributes
            ]
        ),
        population_size=pop,
        summary=summary,
        partition_fn=partition_fn,
        num_partitions=num_partitions,
        start_seed=seed,
        current_seed=seed + num_partitions,
        cache=cache,
        rng=rng,
    )
