"""Linkage-chain parquet sink/scan with buffered appends.

Sink (ref: util/BufferedRDDWriter.scala:30-74 + Sampler.scala:79,107,118):
samples are buffered and flushed as one parquet append per
``buffer_size`` saved iterations — one Spark write job per flush instead of
one per sample. Files land ordered by iteration, so the parquet footer
min/max stats on ``iteration`` let the scan skip whole files for the
burn-in cutoff filter (ref: Project.scala:111-112) without paying the
small-files/partition-explosion cost of ``partitionBy("iteration")``.

Scan (ref: LinkageChain.scala:35-43): plain parquet read with the chain's
fixed schema, so no Spark job reads footers to infer it; the cutoff is a
pushed filter (shows under PushedFilters in explain()).
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

CHAIN_DIRNAME = "linkage-chain.parquet"
#: the columns both writers produce (see er/sampler.py)
CHAIN_SCHEMA = "iteration long, partition_id int, rec_ids array<string>"


class BufferedChainWriter:
    """Buffer samples; one parquet append per ``buffer_size`` samples.

    Accepts either Spark DataFrames (distributed chains) or Arrow tables
    (driver-local chains — flushed directly via pyarrow, no Spark job).
    Both land in the same directory with matching column types, so the scan
    side is oblivious to which writer produced a given file, and the
    pyarrow files carry the same ``iteration`` footer min/max stats the
    cutoff filter skips on.

    DataFrame samples are DECOUPLED from their source state at append
    time via an eager ``localCheckpoint`` (r13): a buffered lazy frame
    derived from iteration N's state would otherwise read N's checkpoint
    blocks at flush time — up to ``buffer_size`` iterations later — and
    the chain now releases retired checkpoints immediately
    (`er/state.py:_release_state_df`; the pre-r13 behavior only worked
    because those blocks were leaking). The checkpointed buffer entries
    are themselves released after the flush writes them, so storage is
    bounded by the buffer window. The driver-local Arrow path already
    materialized at append by construction.
    """

    def __init__(self, path: str, buffer_size: int = 10, append: bool = False):
        self.path = os.path.join(path, CHAIN_DIRNAME)
        self.buffer_size = max(int(buffer_size), 1)
        self._buffer: list[DataFrame | pa.Table] = []
        self._first_write_mode = "append" if append else "overwrite"
        self._wrote = False

    def append(self, sample: DataFrame | pa.Table) -> None:
        if not isinstance(sample, pa.Table):
            # decouple from the producing state NOW (see class docstring)
            sample = sample.localCheckpoint(eager=True)
        self._buffer.append(sample)
        if len(self._buffer) >= self.buffer_size:
            self.flush()

    def flush(self) -> None:
        if not self._buffer:
            return
        overwrite = self._first_write_mode == "overwrite" and not self._wrote
        arrow = [t for t in self._buffer if isinstance(t, pa.Table)]
        dfs = [d for d in self._buffer if not isinstance(d, pa.Table)]
        if arrow:
            if overwrite and os.path.isdir(self.path):
                shutil.rmtree(self.path)
            os.makedirs(self.path, exist_ok=True)
            # written under a hidden name (the scan skips a leading "."),
            # then renamed into place: a run killed mid-write leaves no
            # torn part for the scan to read
            name = f"part-local-{uuid.uuid4().hex}.parquet"
            tmp = os.path.join(self.path, "." + name)
            pq.write_table(pa.concat_tables(arrow), tmp)
            os.replace(tmp, os.path.join(self.path, name))
            self._wrote = True
        if dfs:
            df = dfs[0]
            for d in dfs[1:]:
                df = df.unionByName(d)
            mode = "overwrite" if overwrite and not self._wrote else "append"
            df.write.mode(mode).parquet(self.path)
            self._wrote = True
            for d in dfs:  # buffered checkpoints are on disk now — free them
                try:
                    d.unpersist()
                    d._jdf.queryExecution().analyzed().rdd().unpersist(False)
                except Exception:  # noqa: BLE001 — best-effort storage release
                    pass
        self._buffer.clear()


def read_linkage_chain(
    spark: SparkSession, path: str, cutoff: int | None = None
) -> DataFrame:
    """Scan saved samples; ``cutoff`` filters ``iteration >= cutoff`` and is
    pushed down to the parquet scan (ref: Project.scala:104-116)."""
    p = path if path.endswith(".parquet") else os.path.join(path, CHAIN_DIRNAME)
    df = spark.read.schema(CHAIN_SCHEMA).parquet(p)
    if cutoff is not None:
        df = df.filter(F.col("iteration") >= cutoff)
    return df
