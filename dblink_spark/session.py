"""SparkSession construction with scale-appropriate defaults.

Local testing runs on ``local[N]``; the config defaults are chosen so the
same code is correct on a 1000-executor cluster: AQE on (runtime coalesce +
skew-join handling), Arrow on (all kernels are pandas-UDF based), and a
shuffle-partition count that AQE coalesces down when running small.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory that holds the ``dblink_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "dblink_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults favor the driver harness environment (``local[$SPARK_GRAFT_CPUS]``)
    but every setting is what we would ship on a real cluster:

    - ``spark.sql.adaptive.enabled``: runtime re-planning — coalesces the
      post-shuffle partitions at small SF and splits skewed join partitions
      at large SF.
    - ``spark.sql.execution.arrow.pyspark.enabled``: Arrow transfer for every
      pandas-UDF kernel (the MCMC transition, embeddings ops).
    - ``spark.sql.shuffle.partitions``: sized to cores locally; on a real
      cluster this should be ~2-3x total executor cores (AQE coalesces).
    - ``spark.executorEnv.PYTHONPATH``: the directory that holds this
      package, appended to any value ``extra_conf`` gives, so Python
      workers can unpickle kernels that reference the library even when
      the driver found it through ``sys.path`` alone.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(p for p in (conf.get(key), _PACKAGE_ROOT) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register the driver fixture tables as temp views and return them.

    Columns/filters are *not* materialized here — ``spark.read.parquet`` stays
    lazy so Catalyst pushes projections and predicates into the scan.
    """
    if names is None:
        names = [
            "region",
            "nation",
            "customer",
            "supplier",
            "part",
            "orders",
            "lineitem",
            "events",
            "documents",
            "embeddings",
        ]
    out = {}
    for name in names:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
