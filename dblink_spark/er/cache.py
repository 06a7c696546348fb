"""RecordsCache: dataset statistics and the per-attribute indexes.

The reference gathers per-file sizes, per-attribute value counts and
missing counts in a single RDD foreach with map-accumulators
(ref: RecordsCache.scala:74-106). Here the same single pass is one stacked
aggregation: every record is exploded to one (file_id, attr_id, value) row
per attribute, and the rows are grouped with a count. The driver reads the
file sizes, the missing counts (null values) and every attribute's sorted
(value, weight) domain off that one small result, and
`index.build_attribute_indexes` finds all attributes' neighbor pairs in one
more job.

Records are dictionary-encoded where they are used, inside the
`state.init_state` map: a value's id is its rank in the sorted domain
(ref: RecordsCache.scala:120-134), and a missing value is -1.

The resulting `RecordsCache` (attribute indexes + file sizes) is a small
Python object broadcast into the MCMC kernels.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from dblink_spark.er.attributes import Attribute, BetaParams
from dblink_spark.er.index import AttributeIndex, build_attribute_indexes


@dataclass
class RecordsCache:
    attributes: list[Attribute]
    indexes: list[AttributeIndex]
    file_sizes: dict[str, int]
    missing_counts: dict[tuple[str, int], int]  # (file_id, attr_id) -> count

    @property
    def num_records(self) -> int:
        return sum(self.file_sizes.values())

    @property
    def num_attributes(self) -> int:
        return len(self.attributes)

    @property
    def file_ids(self) -> list[str]:
        return sorted(self.file_sizes)

    def distortion_priors(self) -> list[BetaParams]:
        return [a.distortion_prior for a in self.attributes]


def build_records_cache(
    records: DataFrame,
    attributes: list[Attribute],
    expected_max_cluster_size: int = 10,
) -> RecordsCache:
    """Gather stats and build per-attribute indexes.

    `records` schema: rec_id string, file_id string, and one string column
    per matching attribute (nulls = missing).
    """
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("attr_id"), F.col(a.name).cast("string").alias("value")
                )
                for i, a in enumerate(attributes)
            ]
        )
    )
    counts = (
        records.select("file_id", cells.alias("cell"))
        .groupBy("file_id", "cell.attr_id", "cell.value")
        .count()
        .toArrow()
        .to_pandas()
    )
    # every record has one row per attribute, so attribute 0 counts each once
    file_sizes = counts[counts["attr_id"] == 0].groupby("file_id")["count"].sum()
    missing = counts["value"].isna()
    missing_counts = (
        counts[missing].groupby(["file_id", "attr_id"])["count"].sum()
    )
    # sorted by (attr_id, value); Python str order is code-point order,
    # which is the UTF-8 byte order Spark sorts strings in
    present = (
        counts[~missing].groupby(["attr_id", "value"])["count"].sum().reset_index()
    )
    domains = []
    for i in range(len(attributes)):
        dom = present[present["attr_id"] == i]
        domains.append(
            (np.array(dom["value"].tolist(), dtype=object), dom["count"].to_numpy(np.float64))
        )

    indexes = build_attribute_indexes(
        records.sparkSession,
        domains,
        [a.sim_fn for a in attributes],
        precache_powers=range(1, expected_max_cluster_size + 1),
    )
    return RecordsCache(
        attributes=attributes,
        indexes=indexes,
        file_sizes={f: int(n) for f, n in file_sizes.items()},
        missing_counts={(f, int(i)): int(n) for (f, i), n in missing_counts.items()},
    )


def with_file_id(records: DataFrame, file_id_col: str | None) -> DataFrame:
    """Normalize the optional file-identifier column (ref: State.scala:359-375
    defaults fileId to "0" when absent)."""
    if file_id_col is None:
        return records.withColumn("file_id", F.lit("0"))
    return records.withColumn("file_id", F.col(file_id_col).cast("string"))
