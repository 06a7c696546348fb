"""Entity-resolution core: the `blink` model (Steorts 2015) with the
distributed partitioned extensions of Marchant et al. 2021 (arXiv:1909.06039),
re-architected for PySpark.

Layering (all reference citations point into /root/reference):

- attributes/index/cache: attribute specs, domain indexes, dictionary
  encoding — DataFrame aggregations + one broadcastable numpy container
  (ref: AttributeIndex.scala, RecordsCache.scala).
- model: the numpy Gibbs kernels (ref: GibbsUpdates.scala semantics).
- state/sampler: the Markov chain as a DataFrame keyed by partition_id,
  advanced by groupBy("partition_id").applyInPandas(kernel) — one Arrow
  round-trip + one shuffle per iteration, matching the reference's
  mapPartitions + partitionBy cadence (ref: State.scala, Sampler.scala).
- partitioning: k-d tree entity-space partitioner fit via DataFrame
  histograms (ref: partitioning/*.scala).
- chain/analysis/metrics: posterior queries and evaluation as pure
  DataFrame ops (ref: LinkageChain.scala, analysis/*.scala).
"""

from dblink_spark.er.attributes import Attribute, BetaParams, ConstantSim, LevenshteinSim  # noqa: F401
from dblink_spark.er.index import AttributeIndex  # noqa: F401
from dblink_spark.er.cache import RecordsCache  # noqa: F401
