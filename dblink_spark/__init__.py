"""dblink_spark — a PySpark-native analytics + entity-resolution engine.

A from-scratch rebuild of the capabilities of cleanzr/dblink (distributed
Bayesian entity resolution, Marchant et al. 2021, arXiv:1909.06039) as an
idiomatic PySpark engine:

- DataFrame/SQL for everything set-oriented (encoding, statistics, posterior
  analysis, evaluation metrics, I/O) so Catalyst handles pushdown, pruning,
  broadcast, and AQE.
- Arrow-batched ``applyInArrow`` kernels (numpy) for the per-partition MCMC
  transition operator.
- Beyond the reference surface: large-scale data-pipeline operators
  (deduplication, similarity search, text analysis, multimodal plumbing).

Nothing here is a translation of the reference's Scala; see SURVEY.md for the
operator-by-operator mapping (reference citations in each docstring).
"""

from dblink_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
