"""Random-variate helpers for the Gibbs kernels.

The reference uses a Walker/Vose alias sampler for O(1) categorical draws
(ref: random/AliasSampler.scala:25-119) because it draws one value at a time
from a freshly-built distribution. Our kernels are vectorized: we draw whole
*batches* with numpy (inverse-CDF via cumsum + searchsorted), which
amortizes setup the same way an alias table would without the per-call
table build. Same validation semantics: negative/NaN/infinite weights and
all-zero totals raise.
"""

from __future__ import annotations

import numpy as np


def _validate(weights: np.ndarray) -> None:
    if np.any(~np.isfinite(weights)) or np.any(weights < 0):
        raise ValueError("weights must be finite and non-negative")


def sample_rows(rng: np.random.Generator, weight_matrix: np.ndarray) -> np.ndarray:
    """One categorical draw per row of an unnormalized (n, k) weight matrix.

    Vectorized inverse-CDF: this is the batch form the link-update kernel
    relies on (one row per record, one column per candidate entity).
    Rows with zero total weight raise (an impossible state under the model).
    """
    w = np.asarray(weight_matrix, dtype=np.float64)
    _validate(w)
    cdf = np.cumsum(w, axis=1)
    totals = cdf[:, -1]
    if np.any(totals <= 0):
        raise ValueError("every row must have positive total weight")
    u = rng.random(w.shape[0]) * totals
    # searchsorted per row on the row's own cdf
    idx = (cdf < u[:, None]).sum(axis=1)
    return idx.astype(np.int64)


def sample_from_probs(
    rng: np.random.Generator, probs: np.ndarray, size: int
) -> np.ndarray:
    """Batch draws from one normalized distribution."""
    cdf = np.cumsum(probs)
    u = rng.random(size) * cdf[-1]
    return np.searchsorted(cdf, u, side="right").astype(np.int64)
