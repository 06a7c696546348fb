"""The Gibbs/PCG transition kernel for one entity-space partition.

Numpy re-expression of the reference's per-partition update
(ref: GibbsUpdates.scala:156-211 and the update functions it dispatches to).
Same model semantics, different execution strategy:

- The reference loops record-at-a-time in Scala. Here, link updates are
  *vectorized across records*: within one sweep the entity attribute values
  and the inverted index are fixed, so every record's conditional is
  independent — we evaluate weight matrices chunk-wise and draw one
  categorical per row (ref loop: GibbsUpdates.scala:177-183). The indexed
  update groups records by exact-match column mask and draws every
  similarity-weighted record of a mask from one padded weight matrix.
- The collapsed entity-value update (PCG-I/II) is batched per attribute
  and cluster size: singletons, each k ≥ 2 cluster size, and the rejected
  draws of both are each one vectorized pass. The Gibbs and
  Gibbs-Sequential value updates loop over entities.
- The distortion update is fully vectorized over (record, attribute)
  (ref: GibbsUpdates.scala:324-359).

The batched passes draw the same RNG values and do the same floating-point
operations in the same order as per-record loops would, so chains are
bit-identical to the record-at-a-time formulation (pinned against those
loops in tests/test_er_kernel_parity.py).

Sampler variants (ref: ProjectStep.scala:53-58, Sampler.scala:58-60):
  "PCG-I"            collapsed entity values, indexed Gibbs link update
  "PCG-II"           collapsed entity values AND collapsed (dense) link update
  "Gibbs"            indexed Gibbs link update, perturbation value update
  "Gibbs-Sequential" dense link update, full-enumeration value update
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from dblink_spark.er.cache import RecordsCache
from dblink_spark.er.rand import sample_from_probs, sample_rows

SAMPLERS = ("PCG-I", "PCG-II", "Gibbs", "Gibbs-Sequential")

_LINK_CHUNK = 2048
#: padded (record, candidate) cells per chunk of the weighted link draw
_LINK_CELLS = 1 << 18


@dataclass
class PartitionState:
    """In-kernel dense representation of one partition's clusters."""

    entities: np.ndarray  # (E, A) int32, -1 never appears (values imputed)
    rec_ids: np.ndarray  # (R,) numpy unicode ('<U*') or object strings
    rec_fids: np.ndarray  # (R,) int32 — index into cache.file_ids
    rec_values: np.ndarray  # (R, A) int32, -1 = missing
    rec_dist: np.ndarray  # (R, A) bool
    link: np.ndarray  # (R,) int64 — entity row index

    @property
    def num_entities(self) -> int:
        return self.entities.shape[0]

    @property
    def num_records(self) -> int:
        return self.rec_ids.shape[0]


def canonicalize_partition_state(ps: PartitionState) -> PartitionState:
    """Reorder a PartitionState into a canonical, content-determined order.

    Kernel RNG consumption follows array order, so without this the chain
    would depend on the order rows arrive from the shuffle fetch — which
    Spark does not guarantee across retries/AQE for multi-partition chains.
    Canonical order: entities sorted by (smallest linked rec_id, "" for
    isolates; tie-break entity values), records sorted by (entity, rec_id).
    Identical isolates are interchangeable, so the order is determined by
    partition CONTENT alone. Cost is two argsorts + one Python keyed sort
    per kernel invocation — negligible next to the sweep itself.
    """
    n_e = ps.num_entities
    # smallest linked rec_id per entity: assign in descending rec_id order,
    # so the smallest lands last (fancy assignment keeps the final write).
    # `first` matches rec_ids' dtype: fixed-width numpy unicode sorts in C
    # (same codepoint order as Python str compares — chains unchanged),
    # ~10x faster than object-array argsort at 100k+ records.
    first = (
        np.zeros(n_e, dtype=ps.rec_ids.dtype)
        if ps.rec_ids.dtype.kind == "U"
        else np.full(n_e, "", dtype=object)
    )
    desc = np.argsort(ps.rec_ids, kind="stable")[::-1]
    first[ps.link[desc]] = ps.rec_ids[desc]
    # lexsort: last key is primary — (first, ent_col_0, ent_col_1, ...)
    keys = tuple(ps.entities[:, a] for a in range(ps.entities.shape[1] - 1, -1, -1))
    perm = np.lexsort(keys + (first,)).astype(np.int64)
    inv = np.empty(n_e, dtype=np.int64)
    inv[perm] = np.arange(n_e)
    new_link = inv[ps.link]
    # two stable argsorts == lexsort by (new_link, rec_id)
    o1 = np.argsort(ps.rec_ids, kind="stable")
    order = o1[np.argsort(new_link[o1], kind="stable")]
    return PartitionState(
        entities=ps.entities[perm],
        rec_ids=ps.rec_ids[order],
        rec_fids=ps.rec_fids[order],
        rec_values=ps.rec_values[order],
        rec_dist=ps.rec_dist[order],
        link=new_link[order],
    )


def split_partition_state(
    ps: PartitionState, targets: np.ndarray
) -> dict[int, PartitionState]:
    """Split a PartitionState by a per-entity target-partition array —
    the driver-local equivalent of the post-kernel shuffle that migrates
    clusters to their new entity-space partitions."""
    out: dict[int, PartitionState] = {}
    for t in np.unique(targets):
        sel_e = np.flatnonzero(targets == t)
        emap = np.full(ps.num_entities, -1, dtype=np.int64)
        emap[sel_e] = np.arange(sel_e.size)
        sel_r = np.flatnonzero(emap[ps.link] >= 0)
        out[int(t)] = PartitionState(
            entities=ps.entities[sel_e],
            rec_ids=ps.rec_ids[sel_r],
            rec_fids=ps.rec_fids[sel_r],
            rec_values=ps.rec_values[sel_r],
            rec_dist=ps.rec_dist[sel_r],
            link=emap[ps.link[sel_r]],
        )
    return out


def concat_partition_states(parts: list[PartitionState]) -> PartitionState:
    """Concatenate PartitionStates (record links re-offset). Order of the
    inputs is irrelevant to the chain: every kernel canonicalizes on entry.

    ``parts`` must be non-empty: an empty PartitionState is unconstructible
    here (the attribute width would be unknown), so fail fast instead of
    letting ``parts[0]`` raise IndexError."""
    if not parts:
        raise ValueError("concat_partition_states requires at least one part")
    if len(parts) == 1:
        return parts[0]
    offsets = np.cumsum([0] + [p.num_entities for p in parts[:-1]])
    return PartitionState(
        entities=np.concatenate([p.entities for p in parts]),
        rec_ids=np.concatenate([p.rec_ids for p in parts]),
        rec_fids=np.concatenate([p.rec_fids for p in parts]),
        rec_values=np.concatenate([p.rec_values for p in parts]),
        rec_dist=np.concatenate([p.rec_dist for p in parts]),
        link=np.concatenate(
            [p.link + off for p, off in zip(parts, offsets)]
        ).astype(np.int64),
    )


def _expsim_pairs(idx, v, e) -> np.ndarray:
    """exp(sim(v, e)) elementwise over value ids ``v`` and ``e`` (numpy
    broadcasting); 1.0 for non-neighbors. One searchsorted of ``v·V + e``
    against the CSR's ascending composite keys, values read from its
    ``exps`` — the same numbers as ``neighbor_expsims``."""
    csr = idx.collapsed_k1_csr()
    keys = csr["keys"]
    q = np.asarray(v, dtype=np.int64) * idx.num_values + e
    pos = np.minimum(np.searchsorted(keys, q), keys.size - 1)
    return np.where(keys[pos] == q, csr["exps"][pos], 1.0)


class _ExpSimCache:
    """Per-sweep cache of exp-sim vectors keyed by (attr, value) against the
    fixed entity column — reused across records sharing an observed value."""

    def __init__(self, cache: RecordsCache, entities: np.ndarray):
        self._cache = cache
        self._entities = entities
        self._store: dict[tuple[int, int], np.ndarray] = {}

    def get(self, attr_id: int, value: int) -> np.ndarray:
        key = (attr_id, value)
        vec = self._store.get(key)
        if vec is None:
            vec = _expsim_pairs(
                self._cache.indexes[attr_id], value, self._entities[:, attr_id]
            )
            self._store[key] = vec
        return vec


# ---------------------------------------------------------------------------
# Link updates
# ---------------------------------------------------------------------------


def update_links_dense(
    rng: np.random.Generator,
    ps: PartitionState,
    cache: RecordsCache,
    theta: np.ndarray,  # (A, F) distortion probabilities
    collapsed: bool,
) -> np.ndarray:
    """Dense link update over all entities.

    collapsed=True  -> PCG-II weights (ref: GibbsUpdates.scala:363-395)
    collapsed=False -> Gibbs-Sequential weights (ref: GibbsUpdates.scala:434-466)
    """
    E = ps.num_entities
    R = ps.num_records
    A = cache.num_attributes
    new_link = np.empty(R, dtype=np.int64)
    expsims = _ExpSimCache(cache, ps.entities)

    for start in range(0, R, _LINK_CHUNK):
        rows = slice(start, min(start + _LINK_CHUNK, R))
        n = rows.stop - rows.start
        W = np.ones((n, E), dtype=np.float64)
        for a in range(A):
            idx = cache.indexes[a]
            ent_col = ps.entities[:, a]
            vals = ps.rec_values[rows, a]
            obs = vals >= 0
            if not obs.any():
                continue
            sim_norm_col = None if idx.is_constant else idx.sim_norms[ent_col]
            for i in np.nonzero(obs)[0]:
                v = int(vals[i])
                p_v = idx.probs[v]
                if collapsed:
                    th = theta[a, ps.rec_fids[rows][i]]
                    if idx.is_constant:
                        w = th * p_v + np.where(ent_col == v, 1.0 - th, 0.0)
                    else:
                        w = th * p_v * sim_norm_col * expsims.get(a, v)
                        w = w + np.where(ent_col == v, 1.0 - th, 0.0)
                    W[i] *= w
                else:
                    if ps.rec_dist[rows, a][i]:
                        if idx.is_constant:
                            W[i] *= p_v
                        else:
                            W[i] *= p_v * sim_norm_col * expsims.get(a, v)
                    else:
                        W[i] *= ent_col == v
        new_link[rows] = sample_rows(rng, W)
    return new_link


def update_links_indexed(
    rng: np.random.Generator,
    ps: PartitionState,
    cache: RecordsCache,
) -> np.ndarray:
    """Indexed Gibbs link update (ref: GibbsUpdates.scala:399-430).

    The reference builds a per-(attribute, value) inverted index each sweep
    and intersects posting lists per record, smallest-first
    (GibbsUpdates.scala:41-76, :473-530). This computes the SAME candidate
    sets — entities equal to the record on every observed non-distorted
    attribute — via one lexicographic entity sort per distinct exact-match
    column mask and a batched searchsorted, which replaces the per-record
    Python intersection loop with O(masks) vectorized passes. Only entities
    whose key some record of the mask carries are sorted. Records with a
    distorted similarity-indexed attribute draw from weighted candidates in
    one :func:`_weighted_link_picks` pass per mask; the rest draw uniformly.
    Both consume the record's own uniform, so the chain does not depend on
    how records are grouped."""
    A = cache.num_attributes
    R = ps.num_records
    E = ps.num_entities
    new_link = np.empty(R, dtype=np.int64)
    # ONE batched uniform per record, consumed by record index, so the
    # draw for record r is independent of the execution grouping below
    u = rng.random(R)

    obs = ps.rec_values >= 0
    nd = obs & ~ps.rec_dist  # exact-match (non-distorted observed) attrs

    # Candidate retrieval, vectorized by exact-match column mask: records
    # sharing a mask need entities equal on the same column subset, so ONE
    # lexicographic entity sort per mask + a batched searchsorted replaces
    # the reference's per-record posting-list intersection
    # (GibbsUpdates.scala:473-530) — same candidate sets.
    mask_view = np.ascontiguousarray(nd).view(
        np.dtype((np.void, nd.dtype.itemsize * A))
    ).ravel()
    _, mask_first, mask_inv = np.unique(
        mask_view, return_index=True, return_inverse=True
    )

    # Distorted CONSTANT-sim attrs weight every candidate equally (the
    # factor cancels in the draw: floor(u*n) == the weighted inverse-CDF
    # pick for equal weights), so only similarity-indexed distortions
    # need per-record weighting.
    nonconst = np.array([not ix.is_constant for ix in cache.indexes], dtype=bool)
    weighted = obs & ps.rec_dist & nonconst[None, :]  # (R, A)
    needs_w = weighted.any(axis=1)

    ents32 = np.ascontiguousarray(ps.entities, dtype=np.int32)
    vals32 = np.ascontiguousarray(ps.rec_values, dtype=np.int32)
    # mixed-radix weights: composite int64 keys sort ~4-5x faster than void
    # byte-view keys (numpy radix-sorts integers under kind="stable") and
    # encode the SAME lexicographic order, so the stable permutation — and
    # with it the chain — is bit-identical to the byte-key formulation.
    # Guard the encoding against overflow for very wide/high-cardinality
    # schemas (falls back to void keys).
    domains = np.array(
        [len(ix.probs) for ix in cache.indexes], dtype=np.float64
    )

    for mi in range(mask_first.size):
        rsel = np.flatnonzero(mask_inv == mi)
        cols = np.flatnonzero(nd[mask_first[mi]])
        if cols.size == 0:
            ent_order = np.arange(E, dtype=np.int64)
            lo = np.zeros(rsel.size, dtype=np.int64)
            hi = np.full(rsel.size, E, dtype=np.int64)
        else:
            if np.prod(domains[cols]) < 2**62:
                dsel = domains[cols].astype(np.int64)
                mult = np.concatenate(
                    (np.cumprod(dsel[::-1])[::-1][1:], [1])
                ).astype(np.int64)
                ekeys = ents32[:, cols].astype(np.int64) @ mult
                rkeys = vals32[rsel][:, cols].astype(np.int64) @ mult
            else:  # pragma: no cover - needs >2^62 joint domain
                void = np.dtype((np.void, 4 * cols.size))
                ekeys = np.ascontiguousarray(ents32[:, cols]).view(void).ravel()
                rkeys = (
                    np.ascontiguousarray(vals32[rsel][:, cols]).view(void).ravel()
                )
            # only entities whose key some record of the mask carries can
            # be candidates: filter them in entity order, then sort those
            urk = np.unique(rkeys)
            at = np.minimum(np.searchsorted(urk, ekeys), urk.size - 1)
            hits = np.flatnonzero(urk[at] == ekeys)
            by_key = np.argsort(ekeys[hits], kind="stable")
            ent_order = hits[by_key]
            sek = ekeys[ent_order]
            lo = np.searchsorted(sek, rkeys, "left")
            hi = np.searchsorted(sek, rkeys, "right")
        sizes = hi - lo
        if np.any(sizes <= 0):
            # unreachable under the model invariant (the record's current
            # entity always matches on non-distorted attrs)
            raise RuntimeError("no candidate entities — inconsistent state")
        plain = ~needs_w[rsel]
        pr = rsel[plain]
        if pr.size:
            # u in [0,1): floor(u*n) is the uniform (== equal-weight) pick
            pick = lo[plain] + (u[pr] * sizes[plain]).astype(np.int64)
            new_link[pr] = ent_order[pick]
        wj = np.flatnonzero(~plain)
        if wj.size:
            new_link[rsel[wj]] = _weighted_link_picks(
                ps, cache, weighted, u, rsel[wj], lo[wj], sizes[wj], ent_order
            )
    return new_link


def _weighted_link_picks(
    ps: PartitionState,
    cache: RecordsCache,
    weighted: np.ndarray,  # (R, A) bool: attrs that weight a record's candidates
    u: np.ndarray,  # (R,) each record's uniform
    recs: np.ndarray,  # (n,) the records to draw
    lo: np.ndarray,  # (n,) start of each record's candidate run in ent_order
    sizes: np.ndarray,  # (n,) run lengths, all > 0
    ent_order: np.ndarray,
) -> np.ndarray:
    """Weighted inverse-CDF pick of one entity for each of ``recs`` from its
    candidate run ``ent_order[lo : lo + size]``.

    The runs are padded into a (records × longest run) matrix, records
    sorted by run length and chunked so a chunk holds at most
    ``_LINK_CELLS`` padded cells. Each row is multiplied by
    ``probs[v] * sim_norms[e] * expsim(v, e)`` for its weighting attributes
    in ascending attribute order, cumulated along the row (a sequential
    accumulate, so each prefix sum equals the 1-D ``cumsum`` of the run bit
    for bit) and the pick is the number of valid cells with
    ``cdf <= u·total`` — ``searchsorted(cdf, u·total, "right")`` on a
    non-decreasing row — clamped to the run's end."""
    n = sizes.size
    out = np.empty(n, dtype=np.int64)
    by_size = np.argsort(sizes, kind="stable")
    start = 0
    while start < n:
        # rows start..stop of the size order, padded to the last (widest)
        sz = sizes[by_size[start:]]
        fits = np.count_nonzero(np.arange(1, sz.size + 1) * sz <= _LINK_CELLS)
        stop = start + max(1, int(fits))
        rows = by_size[start:stop]
        width = int(sizes[rows[-1]])
        valid = np.arange(width) < sizes[rows, None]
        cands = ent_order[np.where(valid, lo[rows, None] + np.arange(width), 0)]
        w = np.ones(cands.shape, dtype=np.float64)
        wr = weighted[recs[rows]]
        for a in np.flatnonzero(wr.any(axis=0)):
            sub = np.flatnonzero(wr[:, a])
            idx = cache.indexes[a]
            v = ps.rec_values[recs[rows[sub]], a][:, None]
            ent_col = ps.entities[cands[sub], a]
            w[sub] *= idx.probs[v] * idx.sim_norms[ent_col] * _expsim_pairs(idx, v, ent_col)
        cdf = np.cumsum(w, axis=1)
        last = sizes[rows] - 1
        total = cdf[np.arange(rows.size), last]
        if np.any(total <= 0):
            raise RuntimeError("zero total weight in link update")
        t = u[recs[rows]] * total
        pick = np.count_nonzero((cdf <= t[:, None]) & valid, axis=1)
        out[rows] = cands[np.arange(rows.size), np.minimum(pick, last)]
        start = stop
    return out


# ---------------------------------------------------------------------------
# Entity-value updates
# ---------------------------------------------------------------------------


def _linked_rows_per_entity(link: np.ndarray, num_entities: int):
    order = np.argsort(link, kind="stable")
    counts = np.bincount(link, minlength=num_entities)
    bounds = np.concatenate(([0], np.cumsum(counts)))
    return order, bounds


def update_entity_values(
    rng: np.random.Generator,
    ps: PartitionState,
    cache: RecordsCache,
    theta: np.ndarray,
    mode: str,
) -> np.ndarray:
    """Resample every entity's attribute vector (ref: GibbsUpdates.scala:731-755
    dispatching to :576-698). Returns a new (E, A) matrix.

    Collapsed modes draw in three vectorized phases per attribute (each
    phase consumes RNG in entity order, so the chain is deterministic given
    the canonical state order): (1) entities with no observed linked value
    batch-sample the empirical distribution; (2) singletons — the dominant
    case — batch through :func:`_draw_values_collapsed_k1` on precomputed
    θ-free CSR prefix sums; (3) k ≥ 2 clusters batch per cluster size
    through :func:`_draw_values_collapsed_kn` (composite-sort + reduceat
    factor merge). Every conditional is identical to the scalar reference
    implementation (:func:`_draw_value_collapsed`); only the RNG stream
    layout differs."""
    E = ps.num_entities
    A = cache.num_attributes
    new_entities = np.empty_like(ps.entities)
    order, bounds = _linked_rows_per_entity(ps.link, E)
    ent_of_pos = np.repeat(np.arange(E, dtype=np.int64), np.diff(bounds))

    collapsed = mode in ("PCG-I", "PCG-II")
    sequential = mode == "Gibbs-Sequential"

    for a in range(A):
        idx = cache.indexes[a]
        vals_a = ps.rec_values[:, a]
        dist_a = ps.rec_dist[:, a]
        base_probs = idx.probs

        obs_mask = vals_a[order] >= 0  # observed, in entity-grouped order
        rows_obs = order[obs_mask]
        ents_obs = ent_of_pos[obs_mask]  # sorted (grouped order)
        k_obs = np.bincount(ents_obs, minlength=E)

        no_obs = np.flatnonzero(k_obs == 0)
        if no_obs.size:
            new_entities[no_obs, a] = sample_from_probs(
                rng, base_probs, no_obs.size
            )

        if collapsed:
            k1 = np.flatnonzero(k_obs == 1)
            if k1.size:
                r1 = rows_obs[np.searchsorted(ents_obs, k1)]
                new_entities[k1, a] = _draw_values_collapsed_k1(
                    rng, idx, a, r1, vals_a, ps.rec_fids, theta
                )
            kmax = int(k_obs.max()) if k_obs.size else 0
            for k in range(2, kmax + 1):
                ents_k = np.flatnonzero(k_obs == k)
                if not ents_k.size:
                    continue
                lo = np.searchsorted(ents_obs, ents_k)
                recs = rows_obs[lo[:, None] + np.arange(k)]
                new_entities[ents_k, a] = _draw_values_collapsed_kn(
                    rng, idx, a, recs, vals_a, ps.rec_fids, theta, k
                )
            continue

        for e in np.flatnonzero(k_obs >= 1):
            lo = np.searchsorted(ents_obs, e)
            rows = rows_obs[lo : lo + k_obs[e]]
            k = rows.shape[0]
            if sequential:
                new_entities[e, a] = _draw_value_seq(rng, idx, rows, vals_a, dist_a)
            else:
                new_entities[e, a] = _draw_value_gibbs(rng, idx, rows, vals_a, dist_a, k)
    return new_entities


def _draw_values_collapsed_k1(
    rng: np.random.Generator,
    idx,
    attr_id: int,
    r1: np.ndarray,
    vals_a: np.ndarray,
    rec_fids: np.ndarray,
    theta: np.ndarray,
) -> np.ndarray:
    """Batched collapsed value draw for singleton clusters (k = 1).

    Same conditional as the scalar fast path in
    :func:`_draw_value_collapsed` (pinned distributionally by
    tests/test_er_kernel_dist.py), evaluated for all singleton entities of
    one attribute at once. The sparse perturbation vector depends only on
    (observed value, file), so it is computed once per distinct pair and
    shared; acceptance tests, base draws, and perturbation draws are each
    one batched RNG call. Rejected draws that leave the observed value search
    their segments in one pass: each segment search is a count of the
    segment's cells at or below the threshold.
    """
    n = r1.shape[0]
    v = vals_a[r1].astype(np.int64)
    base = _base_dist(idx, 1)
    if idx.is_constant:
        th = theta[attr_id, rec_fids[r1]]
        totals = 1.0 / th - 1.0
        accept = rng.random(n) < 1.0 / (1.0 + totals)
        out = v.copy()
        n_acc = int(accept.sum())
        if n_acc:
            out[accept] = sample_from_probs(rng, base, n_acc)
        return out

    # θ-free perturbation prefix sums are precomputed per value (CSR on the
    # index); per draw only the scalar correction at v's own slot varies:
    #   cdf'[j] = S[j] + delta·[j >= pos(v)],  delta = base[v](1/θ-1)/(p_v·norm_v)
    # The selected index is #{j: cdf'[j] <= t}; it equals pos(v) — i.e. the
    # draw returns v itself — iff S[pos-1] <= t and S[pos] > t-delta, which
    # is the overwhelmingly common case when distortion is low (delta
    # dominates the segment mass). Everything else is a rare segment-local
    # searchsorted.
    csr = idx.collapsed_k1_csr()
    th = theta[attr_id, rec_fids[r1]]
    delta = base[v] * (1.0 / th - 1.0) / (idx.probs[v] * idx.sim_norms[v])
    totals = csr["T0"][v] + delta
    accept = rng.random(n) < 1.0 / (1.0 + totals)
    out = np.empty(n, dtype=np.int64)
    n_acc = int(accept.sum())
    if n_acc:
        out[accept] = sample_from_probs(rng, base, n_acc)
    rej = np.flatnonzero(~accept)
    if rej.size:
        u2 = rng.random(rej.size)
        t = u2 * totals[rej]
        vr = v[rej]
        dr = delta[rej]
        S, ids_flat = csr["S"], csr["ids"]
        o = csr["off"][vr]
        p = csr["pos"][vr]
        gpos = o + p
        s_before = S[np.maximum(gpos - 1, 0)]
        on_v = ((p == 0) | (s_before <= t)) & (S[gpos] > t - dr)
        res = vr.copy()
        off = np.flatnonzero(~on_v)
        if off.size:
            # every off-v draw at once over the cells of its segment:
            #   c1 = searchsorted(seg[:pos], t, "right")
            #   c2 = max(0, searchsorted(seg, t - delta, "right") - pos)
            # as counts of cells at or below the threshold (S is
            # non-decreasing within a segment)
            so, sp = o[off], p[off]
            owner, cell = _runs(so, csr["off"][vr[off] + 1] - so)
            seg = S[cell]
            in_c1 = ((cell - so[owner]) < sp[owner]) & (seg <= t[off][owner])
            c1 = np.bincount(owner[in_c1], minlength=off.size)
            in_c2 = seg <= (t[off] - dr[off])[owner]
            c2 = np.bincount(owner[in_c2], minlength=off.size) - sp
            res[off] = ids_flat[so + c1 + np.maximum(c2, 0)]
        out[rej] = res
    return out


def _draw_values_collapsed_kn(
    rng: np.random.Generator,
    idx,
    attr_id: int,
    recs: np.ndarray,
    vals_a: np.ndarray,
    rec_fids: np.ndarray,
    theta: np.ndarray,
    k: int,
) -> np.ndarray:
    """Batched collapsed value draw for all clusters of one size k ≥ 2.

    Same conditional as :func:`_draw_value_collapsed_general` (pinned
    distributionally by tests/test_er_kernel_dist.py), evaluated for every
    k-cluster of one attribute at once. The per-record sparse factor
    vectors (each record's neighbor segment, with the θ correction at its
    own value's slot) are flattened CSR-style, grouped by (entity, value)
    with one composite argsort, and merged with `multiply.reduceat` —
    replacing the per-entity Python dict merge. RNG layout: one batched
    accept draw, one batched base draw for acceptors, one batched uniform
    for rejectors (entity-ascending), mirroring the other batch paths. All
    rejectors are resolved in one pass: the inverse-CDF pick in each
    rejector's segment is the count of its cells with
    ``cdf[j] - cdf[s-1] <= u2·total``, clamped to the segment's end.

    ``recs``: (nE, k) record row indices, one row per entity, entity-
    ascending; rows' linked records in grouped order.
    """
    nE = recs.shape[0]
    base = _base_dist(idx, k)
    v = vals_a[recs].astype(np.int64).ravel()  # (nE*k,)
    th = theta[attr_id, rec_fids[recs]].ravel()
    if idx.is_constant:
        # each record contributes a single factor at its own value
        keys = v
        fac = 1.0 + (1.0 / th - 1.0) / idx.probs[v]
        ent_rep = np.repeat(np.arange(nE, dtype=np.int64), k)
    else:
        csr = idx.collapsed_k1_csr()
        o = csr["off"][v]
        L = csr["off"][v + 1] - o
        rec_rep, gidx = _runs(o, L)
        keys = csr["ids"][gidx]
        fac = csr["exps"][gidx]
        fac[np.cumsum(L) - L + csr["pos"][v]] += (1.0 / th - 1.0) / (
            idx.probs[v] * idx.sim_norms[v]
        )
        ent_rep = rec_rep // k  # records are entity-major: row i*k..i*k+k-1

    comp = ent_rep * np.int64(idx.num_values) + keys
    order = np.argsort(comp, kind="stable")
    ck = comp[order]
    run_starts = np.flatnonzero(np.r_[True, ck[1:] != ck[:-1]])
    prod = np.multiply.reduceat(fac[order], run_starts)
    uk = keys[order][run_starts]
    ue = ent_rep[order][run_starts]
    pert = np.maximum(base[uk] * (prod - 1.0), 0.0)

    ent_starts = np.flatnonzero(np.r_[True, ue[1:] != ue[:-1]])
    totals = np.add.reduceat(pert, ent_starts)

    u1 = rng.random(nE)
    accept = u1 < 1.0 / (1.0 + totals)
    out = np.empty(nE, dtype=np.int64)
    n_acc = int(accept.sum())
    if n_acc:
        out[accept] = sample_from_probs(rng, base, n_acc)
    rej = np.flatnonzero(~accept)
    if rej.size:
        u2 = rng.random(rej.size)
        cdf = np.cumsum(pert)
        # per rejector: searchsorted(cdf[s:e] - cdf[s-1], u2·total, "right")
        # as a count over its segment's cells, clamped to the segment's end
        s = ent_starts[rej]
        lens = np.r_[ent_starts[1:], pert.size][rej] - s
        owner, cell = _runs(s, lens)
        below = np.where(s > 0, cdf[s - 1], 0.0)
        hit = cdf[cell] - below[owner] <= (u2 * totals[rej])[owner]
        pos = np.bincount(owner[hit], minlength=rej.size)
        out[rej] = uk[s + np.minimum(pos, lens - 1)]
    return out


def _runs(starts: np.ndarray, lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Flatten the runs ``[starts[i], starts[i] + lens[i])``: for each cell,
    its run's index and its own index."""
    owner = np.repeat(np.arange(lens.size, dtype=np.int64), lens)
    cell = np.arange(owner.size, dtype=np.int64) + np.repeat(
        starts - (np.cumsum(lens) - lens), lens
    )
    return owner, cell



def _base_dist(idx, k: int) -> np.ndarray:
    return idx.probs if idx.is_constant else idx.sim_norm_dist(k)


def _draw_value_collapsed(rng, idx, attr_id, rows, vals_a, rec_fids, theta, k):
    """Scalar reference implementation of the collapsed value draw
    (ref: GibbsUpdates.scala:576-599 + perturbedDistYCollapsed :534-570).

    The kernel hot path uses the batched :func:`_draw_values_collapsed_k1`
    for singletons and :func:`_draw_values_collapsed_kn` for k ≥ 2; this
    scalar form is retained as the distribution oracle the batch paths are
    pinned against in tests/test_er_kernel_dist.py."""
    base = _base_dist(idx, k)
    if k == 1:
        # Fast path for the dominant case (singleton clusters): the sparse
        # perturbation weights come from ONE record, so skip the dict merge
        # and operate on the value's neighbor arrays directly. RNG draw
        # order matches the general path exactly (chain bit-parity).
        r = rows[0]
        v = int(vals_a[r])
        th = float(theta[attr_id, rec_fids[r]])
        p_v = float(idx.probs[v])
        if idx.is_constant:
            total = 1.0 / th - 1.0  # pert = base[v]*(w_v-1) = p_v*(1/th-1)/p_v
            if rng.random() < 1.0 / (1.0 + total):
                return sample_from_probs(rng, base, 1)[0]
            rng.random()  # general path draws for the 1-key cdf; keep stream
            return v
        keys = idx.neighbor_ids[v]  # sorted, always contains v
        pert = base[keys] * (idx.neighbor_expsims[v] - 1.0)
        pert[np.searchsorted(keys, v)] += base[v] * (1.0 / th - 1.0) / (
            p_v * float(idx.sim_norms[v])
        )
        pert = np.maximum(pert, 0.0)
        total = pert.sum()
        if rng.random() < 1.0 / (1.0 + total):
            return sample_from_probs(rng, base, 1)[0]
        cdf = np.cumsum(pert)
        return keys[np.searchsorted(cdf, rng.random() * total, "right")]
    return _draw_value_collapsed_general(
        rng, idx, attr_id, rows, vals_a, rec_fids, theta, base
    )


def _draw_value_collapsed_general(rng, idx, attr_id, rows, vals_a, rec_fids, theta, base):
    """General (any-k) collapsed draw — split out so tests can pin the k=1
    fast path's RNG stream equivalence against it on cloned Generators."""
    # perturbation weights, sparse over candidate values
    w: dict[int, float] = {}
    for r in rows:
        v = int(vals_a[r])
        th = float(theta[attr_id, rec_fids[r]])
        p_v = float(idx.probs[v])
        if idx.is_constant:
            weight = 1.0 + (1.0 / th - 1.0) / p_v
            w[v] = w.get(v, 1.0) * weight
        else:
            norm_v = float(idx.sim_norms[v])
            nbr = idx.neighbor_ids[v]
            sims = idx.neighbor_expsims[v]
            for j in range(len(nbr)):
                sv = int(nbr[j])
                weight = float(sims[j])
                if sv == v:
                    weight += (1.0 / th - 1.0) / (p_v * norm_v)
                w[sv] = w.get(sv, 1.0) * weight
    keys = np.fromiter(w.keys(), dtype=np.int64, count=len(w))
    pert = base[keys] * (np.fromiter(w.values(), dtype=np.float64, count=len(w)) - 1.0)
    pert = np.maximum(pert, 0.0)
    total = pert.sum()
    if rng.random() < 1.0 / (1.0 + total):
        return sample_from_probs(rng, base, 1)[0]
    cdf = np.cumsum(pert)
    return keys[np.searchsorted(cdf, rng.random() * total, "right")]


def _draw_value_gibbs(rng, idx, rows, vals_a, dist_a, k):
    """ref: GibbsUpdates.scala:605-646 + perturbedDistY :702-727."""
    nondist = rows[~dist_a[rows]]
    if nondist.shape[0]:
        return vals_a[nondist[0]]  # pinned by a non-distorted linked value
    if idx.is_constant:
        return sample_from_probs(rng, idx.probs, 1)[0]
    base = _base_dist(idx, k)
    w: dict[int, float] = {}
    for r in rows:
        v = int(vals_a[r])
        nbr = idx.neighbor_ids[v]
        sims = idx.neighbor_expsims[v]
        for j in range(len(nbr)):
            sv = int(nbr[j])
            w[sv] = w.get(sv, 1.0) * float(sims[j])
    keys = np.fromiter(w.keys(), dtype=np.int64, count=len(w))
    pert = base[keys] * (np.fromiter(w.values(), dtype=np.float64, count=len(w)) - 1.0)
    pert = np.maximum(pert, 0.0)
    total = pert.sum()
    if rng.random() < 1.0 / (1.0 + total):
        return sample_from_probs(rng, base, 1)[0]
    cdf = np.cumsum(pert)
    return keys[np.searchsorted(cdf, rng.random() * total, "right")]


def _draw_value_seq(rng, idx, rows, vals_a, dist_a):
    """Full-domain enumeration (ref: GibbsUpdates.scala:652-698)."""
    nondist = rows[~dist_a[rows]]
    if nondist.shape[0]:
        return vals_a[nondist[0]]
    if idx.is_constant:
        return sample_from_probs(rng, idx.probs, 1)[0]
    weights = idx.probs.copy()
    for r in rows:
        v = int(vals_a[r])
        ev = np.ones(idx.num_values, dtype=np.float64)
        nbr = idx.neighbor_ids[v]
        if len(nbr):
            ev[nbr] = idx.neighbor_expsims[v]
        weights *= ev * idx.sim_norms * idx.probs[v]
    total = weights.sum()
    if total <= 0:
        raise RuntimeError("zero total weight in entity-value update")
    cdf = np.cumsum(weights)
    return int(np.searchsorted(cdf, rng.random() * total, "right"))


# ---------------------------------------------------------------------------
# Distortion update (vectorized)
# ---------------------------------------------------------------------------


def update_distortions(
    rng: np.random.Generator,
    ps: PartitionState,
    cache: RecordsCache,
    theta: np.ndarray,
) -> np.ndarray:
    """Per-(record, attribute) Bernoulli resample of the distortion flags
    (ref: GibbsUpdates.scala:324-359), fully vectorized."""
    R = ps.num_records
    A = cache.num_attributes
    new_dist = np.empty((R, A), dtype=bool)
    ent_for_rec = ps.entities[ps.link]  # (R, A)
    u = rng.random((R, A))
    for a in range(A):
        idx = cache.indexes[a]
        th = theta[a, ps.rec_fids]  # (R,)
        vals = ps.rec_values[:, a]
        missing = vals < 0
        agree = ~missing & (vals == ent_for_rec[:, a])
        disagree = ~missing & ~agree

        # agree: Bernoulli(p1/(p1+p0))
        v_safe = np.where(missing, 0, vals)
        p_v = idx.probs[v_safe]
        if idx.is_constant:
            p1 = th * p_v
        else:
            # expSim(v, v) = exp(maxSimilarity) for every indexed value
            self_sim = np.exp(
                np.full(R, cache.attributes[a].sim_fn.max_similarity, dtype=np.float64)
            )
            p1 = th * p_v * idx.sim_norms[v_safe] * self_sim
        p0 = 1.0 - th
        denom = p1 + p0
        p_agree = np.where(denom > 0, p1 / np.where(denom > 0, denom, 1.0), 0.0)

        new_dist[:, a] = np.where(
            missing,
            u[:, a] < th,
            np.where(disagree, True, u[:, a] < p_agree),
        )
    return new_dist


# ---------------------------------------------------------------------------
# Summary statistics (per partition)
# ---------------------------------------------------------------------------


def partition_summary(
    ps: PartitionState, cache: RecordsCache
) -> tuple[float, int, np.ndarray, np.ndarray]:
    """Log-likelihood, isolate count, per-(attr,file) distortion counts and
    per-record distortion histogram (ref: GibbsUpdates.scala:219-301 minus
    the driver-side prior term, which lives in sampler.py)."""
    A = cache.num_attributes
    Fn = len(cache.file_ids)
    loglik = 0.0
    ent_linked = np.zeros(ps.num_entities, dtype=bool)
    ent_linked[ps.link] = True
    n_isolates = int((~ent_linked).sum())

    # entity value contribution (all entities)
    for a in range(A):
        loglik += float(np.log(cache.indexes[a].probs[ps.entities[:, a]]).sum())

    agg_dist = np.zeros((A, Fn), dtype=np.int64)
    ent_for_rec = ps.entities[ps.link] if ps.num_records else np.empty((0, A), int)
    for a in range(A):
        idx = cache.indexes[a]
        d = ps.rec_dist[:, a]
        if not d.any():
            continue
        np.add.at(agg_dist[a], ps.rec_fids[d], 1)
        vals = ps.rec_values[:, a]
        obs_dist = d & (vals >= 0)
        if obs_dist.any():
            v = vals[obs_dist]
            p = idx.probs[v]
            if not idx.is_constant:
                ev = ent_for_rec[obs_dist, a]
                p = p * idx.sim_norms[ev] * _expsim_pairs(idx, v, ev)
            loglik += float(np.log(p).sum())

    rec_dist_hist = np.bincount(
        ps.rec_dist.sum(axis=1), minlength=A + 1
    ).astype(np.int64)[: A + 1]
    return loglik, n_isolates, agg_dist.ravel(), rec_dist_hist


# ---------------------------------------------------------------------------
# Full transition for one partition
# ---------------------------------------------------------------------------


def transition_partition(
    rng: np.random.Generator,
    ps: PartitionState,
    cache: RecordsCache,
    theta: np.ndarray,
    mode: str,
) -> PartitionState:
    """One Markov transition on a partition (ref: GibbsUpdates.scala:156-211):
    resample links, then entity values, then distortions."""
    if mode not in SAMPLERS:
        raise ValueError(f"unknown sampler {mode!r}; expected one of {SAMPLERS}")
    if mode == "PCG-II":
        ps.link = update_links_dense(rng, ps, cache, theta, collapsed=True)
    elif mode == "Gibbs-Sequential":
        ps.link = update_links_dense(rng, ps, cache, theta, collapsed=False)
    else:  # PCG-I, Gibbs
        ps.link = update_links_indexed(rng, ps, cache)
    ps.entities = update_entity_values(rng, ps, cache, theta, mode)
    ps.rec_dist = update_distortions(rng, ps, cache, theta)
    return ps
