"""Bit-parity of the batched PCG-I kernel passes against per-record loops.

`update_links_indexed`, `_draw_values_collapsed_k1`,
`_draw_values_collapsed_kn` and `partition_summary` evaluate every record
(or entity) of a pass at once. The oracles below are the per-record Python
loops those passes replaced, kept verbatim in their arithmetic. On seeded,
heavily distorted partition states (about a third of the cells distorted,
most entities in clusters of two or more) the batched code must return the
same arrays and leave the generator in the same state — the property that
keeps every chain pin bit-identical.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dblink_spark.er import model
from dblink_spark.er.attributes import Attribute, BetaParams, ConstantSim, LevenshteinSim
from dblink_spark.er.cache import build_records_cache
from dblink_spark.er.datagen import make_rldata
from dblink_spark.er.model import (
    PartitionState,
    _base_dist,
    _draw_values_collapsed_k1,
    _draw_values_collapsed_kn,
    _expsim_pairs,
    _linked_rows_per_entity,
    partition_summary,
    update_links_indexed,
)
from dblink_spark.er.rand import sample_from_probs

DIST_FRACTION = 0.35


@pytest.fixture(scope="module")
def cache(spark):
    pdf = make_rldata(n_records=600, dup_fraction=0.1, missing_fraction=0.02, seed=5)
    records = spark.createDataFrame(
        pdf[["rec_id", "fname", "lname", "by", "bm", "bd"]]
    ).withColumn("file_id", F.lit("0"))
    attrs = [
        Attribute("fname", LevenshteinSim(7.0, 10.0), BetaParams(0.5, 50.0)),
        Attribute("lname", LevenshteinSim(7.0, 10.0), BetaParams(0.5, 50.0)),
        Attribute("by", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("bm", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("bd", ConstantSim(), BetaParams(0.5, 50.0)),
    ]
    return build_records_cache(records, attrs, expected_max_cluster_size=10)


def distorted_state(cache, seed: int, n_records=700, n_entities=420) -> PartitionState:
    """A canonical partition state with ~35% distorted cells, 2% missing,
    clusters of up to 6 records and 12 records distorted on every
    attribute (an exact-match mask with no columns). Non-distorted observed
    values equal their entity's value (the model invariant); distorted
    similarity values are a neighbor of the entity's value half the time."""
    rng = np.random.default_rng(seed)
    A = cache.num_attributes
    ents = np.stack(
        [rng.integers(ix.num_values, size=n_entities) for ix in cache.indexes], axis=1
    ).astype(np.int32)
    link = np.concatenate(
        [np.arange(n_entities // 2), rng.integers(n_entities // 3, size=n_records - n_entities // 2)]
    ).astype(np.int64)
    dist = rng.random((n_records, A)) < DIST_FRACTION
    dist[:12] = True
    vals = ents[link].copy()
    for a, ix in enumerate(cache.indexes):
        for r in np.flatnonzero(dist[:, a]):
            if not ix.is_constant and rng.random() < 0.5:
                nbrs = ix.neighbor_ids[vals[r, a]]
                vals[r, a] = nbrs[rng.integers(nbrs.size)]
            else:
                vals[r, a] = rng.integers(ix.num_values)
    vals[rng.random((n_records, A)) < 0.02] = -1
    ps = PartitionState(
        entities=ents,
        rec_ids=np.array([f"r{i:04d}" for i in range(n_records)]),
        rec_fids=np.zeros(n_records, dtype=np.int32),
        rec_values=vals,
        rec_dist=dist,
        link=link,
    )
    return model.canonicalize_partition_state(ps)


def theta_for(cache, value: float) -> np.ndarray:
    return np.full((cache.num_attributes, 1), value)


# ---------------------------------------------------------------------------
# Oracles: the per-record loops
# ---------------------------------------------------------------------------


def expsim_lookup(idx, value: int, ent_col: np.ndarray) -> np.ndarray:
    out = np.ones(ent_col.shape[0], dtype=np.float64)
    nbr = idx.neighbor_ids[value]
    if len(nbr):
        pos = np.searchsorted(nbr, ent_col)
        pos_c = np.clip(pos, 0, len(nbr) - 1)
        hit = nbr[pos_c] == ent_col
        out[hit] = idx.neighbor_expsims[value][pos_c[hit]]
    return out


def links_oracle(rng, ps, cache):
    """One uniform per record; candidates = entities equal on every observed
    non-distorted attribute, ascending; a uniform pick unless a distorted
    similarity attribute weights them. Returns (links, weighted draws)."""
    R = ps.num_records
    u = rng.random(R)
    obs = ps.rec_values >= 0
    nd = obs & ~ps.rec_dist
    nonconst = np.array([not ix.is_constant for ix in cache.indexes])
    out = np.empty(R, dtype=np.int64)
    n_weighted = 0
    for r in range(R):
        cols = np.flatnonzero(nd[r])
        cands = np.flatnonzero(
            (ps.entities[:, cols] == ps.rec_values[r, cols]).all(axis=1)
        )
        wattrs = np.flatnonzero(obs[r] & ps.rec_dist[r] & nonconst)
        if not wattrs.size:
            out[r] = cands[int(u[r] * cands.size)]
            continue
        n_weighted += 1
        w = np.ones(cands.shape[0], dtype=np.float64)
        for a in wattrs:
            idx = cache.indexes[a]
            v = int(ps.rec_values[r, a])
            ent_col = ps.entities[cands, a]
            w *= idx.probs[v] * idx.sim_norms[ent_col] * expsim_lookup(idx, v, ent_col)
        cdf = np.cumsum(w)
        out[r] = cands[np.searchsorted(cdf, u[r] * cdf[-1], "right")]
    return out, n_weighted


def k1_oracle(rng, idx, attr_id, r1, vals_a, rec_fids, theta):
    """Returns (values, off-v rejections searched segment by segment)."""
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
        return out, 0
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
    n_off = 0
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
        for i in np.flatnonzero(~on_v):
            n_off += 1
            seg = S[o[i] : csr["off"][vr[i] + 1]]
            pp = int(p[i])
            c1 = int(np.searchsorted(seg[:pp], t[i], "right"))
            c2 = max(0, int(np.searchsorted(seg, t[i] - dr[i], "right")) - pp)
            res[i] = ids_flat[o[i] + c1 + c2]
        out[rej] = res
    return out, n_off


def kn_oracle(rng, idx, attr_id, recs, vals_a, rec_fids, theta, k):
    """Returns (values, rejectors searched entity by entity)."""
    nE = recs.shape[0]
    base = _base_dist(idx, k)
    v = vals_a[recs].astype(np.int64).ravel()
    th = theta[attr_id, rec_fids[recs]].ravel()
    if idx.is_constant:
        keys = v
        fac = 1.0 + (1.0 / th - 1.0) / idx.probs[v]
        ent_rep = np.repeat(np.arange(nE, dtype=np.int64), k)
    else:
        csr = idx.collapsed_k1_csr()
        o = csr["off"][v]
        L = csr["off"][v + 1] - o
        total = int(L.sum())
        flat_starts = np.cumsum(L) - L
        within = np.arange(total, dtype=np.int64) - np.repeat(flat_starts, L)
        gidx = np.repeat(o, L) + within
        keys = csr["ids"][gidx]
        fac = csr["exps"][gidx].copy()
        fac[flat_starts + csr["pos"][v]] += (1.0 / th - 1.0) / (
            idx.probs[v] * idx.sim_norms[v]
        )
        ent_rep = np.repeat(np.repeat(np.arange(nE, dtype=np.int64), k), L)
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
        ends = np.r_[ent_starts[1:], pert.size]
        for j, i in enumerate(rej):
            s, e2 = int(ent_starts[i]), int(ends[i])
            seg = cdf[s:e2] - (cdf[s - 1] if s else 0.0)
            pos = int(np.searchsorted(seg, u2[j] * totals[i], "right"))
            out[i] = uk[s + min(pos, e2 - s - 1)]
    return out, int(rej.size)


def summary_loglik_oracle(ps, cache):
    """partition_summary's log-likelihood with a scalar exp-sim per record."""
    loglik = 0.0
    for a in range(cache.num_attributes):
        loglik += float(np.log(cache.indexes[a].probs[ps.entities[:, a]]).sum())
    ent_for_rec = ps.entities[ps.link]
    for a in range(cache.num_attributes):
        idx = cache.indexes[a]
        d = ps.rec_dist[:, a]
        if not d.any():
            continue
        vals = ps.rec_values[:, a]
        obs_dist = d & (vals >= 0)
        if obs_dist.any():
            v = vals[obs_dist]
            p = idx.probs[v]
            if not idx.is_constant:
                ev = ent_for_rec[obs_dist, a]
                expsims = np.array(
                    [idx.exp_sim_of(int(rv), int(e)) for rv, e in zip(v, ev)]
                )
                p = p * idx.sim_norms[ev] * expsims
            loglik += float(np.log(p).sum())
    return loglik


# ---------------------------------------------------------------------------
# Helpers
# ---------------------------------------------------------------------------


def twin_rngs(seed):
    return np.random.default_rng(seed), np.random.default_rng(seed)


def assert_same_stream(r1, r2):
    assert r1.bit_generator.state == r2.bit_generator.state


def value_draw_inputs(ps, a):
    """Singleton rows and per-size k-cluster record blocks of attribute a,
    gathered exactly as update_entity_values gathers them."""
    E = ps.num_entities
    order, bounds = _linked_rows_per_entity(ps.link, E)
    ent_of_pos = np.repeat(np.arange(E, dtype=np.int64), np.diff(bounds))
    obs_mask = ps.rec_values[:, a][order] >= 0
    rows_obs = order[obs_mask]
    ents_obs = ent_of_pos[obs_mask]
    k_obs = np.bincount(ents_obs, minlength=E)
    k1 = np.flatnonzero(k_obs == 1)
    r1 = rows_obs[np.searchsorted(ents_obs, k1)]
    blocks = {}
    for k in range(2, int(k_obs.max()) + 1):
        ents_k = np.flatnonzero(k_obs == k)
        if ents_k.size:
            lo = np.searchsorted(ents_obs, ents_k)
            blocks[k] = rows_obs[lo[:, None] + np.arange(k)]
    return r1, blocks


# ---------------------------------------------------------------------------
# Tests
# ---------------------------------------------------------------------------


def test_fixture_state_is_heavily_distorted(cache):
    ps = distorted_state(cache, 1)
    assert ps.rec_dist.mean() >= 0.25
    sizes = np.bincount(ps.link, minlength=ps.num_entities)
    assert (sizes >= 2).sum() >= 100
    obs = ps.rec_values >= 0
    assert (~(obs & ~ps.rec_dist).any(axis=1)).sum() >= 10, "no mask without exact-match columns"


@pytest.mark.parametrize("cells", [None, 1, 3000], ids=["default", "one-row-chunks", "multi-row-chunks"])
@pytest.mark.parametrize("seed", [1, 2])
def test_update_links_indexed_matches_per_record_loop(cache, monkeypatch, seed, cells):
    """Covers the all-entities mask (records distorted on every attribute)
    and, with the cell budget lowered, runs split over many chunks."""
    if cells is not None:
        monkeypatch.setattr(model, "_LINK_CELLS", cells)
    ps = distorted_state(cache, seed)
    r1, r2 = twin_rngs(100 + seed)
    got = update_links_indexed(r1, ps, cache)
    want, n_weighted = links_oracle(r2, ps, cache)
    assert n_weighted >= 100
    np.testing.assert_array_equal(got, want)
    assert_same_stream(r1, r2)


@pytest.mark.parametrize("th", [0.02, 0.3])
@pytest.mark.parametrize("seed", [1, 2])
def test_collapsed_value_draws_match_per_record_loops(cache, seed, th):
    ps = distorted_state(cache, seed)
    theta = theta_for(cache, th)
    n_rej = 0
    for a, idx in enumerate(cache.indexes):
        r1, blocks = value_draw_inputs(ps, a)
        vals_a = ps.rec_values[:, a]
        g1, g2 = twin_rngs(seed * 10 + a)
        got = _draw_values_collapsed_k1(g1, idx, a, r1, vals_a, ps.rec_fids, theta)
        want, _ = k1_oracle(g2, idx, a, r1, vals_a, ps.rec_fids, theta)
        np.testing.assert_array_equal(got, want)
        assert_same_stream(g1, g2)
        for k, recs in blocks.items():
            got = _draw_values_collapsed_kn(g1, idx, a, recs, vals_a, ps.rec_fids, theta, k)
            want, rej = kn_oracle(g2, idx, a, recs, vals_a, ps.rec_fids, theta, k)
            np.testing.assert_array_equal(got, want)
            assert_same_stream(g1, g2)
            n_rej += rej
    assert n_rej >= 50, "the rejector segment search was not exercised"


def test_k1_draws_off_the_observed_value(cache):
    """A singleton's rejected draw rarely leaves its own value: it needs a
    neighbor whose perturbation mass rivals the θ correction. Values with
    neighbors, each drawn many times at a high θ, make those draws occur."""
    n_off = 0
    for a, idx in enumerate(cache.indexes):
        if idx.is_constant:
            continue
        multi = np.flatnonzero([len(nb) > 1 for nb in idx.neighbor_ids])
        vals_a = np.repeat(multi, 60).astype(np.int32)
        r1 = np.arange(vals_a.size)
        fids = np.zeros(vals_a.size, dtype=np.int32)
        for th in (0.5, 0.9):
            g1, g2 = twin_rngs(a)
            theta = theta_for(cache, th)
            got = _draw_values_collapsed_k1(g1, idx, a, r1, vals_a, fids, theta)
            want, off = k1_oracle(g2, idx, a, r1, vals_a, fids, theta)
            np.testing.assert_array_equal(got, want)
            assert_same_stream(g1, g2)
            n_off += off
    assert n_off >= 5, "the off-value segment search was not exercised"


def test_kn_with_no_rejectors(cache):
    """θ = 1 makes every constant-similarity perturbation zero, so every
    k ≥ 2 entity accepts and the rejector pass sees an empty set."""
    ps = distorted_state(cache, 3)
    theta = theta_for(cache, 1.0)
    a = next(i for i, ix in enumerate(cache.indexes) if ix.is_constant)
    _, blocks = value_draw_inputs(ps, a)
    assert blocks
    g1, g2 = twin_rngs(7)
    for k, recs in blocks.items():
        got = _draw_values_collapsed_kn(
            g1, cache.indexes[a], a, recs, ps.rec_values[:, a], ps.rec_fids, theta, k
        )
        want, rej = kn_oracle(
            g2, cache.indexes[a], a, recs, ps.rec_values[:, a], ps.rec_fids, theta, k
        )
        assert rej == 0
        np.testing.assert_array_equal(got, want)
        assert_same_stream(g1, g2)


@pytest.mark.parametrize("seed", [1, 2])
def test_partition_summary_matches_scalar_expsims(cache, seed):
    ps = distorted_state(cache, seed)
    loglik, _, _, _ = partition_summary(ps, cache)
    assert loglik == summary_loglik_oracle(ps, cache)


def test_expsim_pairs_matches_scalar_lookup(cache):
    for idx in cache.indexes:
        if idx.is_constant:
            continue
        v = np.arange(idx.num_values)
        got = _expsim_pairs(idx, v[:, None], v[None, :].astype(np.int32))
        want = np.array([expsim_lookup(idx, int(x), v) for x in v])
        np.testing.assert_array_equal(got, want)
        assert (got > 1.0).sum() > idx.num_values, "no off-diagonal neighbors"
