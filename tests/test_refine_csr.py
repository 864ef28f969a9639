"""The Q1 boundary refine scores (probe, tile) pairs with ONE flat
kernel in both regimes: engine._pair_hits over the boundary-index
layout (the broadcast index, or the batch-local copy the join refine
builds from its tile rows with engine._tile_index). This pins it to
the per-tile (points × segments) broadcast arithmetic it replaced,
kept below verbatim as `_loop_reference`: crossing parity with the
half-open (p < xint) rule plus EPS on-segment acceptance, degenerate
segments included. The random tile sets are shaped like a
reference-density batch (hundreds of tiles of a few segments, a few
points each). No Spark needed — the kernels are pure numpy."""
import numpy as np
import pytest

from areacity_query_geometry_spark.engine import _pair_hits, _tile_index
from areacity_query_geometry_spark.geom import predicates


def _make_ent(rng, n, degenerate_first=False):
    x1 = rng.rand(n)
    y1 = rng.rand(n)
    x2 = x1 + rng.randn(n) * 0.3
    y2 = y1 + rng.randn(n) * 0.3
    if degenerate_first:
        x2[0], y2[0] = x1[0], y1[0]
    yd = y2 - y1
    yds = np.where(yd == 0, 1.0, yd)
    dx = x2 - x1
    ln = np.hypot(dx, yd)
    degen = ln == 0
    ln = np.where(degen, 1.0, ln)
    return (x1, y1, x2, y2, yds, dx, ln, degen)


def _loop_reference(ents, starts, ends, px0, py0):
    """The few-big-tiles loop, verbatim arithmetic."""
    hit = np.zeros(len(px0), dtype=bool)
    for gi, (s0, s1) in enumerate(zip(starts, ends)):
        x1, y1, x2, y2, yds, dx, ln, degen = ents[gi]
        p = px0[s0:s1][:, None]
        q = py0[s0:s1][:, None]
        cond = (y1[None, :] > q) != (y2[None, :] > q)
        xint = x1[None, :] + (q - y1[None, :]) / yds[None, :] * dx[None, :]
        crossing = cond & (p < xint)
        parity = (crossing.sum(axis=1) % 2) == 1
        qx = p - x1[None, :]
        qy = q - y1[None, :]
        crossp = np.abs(qx * (y2 - y1)[None, :] - qy * dx[None, :]) / ln[None, :]
        if degen.any():
            crossp = np.where(degen[None, :], np.hypot(qx, qy), crossp)
        t_par = (qx * dx[None, :] + qy * (y2 - y1)[None, :]) / (ln * ln)[None, :]
        if degen.any():
            t_par = np.where(degen[None, :], 0.0, t_par)
        on = (crossp <= predicates.EPS) & (t_par >= -predicates.EPS) \
            & (t_par <= 1 + predicates.EPS)
        hit[s0:s1] = parity | on.any(axis=1)
    return hit


def _pair_helper(ents, starts, ends, px0, py0):
    """The ents' segments through engine._tile_index, then every
    (point, group) pair through engine._pair_hits."""
    n = len(ents)
    z = np.zeros(n)
    I = _tile_index(np.arange(n), np.zeros(n), np.zeros(n), z, z, z, z,
                    [np.column_stack(e[:4]) for e in ents])
    tiles = np.repeat(np.arange(n, dtype=np.int64), ends - starts)
    return _pair_hits(I, tiles, px0, py0)


@pytest.mark.parametrize("seed", [7, 23, 1009])
def test_csr_matches_loop(seed):
    rng = np.random.RandomState(seed)
    ngroups = int(rng.randint(65, 400))
    ents = [
        _make_ent(rng, int(rng.randint(1, 9)), degenerate_first=(g % 17 == 0))
        for g in range(ngroups)
    ]
    npair_g = rng.randint(1, 15, size=ngroups).astype(np.int64)
    starts = np.zeros(ngroups, dtype=np.int64)
    np.cumsum(npair_g[:-1], out=starts[1:])
    ends = starts + npair_g
    npairs = int(npair_g.sum())
    px0 = rng.rand(npairs) * 1.5 - 0.2
    py0 = rng.rand(npairs) * 1.5 - 0.2
    # plant exact on-segment points (midpoints) in a few groups
    for gi in (3, ngroups // 2):
        s0 = starts[gi]
        e = ents[gi]
        px0[s0] = (e[0][0] + e[2][0]) / 2
        py0[s0] = (e[1][0] + e[3][0]) / 2
    got = _pair_helper(ents, starts, ends, px0, py0)
    want = _loop_reference(ents, starts, ends, px0, py0)
    assert (got == want).all()
    assert want.any()  # the fixture actually exercises hits


def test_csr_single_point_groups():
    """Degenerate shape: every group has exactly one pair (the dense
    lattice's common case at low probe rates)."""
    rng = np.random.RandomState(42)
    ngroups = 100
    ents = [_make_ent(rng, 4) for _ in range(ngroups)]
    starts = np.arange(ngroups, dtype=np.int64)
    ends = starts + 1
    px0 = rng.rand(ngroups)
    py0 = rng.rand(ngroups)
    got = _pair_helper(ents, starts, ends, px0, py0)
    want = _loop_reference(ents, starts, ends, px0, py0)
    assert (got == want).all()
