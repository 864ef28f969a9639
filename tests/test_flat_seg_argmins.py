"""engine._flat_seg_argmins is the one argmin kernel every Q2 distance
path runs (finite tolerance and −1, index and join regimes alike), so
the Spark-level parity tests compare it with itself. This pins it to
the per-tile reference formulas, predicates.nearest_on_segments_idx
and nearest_on_segments_scaled_idx, slice by slice: both argmin
points, their distances, the winning segment indices (first hit on
ties) and the geodesic mode's 3-point haversine proxy winner. The
random segment sets include degenerate (zero-length) and duplicated
(tied) segments. Pure numpy."""
import numpy as np
import pytest

from areacity_query_geometry_spark.engine import _flat_seg_argmins
from areacity_query_geometry_spark.geom import distance, predicates


def _case(seed):
    rng = np.random.RandomState(seed)
    n_pairs = 300
    scnt = rng.randint(1, 12, size=n_pairs).astype(np.int64)
    S = []
    for c in scnt:
        a = rng.uniform(-5, 5, size=(c, 2)) + rng.uniform(-170, 170, 2) \
            * np.array([1.0, 0.4])
        b = a + rng.randn(c, 2) * rng.choice([0.01, 0.5, 3.0])
        segs = np.hstack([a, b])
        if c > 1 and rng.rand() < 0.3:
            segs[-1] = segs[0]                # duplicated: an exact tie
        if rng.rand() < 0.3:
            segs[0, 2:] = segs[0, :2]         # degenerate: a point
        S.append(segs)
    s0 = np.zeros(n_pairs, dtype=np.int64)
    np.cumsum(scnt[:-1], out=s0[1:])
    S = np.vstack(S)
    # probes near their slice: some far, some on a segment endpoint
    cx = np.array([S[a:a + c, 0].mean() for a, c in zip(s0, scnt)])
    cy = np.array([S[a:a + c, 1].mean() for a, c in zip(s0, scnt)])
    px = cx + rng.randn(n_pairs) * rng.choice([0.1, 5.0, 40.0], n_pairs)
    py = np.clip(cy + rng.randn(n_pairs) * 2.0, -89.0, 89.0)
    on = rng.rand(n_pairs) < 0.1
    px[on], py[on] = S[s0[on], 0], S[s0[on], 1]
    return px, py, s0, scnt, S


def _hav_proxy_ref(px, py, segs):
    ax, ay, bx, by = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    mx, my = (ax + bx) / 2.0, (ay + by) / 2.0
    d = np.minimum(np.minimum(
        np.asarray(distance.haversine(ax, ay, px, py)),
        np.asarray(distance.haversine(bx, by, px, py))),
        np.asarray(distance.haversine(mx, my, px, py)))
    return int(d.argmin())


@pytest.mark.parametrize("seed", [3, 17, 2024])
def test_flat_argmins_match_reference_per_slice(seed):
    px, py, s0, scnt, S = _case(seed)
    X1, Y1, X2, Y2 = (np.ascontiguousarray(S[:, k]) for k in range(4))
    nx, ny, d2, sx, sy, d2s, jn, js, jp = _flat_seg_argmins(
        px, py, s0, scnt, X1, Y1, X2, Y2, hav_proxy=True)
    ties = 0
    for i in range(len(px)):
        segs = S[s0[i]:s0[i] + scnt[i]]
        p, q = px[i:i + 1], py[i:i + 1]
        rx, ry, rd, rj = predicates.nearest_on_segments_idx(p, q, segs)
        assert (nx[i], ny[i]) == (rx[0], ry[0])
        assert np.sqrt(d2[i]) == rd[0]
        assert jn[i] == s0[i] + rj[0]
        rx, ry, rd, rj = predicates.nearest_on_segments_scaled_idx(
            p, q, segs)
        assert (sx[i], sy[i]) == (rx[0], ry[0])
        assert np.sqrt(d2s[i]) == rd[0]
        assert js[i] == s0[i] + rj[0]
        assert jp[i] == s0[i] + _hav_proxy_ref(px[i], py[i], segs)
        ties += int((segs[-1] == segs[0]).all() and len(segs) > 1
                    and rj[0] == 0)
    assert ties  # the tie-break is exercised


def test_flat_argmins_without_proxy_is_the_prefix():
    px, py, s0, scnt, S = _case(5)
    X1, Y1, X2, Y2 = (np.ascontiguousarray(S[:, k]) for k in range(4))
    a = _flat_seg_argmins(px, py, s0, scnt, X1, Y1, X2, Y2)
    b = _flat_seg_argmins(px, py, s0, scnt, X1, Y1, X2, Y2, hav_proxy=True)
    assert len(a) == 8 and len(b) == 9
    for u, v in zip(a, b):
        assert np.array_equal(u, v)
