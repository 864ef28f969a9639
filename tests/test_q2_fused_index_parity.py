"""Finite-tolerance Q2 in the index regime is one Arrow pass
(engine._make_q2_index_fn): the Q1 hit test, the tolerance distances
and the per-(point, deep) top-k all run in one mapInPandas against the
worker-resident interior and boundary indexes. Its rows must be
identical, column for column (prop_json_out included), to the join
plan — the Q1 plan checkpointed, misses by anti-join, the cover-join
distance kernel and _finish_tolerance's window — and its executed plan
must hold one MapInPandas and no shuffle Exchange.

Also pins the non-finite probe rule on every Q2 path: a point with a
NaN, null or infinite coordinate gets no row, and the others are
answered.

Runs on an in-repo fixtures_dense lattice only."""
from __future__ import annotations

import contextlib
import io
import re

import numpy as np
import pytest

from areacity_query_geometry_spark import fixtures_dense as fd
from areacity_query_geometry_spark.engine import SpatialEngine


@pytest.fixture(scope="module")
def lattice_engine(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dense") / "small.json")
    fd.generate(path, nx=8, ny=8, city_bx=2, city_by=2,
                prov_bx=4, prov_by=4, pts_per_edge=4)
    eng = SpatialEngine.from_geojson(spark, path, base_res=8)
    assert eng._boundary_index() is not None
    assert eng._interior_index() is not None
    return eng


def _probes(spark, tol_m):
    """Inland points (Q1 hits) plus points pushed 0.05–1.5 tolerances
    out from the (warped) outer frame of the lattice along all four
    sides and past its corners, so every tolerance sees hits, near
    misses scored against several regions per deep, and far misses."""
    rng = np.random.default_rng(7)
    pts = [(float(x), float(y)) for x, y in zip(
        rng.uniform(fd.X0 + 1.0, fd.X1 - 1.0, 60),
        rng.uniform(fd.Y0 + 1.0, fd.Y1 - 1.0, 60))]
    t = np.linspace(0.0, 1.0, 13)
    sides = [(np.full(13, fd.X0), fd.Y0 + t * (fd.Y1 - fd.Y0), -1, 0),
             (np.full(13, fd.X1), fd.Y0 + t * (fd.Y1 - fd.Y0), 1, 0),
             (fd.X0 + t * (fd.X1 - fd.X0), np.full(13, fd.Y0), 0, -1),
             (fd.X0 + t * (fd.X1 - fd.X0), np.full(13, fd.Y1), 0, 1)]
    for frac in (0.05, 0.3, 0.6, 0.95, 1.5):
        dlat = frac * tol_m / 111320.0
        for x, y, ox, oy in sides:
            wx, wy = fd._displace(x, y)
            dlng = dlat / np.cos(np.radians(wy))
            # corners (t = 0, 1) also step out along the other axis
            cx = np.where(oy != 0, np.sign(t - 0.5) * (t % 1 == 0), 0.0)
            cy = np.where(ox != 0, np.sign(t - 0.5) * (t % 1 == 0), 0.0)
            pts += list(zip((wx + (ox + cx) * dlng).tolist(),
                            (wy + (oy + cy) * dlat).tolist()))
    return spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)],
        "point_id long, lng double, lat double")


def _executed_nodes(df, name: str) -> int:
    """`name` nodes in the executed (AQE final) plan tree of `df`."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    tree = buf.getvalue().split("== Initial Plan ==")[0]
    return len(re.findall(rf"(?<![A-Za-z]){name} \(\d+\)", tree))


def _run(eng, probes, tol, k, where, **off):
    """Q2 rows and base_path, with `off` engine attributes forced for
    the call (e.g. _bindex=None, _bindex_off=True: the join plan)."""
    saved = {a: getattr(eng, a) for a in off}
    try:
        for a, v in off.items():
            setattr(eng, a, v)
        out = eng.query_points_with_tolerance(probes, tol, where=where, k=k)
        rows = sorted(out.collect())
        return out, rows, eng.last_q2_iter_stats["base_path"]
    finally:
        for a, v in saved.items():
            setattr(eng, a, v)


@pytest.mark.parametrize("tol_m", [2500.0, 25000.0, 250000.0])
@pytest.mark.parametrize("k,where", [(1, None), (2, None), (1, "deep >= 1")])
def test_fused_finite_q2_matches_join_plan(spark, lattice_engine, tol_m, k,
                                           where):
    eng = lattice_engine
    probes = _probes(spark, tol_m)
    fused, with_index, path = _run(eng, probes, tol_m, k, where)
    assert path == "index"
    assert _executed_nodes(fused, "MapInPandas") == 1
    assert _executed_nodes(fused, "Exchange") == 0
    joined, with_join, path = _run(eng, probes, tol_m, k, where,
                                   _bindex=None, _bindex_off=True)
    assert path == "join"
    assert fused.columns == joined.columns
    # the probe set exercises both halves of the output
    dist = fused.columns.index("point_distance")
    assert any(r[dist] is None for r in with_index)
    assert any(r[dist] is not None for r in with_index)
    assert with_index == with_join
    # interior index past its budget: the Q1 plan finds the hits and
    # the same kernel scores the misses
    _, with_boundary_only, path = _run(eng, probes, tol_m, k, where,
                                       _iindex=None, _iindex_off=True)
    assert path == "join"
    assert with_boundary_only == with_index


def test_finite_call_resets_stale_nearest_record(spark, lattice_engine):
    eng = lattice_engine
    probes = spark.createDataFrame([(0, fd.X0 - 1.0, 36.0)],
                                   "point_id long, lng double, lat double")
    eng.query_points_with_tolerance(probes, -1).collect()
    assert eng.last_q2_iter_stats["base_path"] == "index"
    assert eng.last_q2_iter_stats["terminal_path"] == "index"
    eng.query_points_with_tolerance(probes, 2500.0).collect()
    assert eng.last_q2_iter_stats == {"base_path": "index"}


_NON_FINITE = [(2, 100.0, float("nan")), (3, None, 30.0),
               (4, float("inf"), 30.0), (5, 100.0, float("-inf"))]


@pytest.mark.parametrize("tol_m,regime", [
    (-1, "index"), (-1, "join"), (250000.0, "index"), (250000.0, "join"),
])
def test_non_finite_probe_gets_no_row(spark, lattice_engine, tol_m, regime):
    eng = lattice_engine
    # point 0 is inland (a Q1 hit), point 1 ~1° west of the lattice
    probes = spark.createDataFrame(
        [(0, 100.0, 30.0), (1, fd.X0 - 1.0, 36.0)] + _NON_FINITE,
        "point_id long, lng double, lat double")
    off = {"_bindex": None, "_bindex_off": True} if regime == "join" else {}
    _, rows, path = _run(eng, probes, tol_m, 1, None, **off)
    assert path == regime
    if tol_m == -1:
        assert eng.last_q2_iter_stats["terminal_path"] == (
            "index" if regime == "index" else "cogroup")
    by_point = {}
    for r in rows:
        by_point.setdefault(r["point_id"], []).append(r)
    assert set(by_point) == {0, 1}
    assert all(r["point_distance"] is None for r in by_point[0])
    assert all(r["point_distance"] > 0 for r in by_point[1])
    assert len(by_point[0]) == len(by_point[1]) == 3
