"""The tolerance=-1 full scan has two regimes: the broadcast boundary
index (engine._dists_full_scan_index, one mapInPandas over the active
(point, deep) rows) while the boundary WKB fits the index budget, and
the cogrouped reverse scan (engine._dists_full_scan) past it. Both
must return the same (point_id, region_id, deep) rows with
bit-identical point_distance: the index kernel runs the same argmin
arithmetic flat (engine._flat_seg_argmins), the same per-tile
antimeridian unroll and the same per-region reduce, so any divergence
is a kernel bug, not tolerance noise.

Runs on in-repo fixtures only: a small fixtures_dense lattice probed
1-300 km offshore, and two features hugging the antimeridian."""
from __future__ import annotations

import numpy as np
import pytest

from areacity_query_geometry_spark import fixtures_dense as fd
from areacity_query_geometry_spark.engine import SpatialEngine


def _rows(eng, probes, k, where):
    out = eng.query_points_with_tolerance(probes, -1, where=where, k=k)
    rows = sorted((r["point_id"], r["region_id"], int(r["deep"]),
                   r["point_distance"])
                  for r in out.select("point_id", "region_id", "deep",
                                      "point_distance").collect())
    return rows, eng.last_q2_iter_stats["terminal_path"]


def _both_paths(eng, probes, k=1, where=None):
    assert eng._boundary_index() is not None, \
        "fixture must fit the boundary-index budget"
    with_index, path = _rows(eng, probes, k, where)
    assert path == "index"
    saved = (eng._bindex, eng._bindex_off)
    try:
        eng._bindex, eng._bindex_off = None, True
        with_cogroup, path = _rows(eng, probes, k, where)
        assert path == "cogroup"
    finally:
        eng._bindex, eng._bindex_off = saved
    return with_index, with_cogroup


def _offshore(dist_m):
    """Probes `dist_m` metres out from one outer-frame vertex on each
    side of the (warped) lattice, along the side's outward axis."""
    frame = [(fd.X0, 36.0, -1, 0), (fd.X1, 31.5, 1, 0),
             (104.0, fd.Y0, 0, -1), (119.5, fd.Y1, 0, 1)]
    pts = []
    for d in dist_m:
        dlat = d / 111320.0
        for x, y, ox, oy in frame:
            wx, wy = (float(v[0]) for v in
                      fd._displace(np.array([x]), np.array([y])))
            pts.append((float(wx + ox * dlat / np.cos(np.radians(wy))),
                        wy + oy * dlat))
    return pts


@pytest.fixture(scope="module")
def lattice_engine(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dense") / "small.json")
    fd.generate(path, nx=8, ny=8, city_bx=2, city_by=2,
                prov_bx=4, prov_by=4, pts_per_edge=4)
    return SpatialEngine.from_geojson(spark, path, base_res=8)


@pytest.mark.parametrize("k,where,geodesic", [
    (1, None, False),
    (2, None, False),
    (1, "deep >= 1", False),
    (1, None, True),
])
def test_index_full_scan_matches_cogroup(spark, lattice_engine, k, where,
                                         geodesic):
    eng = lattice_engine
    pts = _offshore([1e3, 2e4, 1e5, 3e5])
    probes = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)],
        "point_id long, lng double, lat double")
    eng.geodesic_refine = geodesic
    try:
        with_index, with_cogroup = _both_paths(eng, probes, k, where)
    finally:
        eng.geodesic_refine = False
    # one row per probe, deep level and rank: the probes are all
    # offshore, so every row carries a distance
    deeps = {1, 2} if where else {0, 1, 2}
    assert len(with_index) == len(pts) * len(deeps) * k
    assert {r[2] for r in with_index} == deeps
    assert all(r[3] is not None for r in with_index)
    assert with_index == with_cogroup


@pytest.fixture(scope="module")
def antimeridian_engine(spark, tmp_path_factory):
    rings = {
        "east": [(179.0, 10.0), (179.5, 10.0), (179.5, 12.0),
                 (179.0, 12.0), (179.0, 10.0)],
        "west": [(-179.5, 10.5), (-179.0, 10.5), (-179.0, 11.5),
                 (-179.5, 11.5), (-179.5, 10.5)],
    }
    feats = []
    for i, (name, ring) in enumerate(rings.items()):
        coords = ",".join(f"[{x},{y}]" for x, y in ring)
        feats.append(
            '{"type":"Feature","properties":{"id":"%d","pid":"0",'
            '"deep":"0","name":"%s","ext_path":"%s"},"geometry":'
            '{"type":"Polygon","coordinates":[[%s]]}}' % (
                i + 1, name, name, coords))
    p = tmp_path_factory.mktemp("antimeridian") / "am.json"
    p.write_text('{"type":"FeatureCollection","features":[\n'
                 + ",\n".join(feats) + "\n]}")
    return SpatialEngine.from_geojson(spark, str(p), base_res=6)


def test_antimeridian_index_full_scan_matches_cogroup(
        spark, antimeridian_engine):
    # probes on both sides of ±180: the nearest boundary of the feature
    # across the line is only reachable through the per-tile unroll
    probes = spark.createDataFrame(
        [(0, 179.9, 11.0), (1, -179.9, 11.0), (2, 179.75, 13.0),
         (3, -179.8, 9.0), (4, 178.0, 11.0), (5, -178.0, 11.2)],
        "point_id long, lng double, lat double")
    with_index, with_cogroup = _both_paths(antimeridian_engine, probes, k=2)
    assert len(with_index) == 12
    assert with_index == with_cogroup
    # (1, -179.9) sits 0.6° of longitude east of "east"'s 179.5 edge
    # across the line: ~65.6 km. Without the unroll the planar argmin
    # would pick the 179.0 edge, 1.1° (~120 km) away the short way
    rid = {r["name"]: r["region_id"] for r in
           antimeridian_engine.boundaries.select("name", "region_id")
           .collect()}
    d_east = {r[0]: r[3] for r in with_index if r[1] == rid["east"]}
    assert 65_000 < d_east[1] < 66_000
