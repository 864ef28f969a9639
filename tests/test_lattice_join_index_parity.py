"""Join regime ≡ index regime on an in-repo boundary set.

Past the boundary-index byte budget, Q1 and the −1 cover rounds score
the tile rows a join hands them against a batch-local copy of the
index layout; within it they read the broadcast index. Both must give
identical answers. The fixture is a small fixtures_dense lattice tiled
at base_res 6 with seg_budget 4, which yields all three tile kinds
(interior cells, interior sub-cells and boundary pieces)."""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from areacity_query_geometry_spark import fixtures_dense as fd
from areacity_query_geometry_spark.engine import SpatialEngine


@pytest.fixture(scope="module")
def lattice(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lattice") / "lattice.json")
    fd.generate(path, nx=8, ny=8, city_bx=2, city_by=2,
                prov_bx=4, prov_by=4, pts_per_edge=4)
    eng = SpatialEngine.from_geojson(spark, path, base_res=6, seg_budget=4)
    assert eng._tile_counts_by_kind() == {1: 38, 2: 96, 0: 974}
    assert eng._boundary_index() is not None
    return eng


def _df(spark, xs, ys):
    return spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(len(xs), dtype=np.int64),
        "lng": np.asarray(xs, dtype=np.float64),
        "lat": np.asarray(ys, dtype=np.float64)}),
        "point_id long, lng double, lat double")


def _q1_probes(spark):
    rng = np.random.default_rng(1)
    ux = rng.uniform(fd.X0 - 1, fd.X1 + 1, 20_000)
    uy = rng.uniform(fd.Y0 - 1, fd.Y1 + 1, 20_000)
    # the warped 9×9 lattice vertices, as the GeoJSON stores them: every
    # one is a ring vertex shared by up to four features per level
    gx, gy = np.meshgrid(np.linspace(fd.X0, fd.X1, 9),
                         np.linspace(fd.Y0, fd.Y1, 9))
    wx, wy = fd._displace(gx.ravel(), gy.ravel())
    vx = [float(f"{x:.6f}") for x in wx]
    vy = [float(f"{y:.6f}") for y in wy]
    # points on the midlines of the base cells, where a split boundary
    # cell's sub-cell pieces of one region meet: several pieces accept
    # the point, and the refine must report the region once
    w = 360.0 / (1 << 6)
    mx = -180.0 + (np.arange(64) + 0.5) * w
    mx = mx[(mx > fd.X0) & (mx < fd.X1)]
    my = -90.0 + (np.arange(32) + 0.5) * w
    my = my[(my > fd.Y0) & (my < fd.Y1)]
    lx = np.r_[rng.choice(mx, 1000), rng.uniform(fd.X0, fd.X1, 1000)]
    ly = np.r_[rng.uniform(fd.Y0, fd.Y1, 1000), rng.choice(my, 1000)]
    return _df(spark, np.r_[ux, vx, lx], np.r_[uy, vy, ly])


def _hits(eng, probes, where):
    rows = [(r["point_id"], r["region_id"]) for r in
            eng.query_points(probes, where=where, with_props=False)
            .collect()]
    assert len(rows) == len(set(rows)), "duplicate (point, region) rows"
    return sorted(rows)


@pytest.mark.parametrize("where", [None, "deep >= 1"])
def test_q1_join_refines_match_index(spark, lattice, where):
    eng = lattice
    probes = _q1_probes(spark).localCheckpoint(eager=True)
    with_index = _hits(eng, probes, where)
    saved = (eng._bindex, eng._bindex_off)
    try:
        eng._bindex, eng._bindex_off = None, True
        with_join = _hits(eng, probes, where)
    finally:
        eng._bindex, eng._bindex_off = saved
    smj = SpatialEngine(spark, eng.boundaries, eng.tiles, eng.base_res,
                        broadcast_tiles=False, salt_buckets=4,
                        boundary_index_wkb_bytes=0)
    with_smj = _hits(smj, probes, where)
    assert with_index == with_join == with_smj
    # the vertex probes sit on shared edges: each hits several features
    # of one level, so the hit set is far larger than one per probe
    assert len(with_index) > 20_000


def _offshore(spark):
    """60 probes 0.005–0.4° off the west and north frames: a random point
    on a frame edge as the GeoJSON stores it (straight runs between the
    warped, 6-decimal vertices; each frame is monotone along its axis),
    moved straight out."""
    rng = np.random.default_rng(5)
    off = rng.uniform(0.005, 0.4, 60)
    m = 8 * 4  # frame vertices per side - 1 (nx * pts_per_edge)

    def on_frame(x, y, t):
        vx, vy = fd._displace(x, y)
        vx = np.array([float(f"{v:.6f}") for v in vx])
        vy = np.array([float(f"{v:.6f}") for v in vy])
        i = np.minimum((t * m).astype(int), m - 1)
        f = t * m - i
        return (vx[i] + f * (vx[i + 1] - vx[i]),
                vy[i] + f * (vy[i + 1] - vy[i]))

    wx, wy = on_frame(np.full(m + 1, fd.X0), np.linspace(fd.Y0, fd.Y1, m + 1),
                      rng.uniform(0.0, 1.0, 30))
    nx, ny = on_frame(np.linspace(fd.X0, fd.X1, m + 1), np.full(m + 1, fd.Y1),
                      rng.uniform(0.0, 1.0, 30))
    return _df(spark, np.r_[wx - off[:30], nx], np.r_[wy, ny + off[30:]])


def _winners(eng, misses, small_direct):
    eng.last_q2_iter_stats = {}
    tiles_b = eng.tiles.filter(F.col("kind") == 0)
    d = eng._dists_unlimited_iterative(
        misses, tiles_b, 1, small_direct=small_direct).toPandas()
    deep = eng.boundaries.select("region_id", "deep").toPandas()
    d = d.merge(deep, on="region_id")
    d = d.sort_values(["point_id", "deep", "dist_m", "region_id"])
    w = d.groupby(["point_id", "deep"], as_index=False).first()
    return ([tuple(r) for r in w[["point_id", "deep", "region_id",
                                  "dist_m"]].itertuples(index=False)],
            dict(eng.last_q2_iter_stats))


@pytest.mark.parametrize("geodesic", [False, True])
@pytest.mark.parametrize("regime", ["index", "join"])
def test_nearest_cover_round_matches_terminal_scan(spark, lattice,
                                                   geodesic, regime):
    eng = lattice
    misses = _offshore(spark).localCheckpoint(eager=True)
    # every probe is a Q1 miss
    assert eng.query_points(misses, with_props=False).count() == 0
    saved = (eng._bindex, eng._bindex_off)
    eng.geodesic_refine = geodesic
    try:
        if regime == "join":
            eng._bindex, eng._bindex_off = None, True
        rounds, st = _winners(eng, misses, 0)
        direct, sd = _winners(eng, misses, 10 ** 9)
    finally:
        eng._bindex, eng._bindex_off = saved
        eng.geodesic_refine = False
    assert st["start_pd_pairs"] == 180
    assert st["rounds"] == 1 and st["round_frontier_after"] == [0]
    assert st["terminal_reason"] == "converged"
    assert st["round_candidates"][0] > 180
    assert sd["terminal_path"] == ("index" if regime == "index"
                                   else "cogroup")
    assert len(rounds) == 180
    assert rounds == direct
