"""The benchmark's workloads, driven through the engine's public API.

Both workloads share one boundary set, generated in-process by
`fixtures_dense.generate`, and run from one process on `local[N]` with
no client threads. Inputs come from the workload seed only.

- `points_indexed`: bulk Q1 (`query_points(with_props=False)`) over a
  seeded lattice covering the fixture bbox plus 1 degree. The boundary
  WKB is under the engine's index budget, so Q1 takes the
  broadcast-index refine with no shuffle.
- `requests_mix`: a closed loop, one client, each request kind once
  per cycle in a seeded order (Q1 with props, Q2 at 2.5 km, 25 km and
  -1, Q3 on rects, lines and diamonds, and a docs join) against an
  engine started from a tile store with `tile_store.load`.

Every operation is checked: order-independent checksums must repeat
within the run and across runs of the same seed in this checkout, and
a seeded sample is compared with the numpy brute force in `oracle`.
"""
from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from areacity_query_geometry_spark import docs, fixtures_dense, hostload, tiler
from areacity_query_geometry_spark.engine import SpatialEngine
from areacity_query_geometry_spark.sources import geojson_source, tile_store

import oracle
from spans import SparkCounters, Tracer, plan_metrics

# 16 provinces, 48 cities, 768 districts; every fine edge sampled at 20
# points. Sized so a run's three engine builds, its timed phase and its
# checks take about a minute on a 4-core host.
FIXTURE = dict(nx=24, ny=32, city_bx=4, city_by=4, prov_bx=12, prov_by=4,
               pts_per_edge=20)
BASE_RES = 10
BBOX = (fixtures_dense.X0, fixtures_dense.Y0, fixtures_dense.X1,
        fixtures_dense.Y1)
SETUPS = 3                    # setup_s is the median of this many builds
LATTICE = (2000, 1000)        # points_indexed: 2M probes per operation
WARM_LATTICE = (64, 64)
ORACLE_SAMPLE = 1500
# requests_mix: one cycle sends each request kind once, in a seeded
# order: Q1 with props on Q1_POINTS points, Q2 at 2.5 km and 25 km on
# 40 points, Q2 at -1 on one point, Q3 on one batch of Q3_PROBES rects,
# lines and diamonds each, and a docs join of DOCS_PER_REQUEST docs. The
# timed phase runs whole cycles.
Q1_POINTS = 1000
Q3_PROBES = 20
DOCS_PER_REQUEST = 200
STORE_PARAMS = {"base_res": BASE_RES, "max_res": None, "seg_budget": 48}


@dataclass
class Op:
    kind: str
    latency_s: float
    layers: dict = field(default_factory=dict)


class Run:
    """State of one benchmark invocation: inputs, outcomes, counters."""

    def __init__(self, spark: SparkSession, work: str, keep: str,
                 workload: str, seed: int, seconds: float, traced: bool):
        """`work` is this run's scratch directory; `keep` holds what
        later runs of the same code in this checkout reuse."""
        self.spark = spark
        self.work = work
        self.keep = keep
        self.memo_path = os.path.join(keep, "checksums.json")
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.rng = np.random.default_rng(seed)
        self.tracer = Tracer(traced)
        self.counters = SparkCounters(spark) if traced else None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.setup_s: list[float] = []
        self.ops: list[Op] = []
        self.rounds: list[tuple[int, float]] = []  # (records, seconds)
        self.layer: dict[str, float] = {}
        self.meta: dict = {}
        self.checksums: dict[str, tuple] = {}

    # ---------------------------------------------------------- outcomes

    def problem(self, msg: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr)

    def expect(self, key: str, checksum: tuple) -> None:
        """Checksums of one input must repeat within the run."""
        self.attempted += 1
        seen = self.checksums.setdefault(key, checksum)
        if seen != checksum:
            self.problem(f"{key}: checksum {checksum} != {seen}")

    def check_memo(self) -> None:
        """Checksums must also repeat across runs of the same seed and
        code in this checkout (the memo never outlives the checkout)."""
        memo = {}
        if os.path.exists(self.memo_path):
            with open(self.memo_path) as f:
                memo = json.load(f)
        for key, cs in self.checksums.items():
            k = f"{self.workload}/{self.seed}/{key}"
            cs = [str(v) for v in cs]
            self.attempted += 1
            if k in memo and memo[k] != cs:
                self.problem(f"{k}: checksum {cs} != earlier run {memo[k]}")
            memo[k] = cs
        tmp = self.memo_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(memo, f)
        os.replace(tmp, self.memo_path)

    # ---------------------------------------------------------- timed ops

    def op(self, kind: str, key: str, call, act):
        """One timed operation: `call` is the engine call returning a
        DataFrame, `act(df)` the action returning (checksum, payload).
        Returns the payload, or None when the operation failed."""
        tr = self.tracer
        with tr.span("op", rid=f"{kind}-{len(self.ops)}"):
            if self.counters:
                self.counters.begin()
            t0 = time.perf_counter()
            try:
                with tr.span("driver.plan"):
                    df = call()
                t1 = time.perf_counter()
                with tr.span("action"):
                    checksum, payload, acted = act(df)
            except Exception:  # noqa: BLE001 — a failed op is counted
                traceback.print_exc()
                self.attempted += 1
                self.problem(f"{key}: raised")
                return None
            t2 = time.perf_counter()
            layers = {}
            if self.counters:
                with tr.span("trace.collect"):
                    layers = {"plan_s": t1 - t0, "action_s": t2 - t1,
                              **self.counters.end(), **plan_metrics(acted)}
        self.ops.append(Op(kind, t2 - t0, layers))
        self.expect(key, checksum)
        return payload

    def timed_loop(self, body, min_rounds: int = 1) -> None:
        """Call `body()` (one round; returns records done) at least
        `min_rounds` times and until the run's seconds are spent; the
        host's steal and pressure stalls over the window are kept with
        the result."""
        cpu0, psi0 = hostload.cpu_snapshot(), hostload.psi_snapshot()
        t_end = time.perf_counter() + self.seconds
        with self.tracer.span("timed"):
            while (time.perf_counter() < t_end
                   or len(self.rounds) < min_rounds):
                t0 = time.perf_counter()
                n = body()
                self.rounds.append((n, time.perf_counter() - t0))
        self.meta["steal_pct"] = hostload.steal_pct(cpu0,
                                                    hostload.cpu_snapshot())
        self.meta["psi_stall_s"] = hostload.psi_stall_sec(
            psi0, hostload.psi_snapshot())

    # ---------------------------------------------------------- results

    def end_to_end(self) -> dict[str, float]:
        lat = sorted(o.latency_s for o in self.ops)
        thr = statistics.median(n / s for n, s in self.rounds)
        n = len(lat)
        # the highest percentile with at least ten samples beyond it,
        # once there are enough samples for it to lie above the median
        tail = n - 11
        self.meta["latency_samples"] = n
        self.meta["latency_tail_ms"] = (
            {"value": lat[tail] * 1e3,
             "percentile": round(100 * (tail + 1) / n, 1)}
            if n >= 21 else None)
        self.meta["failed_frac"] = self.failed / max(1, self.attempted)
        by_kind = defaultdict(list)
        for o in self.ops:
            by_kind[o.kind].append(o.latency_s * 1e3)
        self.meta["latency_by_kind_ms"] = {
            k: [round(x, 1) for x in v] for k, v in by_kind.items()}
        return {"setup_s": statistics.median(self.setup_s),
                "throughput_per_s": thr,
                "latency_p50_ms": statistics.median(lat) * 1e3}


# ------------------------------------------------------------- helpers


def hash_checksum(df: DataFrame, id_cols: list[str],
                  dist_col: str | None = None) -> tuple[int, int, int]:
    """(rows, Σ xxhash64(ids) as DECIMAL(38,0), Σ round(distance·1000)),
    computed in Spark over the whole result."""
    aggs = [F.count(F.lit(1)),
            F.sum(F.xxhash64(*id_cols).cast("decimal(38,0)"))]
    if dist_col:
        aggs.append(F.sum(F.round(F.col(dist_col) * 1000)))
    agg = df.agg(*aggs)
    row = agg.collect()[0]
    vals = [int(v) if v is not None else 0 for v in row]
    return tuple(vals + [0] * (3 - len(vals))), agg


def collect_rows(df: DataFrame, cols: list[str], id_cols: list[str],
                 dist_col: str | None = None):
    """Small results come back to the client; the checksum is summed
    over Spark's per-row xxhash64, so it is the same quantity."""
    q = df.select(*cols, F.xxhash64(*id_cols).alias("_h"))
    rows = q.collect()
    d = sum(round(r[dist_col] * 1000) for r in rows
            if dist_col and r[dist_col] is not None)
    return (len(rows), sum(int(r["_h"]) for r in rows), int(d)), rows, q


def lattice_axes(nx: int, ny: int) -> tuple[float, float, float, float]:
    """(x0, y0, dx, dy) of an nx × ny lattice over the bbox plus 1°."""
    x0, x1 = BBOX[0] - 1.0, BBOX[2] + 1.0
    y0, y1 = BBOX[1] - 1.0, BBOX[3] + 1.0
    return x0, y0, (x1 - x0) / nx, (y1 - y0) / ny


def lattice_df(spark, nx: int, ny: int, u: float, v: float) -> DataFrame:
    """Probe i sits in lattice cell (i mod nx, i div nx), offset by the
    seeded phase (u, v) in cell units."""
    x0, y0, dx, dy = lattice_axes(nx, ny)
    return spark.range(nx * ny).selectExpr(
        "id AS point_id",
        f"{x0!r} + (CAST(id % {nx} AS DOUBLE) + {u!r}) * {dx!r} AS lng",
        f"{y0!r} + (CAST(id DIV {nx} AS DOUBLE) + {v!r}) * {dy!r} AS lat")


def lattice_points(ids: np.ndarray, nx: int, ny: int, u: float, v: float):
    x0, y0, dx, dy = lattice_axes(nx, ny)
    return (x0 + ((ids % nx).astype(np.float64) + u) * dx,
            y0 + ((ids // nx).astype(np.float64) + v) * dy)


def points_df(spark, lng, lat) -> DataFrame:
    pdf = pd.DataFrame({"point_id": np.arange(len(lng), dtype=np.int64),
                        "lng": np.asarray(lng, dtype=np.float64),
                        "lat": np.asarray(lat, dtype=np.float64)})
    return spark.createDataFrame(pdf, "point_id long, lng double, lat double")


def make_fixture(run: Run) -> tuple[str, oracle.Rings]:
    path = os.path.join(run.work, "fixture.json")
    with run.tracer.span("fixture"):
        info = fixtures_dense.generate(path, **FIXTURE)
        rings = oracle.Rings(path)
    run.meta["fixture"] = {**FIXTURE, **info, "base_res": BASE_RES}
    run.layer["parse.ring_points"] = info["ring_points"]
    return path, rings


def from_geojson(run: Run, path: str) -> SpatialEngine:
    with run.tracer.span("from_geojson"):
        return SpatialEngine.from_geojson(run.spark, path, base_res=BASE_RES)


def build_layers(run: Run, path: str) -> None:
    """parse.s and tiler.build_s: one extra call into each layer, the
    tiler on already materialized boundaries so it does not parse too."""
    boundaries, run.layer["parse.s"] = timed_action(
        run, "parse", lambda: geojson_source.read_boundaries(
            run.spark, path).localCheckpoint(eager=True))
    _, run.layer["tiler.build_s"] = timed_action(
        run, "tiler", lambda: tiler.build_tiles(
            boundaries, BASE_RES).localCheckpoint(eager=True))


def release(spark: SparkSession) -> None:
    """Drop every cached relation and let the JVM collect what no live
    engine holds (checkpoints, broadcast indexes), so the next setup
    starts from the store's files and the peak RSS holds one engine."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def tile_stats(run: Run, eng: SpatialEngine) -> None:
    """Tile counts by kind and boundary WKB volume, read from the
    engine's public tile table; the WKB volume decides the refine path."""
    with run.tracer.span("stats"):
        rows = (eng.tiles.groupBy("kind")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.length("tile_wkb")).alias("b")).collect())
    by_kind = {int(r["kind"]): r for r in rows}
    n = lambda k: int(by_kind[k]["n"]) if k in by_kind else 0  # noqa: E731
    wkb = sum(int(r["b"] or 0) for k, r in by_kind.items() if k != 1)
    run.layer.update({
        "tiler.tiles_interior": n(1), "tiler.tiles_boundary": n(0),
        "tiler.tiles_split": n(2), "tiler.boundary_wkb_mb": wkb / 2**20})
    run.meta["boundary_wkb_mb"] = round(wkb / 2**20, 3)
    run.meta["index_budget_mb"] = eng.boundary_index_wkb_bytes / 2**20
    if not 0 < wkb <= eng.boundary_index_wkb_bytes:
        run.problem(f"regime: boundary WKB {wkb} B is not within the "
                    f"index budget {eng.boundary_index_wkb_bytes} B")


def check_region_ids(run: Run, eng: SpatialEngine,
                     rings: oracle.Rings) -> None:
    """The oracle keys features by line number; the engine's region_id
    must be that same key, feature by feature."""
    got = {int(r["region_id"]): r["id"]
           for r in eng.boundaries.select("region_id", "id").collect()}
    want = {f.rid: f.fid for f in rings.features}
    run.attempted += 1
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:3]
        run.problem(f"region_id: engine and fixture disagree, e.g. {diff}")


def timed_setup(run: Run, build, warm) -> SpatialEngine:
    """SETUPS fresh engines, each from construction through its warm
    pass; setup_s is their median. Each earlier engine is released
    before the next is built, and the last one is used. When traced,
    the warm Q1 call is repeated once, outside setup: the first call's
    excess over the repeat is the lazy index build."""
    eng = None
    idx = []
    for k in range(SETUPS):
        eng = None
        with run.tracer.span("release"):
            release(run.spark)
        t0 = time.perf_counter()
        with run.tracer.span("setup", rid=f"setup-{k}"):
            eng = build()
            with run.tracer.span("warm"):
                t_w = time.perf_counter()
                warm(eng)
                first = time.perf_counter() - t_w
        run.setup_s.append(time.perf_counter() - t0)
        if run.traced:
            with run.tracer.span("warm.repeat"):
                t_w = time.perf_counter()
                warm(eng)
                idx.append(first - (time.perf_counter() - t_w))
    if idx:
        run.layer["q1.index_build_s"] = statistics.median(idx)
    return eng


def median_of(run: Run, kinds: tuple[str, ...], key: str) -> float:
    vals = [o.layers.get(key, 0.0) for o in run.ops if o.kind in kinds]
    return statistics.median(vals) if vals else 0.0


def op_layers(run: Run) -> None:
    """Per-operation medians of what Spark measured, by layer."""
    allk = tuple({o.kind for o in run.ops})
    for name, key in (("driver.plan_s", "plan_s"), ("driver.jobs", "jobs"),
                      ("driver.stages", "stages"), ("driver.tasks", "tasks"),
                      ("exec.run_s", "run_s"), ("exec.gc_s", "gc_s")):
        run.layer[name] = median_of(run, allk, key)
    for key in ("python_s", "python_boot_s", "python_init_s",
                "arrow_out_mb", "arrow_in_mb", "broadcast_mb",
                "broadcast_build_s"):
        run.layer[f"q1.{key}"] = median_of(run, ("q1",), key)
    q2 = ("q2_2500", "q2_25000", "q2_nearest")
    run.layer["q2.python_s"] = median_of(run, q2, "python_s")
    run.layer["q3.python_s"] = median_of(
        run, ("q3",), "python_s")
    run.layer["docs.shuffle_write_mb"] = median_of(run, ("docs",),
                                                   "shuffle_write_mb")


def timed_action(run: Run, name: str, fn):
    with run.tracer.span(name):
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0


def q1_probe_layers(run: Run, eng: SpatialEngine, pts: DataFrame) -> None:
    """Q1's layers, each materialized alone on the workload's Q1 input."""
    _, run.layer["q1.cellid_s"] = timed_action(
        run, "q1.cellid", lambda: pts.withColumn(
            "cell_id", F.expr(eng.cell_expr())).agg(
                F.count(F.lit(1)),
                F.sum(F.col("cell_id").cast("decimal(38,0)"))).collect())
    df, obs = eng.query_points_with_metrics(pts)
    timed_action(run, "q1.observe",
                 lambda: hash_checksum(df, ["point_id", "region_id"]))
    interior = obs["interior"].get.get("rows", 0)
    refined = obs["refined"].get.get("rows", 0)
    eng.create_views("perfbench")
    pts.createOrReplaceTempView("perfbench_probes")
    (pairs,), _ = timed_action(run, "q1.boundary_pairs", lambda: run.spark.sql(
        "SELECT count(*) FROM perfbench_probes p JOIN perfbench_tiles t "
        f"ON t.cell_id = {eng.cell_expr('p.lng', 'p.lat')} AND t.kind <> 1"
    ).collect()[0])
    run.layer.update({
        "q1.interior_rows": interior, "q1.refined_rows": refined,
        "q1.boundary_probe_rows": pairs,
        "q1.refine_yield": refined / pairs if pairs else 0.0})


def trace_layers(run: Run, wall_s: float) -> None:
    tr = run.tracer
    run.layer["trace.wall_s"] = wall_s
    run.layer["unattributed_s"] = wall_s - tr.covered_s()
    run.layer["trace.collect_s"] = sum(tr.durations("trace.collect"))
    e2e = run.end_to_end()
    run.layer["trace.throughput_per_s"] = e2e["throughput_per_s"]
    run.layer["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
    op_layers(run)


# ------------------------------------------------------ points_indexed


def points_indexed(run: Run) -> None:
    path, rings = make_fixture(run)
    nx, ny = LATTICE
    u, v = (float(x) for x in run.rng.random(2))
    warm_pts = lattice_df(run.spark, *WARM_LATTICE, u, v)

    def warm(eng):
        hash_checksum(eng.query_points(warm_pts, with_props=False),
                      ["point_id", "region_id"])

    eng = timed_setup(run, lambda: from_geojson(run, path), warm)
    tile_stats(run, eng)
    check_region_ids(run, eng, rings)
    probes = lattice_df(run.spark, nx, ny, u, v)

    def act(df):
        checksum, agg = hash_checksum(df, ["point_id", "region_id"])
        return checksum, None, agg

    def one_batch():
        run.op("q1", "q1", lambda: eng.query_points(probes, with_props=False),
               act)
        return nx * ny

    # the first batch also compiles the full-size plan; the metrics are
    # medians over at least three batches, so it does not set them
    run.timed_loop(one_batch, min_rounds=3)

    with run.tracer.span("check"):
        ids = run.rng.choice(nx * ny, ORACLE_SAMPLE, replace=False)
        lng, lat = lattice_points(ids, nx, ny, u, v)
        res = eng.query_points(points_df(run.spark, lng, lat),
                               with_props=False)
        got = [[] for _ in ids]
        for r in res.collect():
            got[r["point_id"]].append(r["region_id"])
        with run.tracer.span("oracle"):
            checked, bad, example = oracle.check_q1(rings, lng, lat, got)
        run.attempted += checked
        if bad:
            run.problem(f"q1 oracle: {bad}/{checked} differ, e.g. {example}",
                        bad)
        shuffle = plan_metrics(res).get("shuffle_write_mb", 0.0)
        run.meta["q1_shuffle_write_mb"] = shuffle
        if shuffle:
            run.problem(f"regime: index-path Q1 shuffled {shuffle:.3f} MiB")
        run.meta["oracle_checked"] = checked
    if run.traced:
        with run.tracer.span("probes"):
            q1_probe_layers(run, eng, probes)
            build_layers(run, path)


# -------------------------------------------------------- requests_mix


def offshore(rng, verts, normals, n: int, lo_m: float, hi_m: float):
    """Points `lo_m`..`hi_m` metres out from the partition's outer frame,
    along the outward normal of a random frame vertex."""
    i = rng.integers(0, len(verts), n)
    d = rng.uniform(lo_m, hi_m, n) / 111320.0
    lat = verts[i, 1] + normals[i, 1] * d
    lng = verts[i, 0] + normals[i, 0] * d / np.cos(np.radians(verts[i, 1]))
    return lng, lat


def inland(rng, n: int):
    return (rng.uniform(BBOX[0] + 1, BBOX[2] - 1, n),
            rng.uniform(BBOX[1] + 1, BBOX[3] - 1, n))


def wkt_batch(rng, shape: str, n: int) -> list[str]:
    cx, cy = inland(rng, n)
    out = []
    for x, y in zip(cx, cy):
        r, h = rng.uniform(0.01, 0.2, 2)
        if shape == "rect":
            pts = [(x - r, y - h), (x + r, y - h), (x + r, y + h),
                   (x - r, y + h), (x - r, y - h)]
        elif shape == "diamond":
            pts = [(x - r, y), (x, y - r), (x + r, y), (x, y + r), (x - r, y)]
        else:
            steps = rng.uniform(-0.3, 0.3, (2, 2))
            pts = [(x, y), (x + steps[0, 0], y + steps[0, 1]),
                   (x + steps[1, 0], y + steps[1, 1])]
        body = ", ".join(f"{a:.6f} {b:.6f}" for a, b in pts)
        out.append(f"POLYGON (({body}))" if shape != "line"
                   else f"LINESTRING ({body})")
    return out


@dataclass
class Request:
    kind: str
    key: str
    call: object
    act: object
    check: object = None  # oracle over the untimed cycle's payload


def requests_mix(run: Run) -> None:
    path, rings = make_fixture(run)
    spark, rng, tr = run.spark, run.rng, run.tracer
    store = os.path.join(run.keep, "store")
    if not os.path.exists(store):
        # written once per checkout and code, by the first run that
        # needs it; it is made elsewhere and renamed into place whole
        with tr.span("store.build"):
            tmp = os.path.join(run.work, "store")
            tile_store.save(from_geojson(run, path), tmp, STORE_PARAMS)
            try:
                os.rename(tmp, store)
            except OSError:  # another run put its store there first
                shutil.rmtree(tmp, ignore_errors=True)

    u, v = (float(x) for x in rng.random(2))
    warm_pts = lattice_df(spark, *WARM_LATTICE, u, v)
    warm_rects = list(enumerate(wkt_batch(rng, "rect", 4)))
    warm_wkt = spark.createDataFrame(warm_rects, "probe_id long, wkt string")
    loads = []

    def build():
        with tr.span("store.load"):
            t0 = time.perf_counter()
            eng = tile_store.load(spark, store)
            loads.append(time.perf_counter() - t0)
        return eng

    def warm(eng):
        collect_rows(eng.query_points(warm_pts), ["point_id"],
                     ["point_id", "region_id"])
        collect_rows(eng.query_geometry(warm_wkt), ["probe_id"],
                     ["probe_id", "region_id"])

    eng = timed_setup(run, build, warm)
    run.layer["store.load_s"] = statistics.median(loads)
    tile_stats(run, eng)
    check_region_ids(run, eng, rings)

    with tr.span("inputs"):
        requests, probes = make_requests(run, eng, rings)
    order = list(rng.permutation(len(requests)))

    # one untimed cycle first, since each kind is timed once a cycle:
    # every request kind compiles its plans once, and its answer is kept
    # for the oracle; the timed cycles must repeat its checksums
    first: dict[str, object] = {}
    with tr.span("warm.cycle"):
        for i in order:
            r = requests[i]
            checksum, first[r.key], _ = r.act(r.call())
            run.expect(r.key, checksum)

    def one_cycle():
        for i in order:
            r = requests[i]
            run.op(r.kind, r.key, r.call, r.act)
            if r.kind == "q2_nearest":
                run.layer["q2.rounds"] = eng.last_q2_iter_stats["rounds"]
        return len(requests)

    run.timed_loop(one_cycle)
    with tr.span("check"):
        for r in requests:
            if r.check:
                with tr.span("oracle"):
                    checked, bad, example = r.check(first[r.key])
                run.attempted += checked
                if bad:
                    run.problem(f"{r.key} oracle: {bad}/{checked} differ, "
                                f"e.g. {example}", bad)
    if run.traced:
        with tr.span("probes"):
            request_probe_layers(run, eng, probes)


def make_requests(run: Run, eng: SpatialEngine, rings: oracle.Rings):
    """The cycle's requests, each with its input, action and oracle."""
    spark, rng = run.spark, run.rng
    verts, normals = rings.outer_vertices()
    out: list[Request] = []
    probes: dict[str, object] = {}

    lng1, lat1 = inland(rng, Q1_POINTS)
    probes["q1"] = pts1 = points_df(spark, lng1, lat1)

    def check_q1(rows):
        got = [[] for _ in lng1]
        for r in rows:
            got[r["point_id"]].append(r["region_id"])
        return oracle.check_q1(rings, lng1, lat1, got)

    out.append(Request("q1", "q1", lambda: eng.query_points(pts1),
                       lambda df: collect_rows(
                           df, ["point_id", "region_id", "id"],
                           ["point_id", "region_id"]),
                       check_q1))

    for kind, tol, n_near, n_far, n_in in (
            ("q2_2500", 2500.0, 28, 8, 4), ("q2_25000", 25000.0, 28, 8, 4),
            ("q2_nearest", -1.0, 0, 1, 0)):
        if tol > 0:
            near = offshore(rng, verts, normals, n_near, 0.05 * tol, 0.9 * tol)
            far = offshore(rng, verts, normals, n_far, 1.3 * tol, 4 * tol)
        else:
            near = (np.empty(0), np.empty(0))
            far = offshore(rng, verts, normals, n_far, 30e3, 300e3)
        inside = inland(rng, n_in)
        lng = np.concatenate([near[0], far[0], inside[0]])
        lat = np.concatenate([near[1], far[1], inside[1]])
        pts = points_df(spark, lng, lat)
        probes.setdefault("q2", pts)

        def check_q2(rows, lng=lng, lat=lat, tol=tol):
            got = [[] for _ in lng]
            for r in rows:
                got[r["point_id"]].append(
                    (r["region_id"], int(r["deep"]), r["point_distance"]))
            checked = bad = 0
            example = None
            for i in range(len(lng)):
                n_ok, n_bad, ex = oracle.check_q2(rings, lng[i], lat[i], tol,
                                                  got[i])
                checked += n_ok
                bad += n_bad
                example = example or ex
            return checked, bad, example

        out.append(Request(
            kind, kind,
            lambda pts=pts, tol=tol: eng.query_points_with_tolerance(pts, tol),
            lambda df: collect_rows(df, ["point_id", "region_id", "deep",
                                     "point_distance"],
                                ["point_id", "region_id"], "point_distance"),
            check_q2))

    wkts = [w for shape in ("rect", "line", "diamond")
            for w in wkt_batch(rng, shape, Q3_PROBES)]
    probes["q3"] = q3 = spark.createDataFrame(list(enumerate(wkts)),
                                              "probe_id long, wkt string")
    out.append(Request("q3", "q3", lambda: eng.query_geometry(q3),
                       lambda df: collect_rows(df, ["probe_id", "id"],
                                               ["probe_id", "region_id"])))

    # the docs generator is a Python loop, so the table is materialized
    # once here and the timed request scans the in-memory rows
    d = docs.generate_docs(spark, DOCS_PER_REQUEST,
                           seed=int(rng.integers(0, 2**31)))
    doc_rows = d.collect()
    d = spark.createDataFrame(doc_rows, docs.DOCS_SCHEMA)
    probes["docs"] = d

    def check_docs(rows):
        spans = [(doc["doc_id"], i, *map(float, s["text"][4:].split(",")))
                 for doc in doc_rows for i, s in enumerate(doc["spans"])
                 if s["kind"] == "geo"]
        hits, amb = rings.contains(np.array([s[2] for s in spans]),
                                   np.array([s[3] for s in spans]))
        want: dict[str, set] = defaultdict(set)
        skip = set()
        for s, h, a in zip(spans, hits, amb):
            if a:
                skip.add(s[0])
            want[s[0]].update((s[1], rid) for rid in h)
        checked = bad = 0
        example = None
        for r in rows:
            if r["doc_id"] in skip:
                continue
            checked += 1
            got = sorted((g["span_idx"], g["region_id"])
                         for g in (r["regions"] or []))
            if got != sorted(want.get(r["doc_id"], set())):
                bad += 1
                example = example or (f"{r['doc_id']}: engine {got}"
                                      f", truth {sorted(want[r['doc_id']])}")
        if checked != len(doc_rows) - len(skip):
            bad += 1
            example = example or f"{checked} docs back, not {len(doc_rows)}"
        return checked, bad, example

    out.append(Request(
        "docs", "docs", lambda: docs.join_docs_to_regions(eng, d),
        lambda df: collect_rows(df, ["doc_id", "regions"],
                            ["doc_id", "spans", "regions"]), check_docs))
    return out, probes


def request_probe_layers(run: Run, eng: SpatialEngine, probes: dict) -> None:
    """Each layer materialized alone on the requests' own inputs."""
    _, run.layer["store.save_s"] = timed_action(
        run, "store.save", lambda: tile_store.save(
            eng, os.path.join(run.work, "store.copy"), STORE_PARAMS))
    q1_probe_layers(run, eng, probes["q1"])
    pts = probes["q2"]
    (_, base), run.layer["q2.base_s"] = timed_action(
        run, "q2.base", lambda: collect_rows(
            eng.query_points(pts, with_props=False), ["point_id"],
            ["point_id", "region_id"])[:2])
    n_pts = pts.count()
    run.layer["q2.miss_rows"] = n_pts - len({r["point_id"] for r in base})
    (_, rows), _ = timed_action(run, "q2.tolerance", lambda: collect_rows(
        eng.query_points_with_tolerance(pts, 2500.0),
        ["point_id", "point_distance"], ["point_id", "region_id"],
        "point_distance")[:2])
    run.layer["q2.tol_rows"] = sum(r["point_distance"] is not None
                                   for r in rows)
    (env,), _ = timed_action(run, "q3.envelope", lambda: (
        eng.query_geometry_envelope_hits(probes["q3"]).count(),))
    (hits,), _ = timed_action(run, "q3.hits", lambda: (
        eng.query_geometry(probes["q3"], with_props=False).count(),))
    run.layer.update({"q3.envelope_pairs": env, "q3.hit_rows": hits,
                      "q3.yield": hits / env if env else 0.0})
    d = probes["docs"]
    geo = docs.geo_span_points(d)
    _, run.layer["docs.explode_s"] = timed_action(
        run, "docs.explode", lambda: geo.agg(F.count(F.lit(1))).collect())
    _, run.layer["docs.match_s"] = timed_action(
        run, "docs.match", lambda: hash_checksum(
            eng.query_points(geo, id_cols=("doc_id", "span_idx")),
            ["doc_id", "span_idx", "region_id"]))
    doc_ops = [o.latency_s for o in run.ops if o.kind == "docs"]
    run.layer["docs.rollup_s"] = max(0.0, statistics.median(doc_ops)
                                     - run.layer["docs.explode_s"]
                                     - run.layer["docs.match_s"])
