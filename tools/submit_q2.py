"""Q2 nearest-boundary (tolerance) scaling job for `spark-submit
--py-files`.

Same methodology as tools/submit_job.py / submit_knn.py (fresh JVM,
full untimed warm pass, best-of-3 with per-run steal% + membw probe),
measuring `SpatialEngine.query_points_with_tolerance` — the reference's
QueryPointWithTolerance (/root/reference/AreaCityQuery.java:102-163) —
at the reference-density boundary set (fixtures_dense: 3,502 nested
prov/city/district features, ~732k ring points).

Probes: a deterministic lattice over the bbox EXPANDED by 1° on every
side, so the mix contains all three Q2 regimes — interior hits (ride
the Q1 join, distance null), outside-but-within-tolerance points (the
24-gon cover join + per-tile haversine argmin, the Q2-specific kernel),
and far misses (cover join finds no candidate cells).

Checksums are order-independent and asserted bit-equal across
parallelism legs by tools/q2_bench.py:
  rows      — result row count
  hit_hash  — Σ xxhash64(point_id, region_id) as DECIMAL(38,0)
  dist_sum  — Σ round(point_distance·1000) mm as DECIMAL(38,0)
              (each distance is a deterministic fp argmin over the
              same candidate set on any partitioning; the per-deep
              winner is ordered by (distance, region_id) — total)
  n_dist    — tolerance-matched row count

Usage: spark-submit ... tools/submit_q2.py [n_probes] [tolerance_m] [base_res]
"""
from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession, functions as F

from areacity_query_geometry_spark.engine import SpatialEngine
from areacity_query_geometry_spark.hostload import TimedRuns, membw_probe_gbps


def main():
    n_probes = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    tol_m = float(sys.argv[2]) if len(sys.argv) > 2 else 25_000.0
    base_res = int(sys.argv[3]) if len(sys.argv) > 3 else 13
    spark = SparkSession.builder.appName("aqgs-q2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    # The cover→tile SMJ feeding the tolerance kernel has data-dependent
    # per-pair kernel cost (hot boundary cells): at shuffle.partitions=cpus the
    # slowest task ran 1.6× the fastest (measured 10.9-17.2 s spread on
    # 8 tasks), gating the stage. 8 partitions per core + a small AQE
    # advisory keeps tasks ~2-3 s and balanced on BOTH legs; identical
    # configs at N and 4N, so the comparison stays fair.
    spark.conf.set("spark.sql.shuffle.partitions", str(cpus * 8))
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")

    from areacity_query_geometry_spark import fixtures_dense

    geojson_path = fixtures_dense.ensure()  # cached; untimed
    build = TimedRuns()
    eng = build.run(lambda: SpatialEngine.from_geojson(
        spark, geojson_path, base_res=base_res))

    # lattice over [72,136]×[17,55] — 1° beyond the dense set's warped
    # bbox on every side (warp displacement < 0.25°), deterministic
    probes = spark.range(n_probes).selectExpr(
        "id AS point_id",
        "72.0 + CAST(id * 37 % 64000 AS DOUBLE) / 1000.0 AS lng",
        "17.0 + CAST(id * 101 % 38000 AS DOUBLE) / 1000.0 AS lat")

    def checksums() -> dict:
        out = eng.query_points_with_tolerance(probes, tol_m)
        row = out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.expr("sum(CAST(xxhash64(point_id, region_id) "
                   "AS DECIMAL(38,0)))").alias("hit_hash"),
            F.expr("sum(CAST(round(point_distance * 1000) "
                   "AS DECIMAL(38,0)))").alias("dist_sum"),
            F.expr("sum(CASE WHEN point_distance IS NOT NULL "
                   "THEN 1 ELSE 0 END)").alias("n_dist"),
        ).collect()[0]
        return {"rows": int(row["rows"]),
                "hit_hash": int(row["hit_hash"] or 0),
                "dist_sum": int(row["dist_sum"] or 0),
                "n_dist": int(row["n_dist"] or 0)}

    checksums()  # full untimed warm pass (tile pages + JIT + workers)
    membw = membw_probe_gbps()
    timed = TimedRuns()
    sums: dict = {}
    for _ in range(3):
        sums = timed.run(checksums)

    print(json.dumps({
        "cpus": cpus, "n": n_probes, "tolerance_m": tol_m,
        "base_res": base_res, "sec": timed.best,
        "throughput": round(n_probes / timed.best, 1),
        "build_sec": build.best, "membw_gbps": membw,
        **sums, **timed.detail(),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
