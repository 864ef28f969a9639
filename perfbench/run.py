"""Engine benchmark: one command per workload run, checked outputs.

    python3 perfbench/run.py --workload points_indexed --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root. The engine under test is the checkout
this file sits in: its root is put first on the driver's and the
Python workers' import path, and both are asserted to import the
package from there. The JVM is sized from the host (`local[N]` over
the usable cores, heap from MemAvailable) and everything the run writes
stays under `.perfbench/` in the checkout.

`--trace 0` measures the end-to-end metrics; `--trace 1` repeats the
workload with spans around every layer call and reports the per-layer
metrics, writing the spans to `.perfbench/traces/`. Metric names and
units come from BENCHMARK.json. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "areacity_query_geometry_spark"


def within(path: str, root: str) -> bool:
    return os.path.realpath(path).startswith(os.path.realpath(root) + os.sep)


def start_session(work: str, n_cores: int, mem_gib: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{n_cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem_gib}g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def code_digest() -> str:
    """Digest of the benchmark's and the package's Python sources. What
    runs keep for later runs in the checkout (the checksum memo and the
    tile store) lives under a directory named by it, so a change to
    either code starts afresh."""
    h = hashlib.sha1()
    for top in (HERE, os.path.join(ROOT, PACKAGE)):
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    h.update(name.encode())
                    with open(os.path.join(d, name), "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:12]


def worker_package_file(_):
    import importlib

    return importlib.import_module(PACKAGE).__file__


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from a "
              "full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
    keep = os.path.join(out_dir, f"code-{code_digest()}")
    os.makedirs(keep, exist_ok=True)
    # the driver, the JVM and the Python workers all import the checkout
    # under test and write temporary files inside it
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

    import areacity_query_geometry_spark as pkg
    from areacity_query_geometry_spark import hostload

    if not within(pkg.__file__, ROOT):
        print(f"perfbench: driver imported {pkg.__file__}, not the checkout "
              f"at {ROOT}", file=sys.stderr)
        return 2
    hostload.apply_malloc_tuning()  # glibc reads it at JVM start

    import host
    import workloads

    n_cores = host.cores()
    avail = host.mem_available_gib()
    mem_gib = host.driver_memory_gib(avail)
    t0 = time.perf_counter()
    spark = start_session(work, n_cores, mem_gib)
    try:
        session_s = time.perf_counter() - t0
        worker_file = spark.sparkContext.parallelize([0], 1).map(
            worker_package_file).collect()[0]
        if not within(worker_file, ROOT):
            print(f"perfbench: Python worker imported {worker_file}, not "
                  f"the checkout at {ROOT}", file=sys.stderr)
            return 2
        run = workloads.Run(spark, work, keep, args.workload, args.seed,
                            args.seconds, bool(args.trace))
        t_wall = time.perf_counter()
        getattr(workloads, args.workload)(run)
        wall_s = time.perf_counter() - t_wall
        run.check_memo()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = host.peak_rss_mb(jvm_pid)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    run.meta.update({
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "host": {"cores": n_cores, "mem_available_gib": round(avail, 2),
                 "driver_memory_gib": mem_gib},
        "session_s": round(session_s, 3),
        "peak_rss_by_process_mb": [round(x, 1) for x in rss],
        "setup_runs_s": [round(s, 3) for s in run.setup_s],
        "problems": run.problems})
    if args.trace:
        workloads.trace_layers(run, wall_s)
        path = os.path.join(out_dir, "traces",
                            f"{args.workload}-seed{args.seed}.json")
        run.tracer.write(path, run.meta)
        run.meta["trace_file"] = os.path.relpath(path, ROOT)
        wanted, values = spec["per_layer"], dict(run.layer)
        print_wall_table(run, wall_s)
    else:
        wanted = spec["end_to_end"]
        values = {**run.end_to_end(), "peak_rss_mb": sum(rss)}
    metrics = {}
    for m in wanted:
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)),
                              "unit": m["unit"]}
        print(f"{m['name']:<28} {metrics[m['name']]['value']:>16.6g} "
              f"{m['unit']}")
    print("meta " + json.dumps(run.meta, default=str))
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


def print_wall_table(run, wall_s: float) -> None:
    """Self time by span name; with unattributed time it sums to wall."""
    rows = sorted(((sum(v), len(v), k)
                   for k, v in run.tracer.self_times().items()), reverse=True)
    print(f"{'span':<20} {'n':>5} {'self_s':>9} {'share':>7}")
    for total, n, name in rows:
        print(f"{name:<20} {n:>5} {total:>9.3f} {total / wall_s:>7.1%}")
    un = run.layer["unattributed_s"]
    print(f"{'(unattributed)':<20} {'':>5} {un:>9.3f} {un / wall_s:>7.1%}")
    print(f"{'wall':<20} {'':>5} {wall_s:>9.3f}")


if __name__ == "__main__":
    sys.exit(main())
