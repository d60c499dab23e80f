"""Benchmark entry point for the digital-twins engine.

    python3 perfbench/run.py --workload twin_ops --seed 1 --seconds 10 --trace 0

Runs one workload (``twin_ops`` or ``graph_analytics``, see
``perfbench/workloads.py``) from the root of a source checkout,
through the package's public functions only, on ``local[nproc]``.  The
first run in a checkout builds the fixture and its persisted layouts
under ``perfbench/.work/``; every run reads and writes only there.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(see ``BENCHMARK.json``).  The line before it is the full run record.
The exit code is 1 when a correctness check failed, and 2 when the
checkout holds no engine to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = os.path.join(ROOT, "pg_age_digitaltwins_spark", "__init__.py")
SETUP_REPEATS = 5


def _guard_environment() -> None:
    """Settings the engine needs on a small single box, set before the
    JVM starts so Spark and its Python workers inherit them."""
    # Python workers of the CDC stream import the package by name.
    path = os.environ.get("PYTHONPATH", "")
    if ROOT not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, path) if p)
    # The engine's 16g default heap is larger than a 15 GiB box.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # Every cache, spill and temp file stays inside the checkout.
    os.environ["SPARK_GRAFT_CACHE"] = os.path.join(WORK, "graphcache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # JVMs write no /tmp/hsperfdata files.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    for d in ("graphcache", "spark-local", "tmp", "runs", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)


def _start_spark():
    from pg_age_digitaltwins_spark import get_spark

    # Launch-time settings of the benchmark itself (no console progress
    # bars, job history long enough for the counters, no files outside
    # the checkout); the engine's own settings come from get_spark.
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()
    ) + " pyspark-shell"
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def calibration_probe(spark) -> dict:
    """Fixed work timed in every run, so box contention is readable next
    to the numbers: a single-core Python loop and a small fixed Spark
    shuffle."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i
    spin = time.perf_counter() - t0
    t0 = time.perf_counter()
    (
        spark.range(500_000).selectExpr("id % 97 AS k", "id AS v")
        .groupBy("k").sum("v").write.format("noop").mode("overwrite").save()
    )
    return {"spin_s": spin, "shuffle_s": time.perf_counter() - t0}


def peak_rss_mb(pid="self") -> float:
    """Peak resident memory of a process (this client by default)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def measure_setup(spark, fixture) -> tuple[float, list[float]]:
    """Median wall of opening the persisted graph into a client that has
    answered its first query (load layout, client, model registry), over
    ``SETUP_REPEATS`` set-ups."""
    from pg_age_digitaltwins_spark import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.tpch_loader import load_graph

    walls = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        client = DigitalTwinsSparkClient(load_graph(spark, fixture.graph_dir))
        client.registry
        rows = client.query("SELECT COUNT() FROM DIGITALTWINS").rows
        walls.append(time.perf_counter() - t0)
        if rows != [{"count": fixture.n_twins}]:
            raise RuntimeError(f"setup: unexpected twin count {rows}")
    return statistics.median(walls), walls


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.exists(PACKAGE):
        print(f"perfbench: no engine package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    from fixture import Fixture
    from pyspark import SparkContext

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    _guard_environment()
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    t_start = time.perf_counter()
    spark = _start_spark()
    try:
        fixture = Fixture(spark, os.path.join(WORK, "fixture"))
        phases = {"start_s": time.perf_counter() - t_start}
        phases["prepare_s"] = fixture.prepare()
        run = workloads.Run(
            spark, fixture, run_dir, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace),
        )
        t0 = time.perf_counter()
        workloads.WORKLOADS[args.workload](run)
        phases["workload_s"] = time.perf_counter() - t0
        # Set-up time and the calibration probe are measured after the
        # workload, on a warm JVM, so neither carries its cold start.
        t0 = time.perf_counter()
        setup_s, setup_walls = measure_setup(spark, fixture)
        calibration = calibration_probe(spark)
        phases["setup_and_calibration_s"] = time.perf_counter() - t0
        # The client process's peak; the JVM's heap grows with its
        # collector's timing, so its peak is recorded, not gated.
        rss = peak_rss_mb()
        jvm = getattr(SparkContext._gateway, "proc", None)
        jvm_rss = peak_rss_mb(jvm.pid) if jvm else 0.0
        if args.trace:
            run.tracer.dump(os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl"
            ))
    finally:
        t0 = time.perf_counter()
        _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    phases["stop_s"] = time.perf_counter() - t0

    record = run.record()
    record.update(
        workload=args.workload, seed=args.seed, phases=phases,
        jvm_peak_rss_mb=jvm_rss,
        setup_walls_s=setup_walls, calibration=calibration,
    )
    e2e = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "latency_geomean_ms": {"value": record["latency_geomean_ms"], "unit": "ms"},
        "ops_per_s": {"value": record["ops_per_s"], "unit": "1/s"},
        "driver_peak_rss_mb": {"value": rss, "unit": "MB"},
    }
    record["end_to_end"] = e2e
    metrics = workloads.per_layer_metrics(run, calibration) if args.trace else e2e
    correct = not run.check_failures
    print("record " + json.dumps(record, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
