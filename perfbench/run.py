"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints the full run record (host
facts included) as one JSON line, then, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}`` with every
end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``). Files a run leaves (record, spans, server log,
scratch space for Spark) go under ``.perfbench/`` in the checkout.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("batch", "flight")

# Every end-to-end time is CPU seconds of the system under test: see
# "Why CPU seconds" in README.md.
END_TO_END = {
    "setup_s": "s",
    "cold_cpu_s": "s",
    "warm_cpu_s": "s",
    "warm_geomean_cpu_s": "s",
}

PER_LAYER = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "catalog.register_views_s": "s",
    "catalog.load_table_s": "s",
    "queries.build_s": "s",
    "queries.build_share": "ratio",
    "queries.build_jobs": "count",
    "operators.cache_hits": "count",
    "operators.warm_entries": "count",
    "operators.pyudf_run_s": "s",
    "operators.pyudf_start_s": "s",
    "operators.pyudf_bytes_sent": "bytes",
    "operators.pyudf_bytes_returned": "bytes",
    "spark.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.slot_util": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.scan_s": "s",
    "engine.submit_s": "s",
    "engine.ttfb_s": "s",
    "engine.stream_s": "s",
    "engine.chunks": "count",
    "engine.bytes": "bytes",
    "engine.running_jobs_s": "s",
    "flight.get_info_s": "s",
    "flight.do_get_ttfb_s": "s",
    "flight.do_get_drain_s": "s",
    "flight.batches": "count",
    "flight.health_s": "s",
    "flight.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}


def prepare_env() -> str:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and size the engine to this host. Returns this run's
    scratch directory, which the run deletes when it ends."""
    tmp = os.path.join(OUT, "tmp", str(os.getpid()))
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")
    ).strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # The engine's default driver heap (16g) assumes a dedicated host.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return tmp


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    tmp = prepare_env()
    sys.path.insert(0, ROOT)
    from perfbench.speed import SpeedProbe

    # Sampled from the start, so the set-up's window is covered too.
    speed = None if args.trace else SpeedProbe()
    try:
        return _run(args, speed)
    finally:
        if speed is not None:
            speed.stop()
        # Every process the run started has stopped by now.
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args: argparse.Namespace, speed) -> int:
    import bench
    from datafusion_dist_spark.catalog import DEFAULT_SF_DIR
    from perfbench import host
    from perfbench.trace import Tracer

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    load_before = os.getloadavg()
    tracer = Tracer(enabled=bool(args.trace))
    if args.workload == "flight":
        from perfbench.flightload import FlightRun

        run = FlightRun(args.seed, args.seconds, tracer, sf_dir, ROOT, OUT)
    else:
        from perfbench.batch import BatchRun

        run = BatchRun(args.seed, args.seconds, tracer, sf_dir, ROOT, OUT)
    try:
        metrics = run.measure_layers() if args.trace else run.measure(speed)
    finally:
        run.close()
    wanted = PER_LAYER if args.trace else END_TO_END
    if set(metrics) != set(wanted):
        raise RuntimeError(f"metric set mismatch: {sorted(set(metrics) ^ set(wanted))}")

    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf_dir": sf_dir,
        "metrics": metrics,
        "attempted": run.log.attempted,
        "failed": run.log.failed,
        "fail_frac": run.log.fail_frac,
        "errors": run.log.errors,
        "detail": run.detail,
        "cores": host.cores(),
        "engine_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "loadavg_before": [round(v, 2) for v in load_before],
        "loadavg_after": [round(v, 2) for v in os.getloadavg()],
        "canary": bench.host_canary(),
        "data_hashes": bench.data_hashes(sf_dir),
    }
    if speed is not None:
        record["speed_samples"] = speed.samples()
    os.makedirs(os.path.join(OUT, "runs"), exist_ok=True)
    with open(os.path.join(OUT, "runs", f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        tracer.dump(os.path.join(OUT, "runs", f"{tag}.spans.json"))
    print(json.dumps(record))
    result = {
        "correct": run.log.failed == 0,
        "attempted": run.log.attempted,
        "failed": run.log.failed,
        "metrics": {
            k: {"value": float(metrics[k]), "unit": wanted[k]} for k in wanted
        },
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
