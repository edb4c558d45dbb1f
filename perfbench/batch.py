"""Batch workload: registry entries built and pulled as Arrow in one
session, a cold pass then warm passes, each result checked against
its DuckDB oracle.

Each operation is ``spark_fn(spark, sf_dir)`` (plan build, including
the eager driver actions inside operators) followed by ``toArrow()``
(the Spark action plus result transfer). The check runs outside the
timed region and uses the exact-match rules of
``tests/oracle_compare.py``.
"""

from __future__ import annotations

import json
import os
import random
import select
import subprocess
import sys
import time

import duckdb

import bench
from datafusion_dist_spark import catalog, registry
from datafusion_dist_spark.operators.common import session_cache_hits
from datafusion_dist_spark.session import build_session
from perfbench import host, sparkstats, stats
from tests.oracle_compare import assert_frames_match

# Why these entries, and why so few of the registry: see README.md.
# Every one has a DuckDB oracle that runs in well under a second at
# sf0.1; entries without an oracle (agg_approx_distinct) are never
# benchmarked.
WAREHOUSE = [
    # JVM-only: plan build and per-query table resolution dominate; no
    # Python UDF and no session cache is involved.
    "tpch_q5",
    "window_rank_top1",
    "merge_upsert",
    "events_sessionize",
]
LLM_PIPELINE = [
    # LLM-data operators: the Python-UDF boundary, session caches (IVF
    # probe memo, sketch cache) and eager driver actions in plan build.
    "ann_ivf_topk",
    "agg_hll_overlap_matrix",
    "dedup_semantic",
    "multimodal_features",
]
ENTRIES = WAREHOUSE + LLM_PIPELINE

# Set-up is measured this many times per run: the run's own set-up
# and, beside it, SETUP_SAMPLES - 1 set-ups in processes of their own
# (perfbench/setup_once.py); setup_s is the median.
SETUP_SAMPLES = 3
SETUP_TIMEOUT_S = 150.0

ENGINE_FLIGHT_LAYERS = (
    "engine.submit_s",
    "engine.ttfb_s",
    "engine.stream_s",
    "engine.chunks",
    "engine.bytes",
    "engine.running_jobs_s",
    "flight.get_info_s",
    "flight.do_get_ttfb_s",
    "flight.do_get_drain_s",
    "flight.batches",
    "flight.health_s",
    "flight.overhead_s",
)


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table, reading the
    same parquet files as the engine."""
    con = duckdb.connect()
    for name in catalog.TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{catalog.table_path(sf_dir, name)}')"
        )
    return con


class Oracle:
    """Each entry's DuckDB oracle result, computed once per run."""

    def __init__(self, sf_dir: str) -> None:
        self.con = duckdb_views(sf_dir)
        self._cache: dict[str, object] = {}

    def result(self, name: str, sql: str):
        if name not in self._cache:
            self._cache[name] = self.con.execute(sql).fetchdf()
        return self._cache[name]

    def close(self) -> None:
        self.con.close()


class SetupProbe:
    """One set-up in a process of its own (perfbench/setup_once.py),
    started beside the run's own so the three share the host alike."""

    def __init__(self, root: str, sf_dir: str, log_path: str) -> None:
        self._log = open(log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(root, "perfbench", "setup_once.py"), sf_dir],
            cwd=root,
            stdout=subprocess.PIPE,
            stderr=self._log,
            text=True,
            start_new_session=True,
        )

    def result(self) -> dict[str, float]:
        """The ``{"cpu_s", "wall_s"}`` of the probe's set-up, from the
        first line it prints; the probe is then killed."""
        ready, _, _ = select.select([self.proc.stdout], [], [], SETUP_TIMEOUT_S)
        line = self.proc.stdout.readline() if ready else ""
        self.kill()
        if not line:
            raise RuntimeError(f"set-up probe exited with {self.proc.returncode}")
        return json.loads(line)

    def kill(self) -> None:
        host.kill_group(self.proc, timeout=SETUP_TIMEOUT_S)
        self.proc.stdout.close()
        self._log.close()


def set_up(tr, sf_dir: str):
    """The engine's set-up, as ``DistEngine.create`` and the Flight
    server do it: build the session, register the views."""
    with tr.span("session.build"):
        spark = build_session("perfbench-batch")
    with tr.span("catalog.register_views"):
        catalog.register_views(spark, sf_dir)
    return spark


class BatchRun:
    def __init__(self, seed: int, seconds: float, tracer, sf_dir: str, root: str, out_dir: str):
        self.names = ENTRIES
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.tr = tracer
        self.sf_dir = sf_dir
        self.root = root
        self.out_dir = out_dir
        self.log = stats.OpLog()
        self.detail: dict = {}
        self.spark = None
        self.probes: list[SetupProbe] = []

    # -- one operation --------------------------------------------------

    def _op(self, name: str, qid: str, layer: dict | None) -> dict | None:
        """Build and pull one entry; returns its wall and CPU seconds,
        or None when it failed or gave a wrong result."""
        spark, spec = self.spark, self.specs[name]
        hits0 = session_cache_hits()
        try:
            cpu0 = host.tree_cpu_s()
            m0 = time.monotonic()
            with self.tr.span("op", qid) as op:
                mark = sparkstats.Watermark(spark) if layer is not None else None
                with self.tr.span("queries.build", qid) as b:
                    df = spec.spark_fn(spark, self.sf_dir)
                if mark is not None:
                    build_jobs = sparkstats.jobs_since(spark, mark)
                with self.tr.span("spark.action", qid) as a:
                    table = df.toArrow()
            cpu = host.tree_cpu_s() - cpu0
            m1 = time.monotonic()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            self.log.fail(f"{name}: {type(exc).__name__}: {exc}")
            return None
        # Outside the measured region: exact match against the oracle.
        try:
            pdf = stats.arrow_to_pandas(table)
            assert_frames_match(pdf, self.oracle.result(name, spec.oracle), name)
        except AssertionError as exc:
            self.log.fail(f"{name}: wrong result: {exc}")
            return None
        self.log.ok()
        if layer is not None:
            hits = session_cache_hits() - hits0
            layer["build_s"] += b["s"]
            layer["action_s"] += a["s"]
            layer["build_jobs"] += build_jobs
            layer["cache_hits"] += hits
            layer["warm_entries"] += 1 if hits else 0
        return {"s": op["s"], "cpu_s": cpu, "window": (m0, m1)}

    def _pass(self, label: str, layer: dict | None = None) -> dict[str, dict]:
        order = list(self.names)
        if label != "cold":
            # The cold pass keeps one order: whichever entry runs first
            # absorbs the first-touch costs, and a seeded order would
            # move them between entries from run to run.
            self.rng.shuffle(order)
        out = {}
        for name in order:
            r = self._op(name, f"{label}:{name}", layer)
            if r is not None:
                out[name] = r
        return out

    # -- the run --------------------------------------------------------

    def setup(self, probes: int = 0) -> dict:
        """Set up this run's session, with ``probes`` more set-ups
        beside it; returns the CPU and wall seconds of each, from
        process start to ready, and the set-up's time window."""
        t0 = time.monotonic() - host.process_age_s()
        self.probes = [
            SetupProbe(
                self.root, self.sf_dir,
                os.path.join(self.out_dir, f"setup-{os.getpid()}-{k}.log"),
            )
            for k in range(probes)
        ]
        self.spark = set_up(self.tr, self.sf_dir)
        cpu = [host.tree_cpu_s(skip=frozenset(p.proc.pid for p in self.probes))]
        wall = [host.process_age_s()]
        window = (t0, time.monotonic())
        for p in self.probes:
            r = p.result()
            cpu.append(r["cpu_s"])
            wall.append(r["wall_s"])
        self.probes = []
        self.specs = registry.all_specs()
        self.oracle = Oracle(self.sf_dir)
        return {"cpu_s": cpu, "wall_s": wall, "window": window}

    def measure(self, speed) -> dict[str, float]:
        setup = self.setup(SETUP_SAMPLES - 1)
        cold, warm = stats.measured_passes(self._pass, self.seconds)
        metrics, self.detail = stats.pass_metrics(speed, setup, cold, warm)
        self.detail["peak_rss_mb"] = host.peak_rss_mb(os.getpid())
        return metrics

    def measure_layers(self) -> dict[str, float]:
        """Traced run: cold pass, then a traced warm pass read through
        the status stores between two untraced ones (their mean is the
        untraced reference, so warm-up drift does not pass for tracing
        cost), then direct ``load_table`` calls. Only here does
        ``bench.warmup`` run before the cold pass, so that its span can be
        read; untraced runs leave the first-touch costs to the cold pass,
        as a user's first queries pay them."""
        self.setup()
        with self.tr.span("session.warmup"):
            bench.warmup(self.spark, self.sf_dir)
        self._pass("cold")
        self.tr.enabled = False
        untraced = [self._pass("warmA")]
        self.tr.enabled = True
        layer = dict.fromkeys(
            ("build_s", "action_s", "build_jobs", "cache_hits", "warm_entries"), 0.0
        )
        mark = sparkstats.Watermark(self.spark)
        traced = self._pass("warmB", layer)
        d = sparkstats.delta(self.spark, mark)
        self.tr.enabled = False
        untraced.append(self._pass("warmC"))
        self.tr.enabled = True
        load_s = []
        for name in catalog.TESTDATA_TABLES:
            with self.tr.span("catalog.load_table", name) as s:
                catalog.load_table(self.spark, self.sf_dir, name)
            load_s.append(s["s"])
        traced_wall = stats.wall_total(traced)
        cores = host.cores()
        return {
            "session.build_s": self.tr.total("session.build"),
            "session.warmup_s": self.tr.total("session.warmup"),
            "catalog.register_views_s": self.tr.total("catalog.register_views"),
            "catalog.load_table_s": stats.median(load_s),
            "queries.build_s": layer["build_s"],
            "queries.build_share": layer["build_s"] / traced_wall,
            "queries.build_jobs": layer["build_jobs"],
            "operators.cache_hits": layer["cache_hits"],
            "operators.warm_entries": layer["warm_entries"],
            "operators.pyudf_run_s": d["pyudf_run_s"],
            "operators.pyudf_start_s": d["pyudf_start_s"],
            "operators.pyudf_bytes_sent": d["pyudf_bytes_sent"],
            "operators.pyudf_bytes_returned": d["pyudf_bytes_returned"],
            **spark_layer(d, layer["action_s"], cores),
            # No Flight server and no streamed pull in a batch workload.
            **dict.fromkeys(ENGINE_FLIGHT_LAYERS, 0.0),
            "trace.overhead_frac": traced_wall
            / stats.mean([stats.wall_total(p) for p in untraced])
            - 1.0,
        }

    def close(self) -> None:
        for p in self.probes:
            p.kill()
        if getattr(self, "oracle", None) is not None:
            self.oracle.close()
        if self.spark is not None:
            stop_spark(self.spark)


def spark_layer(d: dict, action_s: float, cores: int) -> dict[str, float]:
    return {
        "spark.action_s": action_s,
        "spark.jobs": d["jobs"],
        "spark.stages": d["stages"],
        "spark.tasks": d["tasks"],
        "spark.exec_run_s": d["exec_run_s"],
        "spark.exec_cpu_s": d["exec_cpu_s"],
        "spark.gc_s": d["gc_s"],
        "spark.slot_util": d["exec_run_s"] / (action_s * cores) if action_s else 0.0,
        "spark.shuffle_read_bytes": d["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": d["shuffle_write_bytes"],
        "spark.shuffle_fetch_wait_s": d["shuffle_fetch_wait_s"],
        "spark.scan_s": d["scan_s"],
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (the gateway JVM
    exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort below
            proc.kill()
            proc.wait(timeout=30)
