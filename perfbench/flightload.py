"""Flight workload: the engine as deployed, a ``python -m
datafusion_dist_spark --serve`` subprocess, driven over Arrow Flight
from this process.

Three servers start together; the first serves the run, the other two
only give set-up samples and are killed once they answer ``health``. One
client then sends every shape once in a fixed order (the cold pass),
then in seeded orders, pass after pass, until ``--seconds`` have passed
(the warm passes): the small-result serving shapes, a prepared statement with a
seeded bound parameter, and bulk exports (MB of Arrow, including the
opt-in per-partition tickets). Each query's cost is the CPU seconds
the server's processes spent from ``get_flight_info`` to the last
batch.

Every query result is compared, outside its measured region, with
DuckDB running the same SQL over the same parquet files.
"""

from __future__ import annotations

import json
import os
import random
import socket
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.flight as flight

from datafusion_dist_spark import catalog, flightsql
from datafusion_dist_spark.engine import DistEngine
from datafusion_dist_spark.session import build_session
from perfbench import batch, host, sparkstats, stats

LINEITEM_6 = (
    "SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice, "
    "l_shipdate FROM lineitem"
)
PREPARED_SQL = (
    "SELECT c_mktsegment, count(*) AS n, "
    "CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents "
    "FROM customer WHERE c_nationkey = ? GROUP BY c_mktsegment"
)
# name -> SQL. The first three are the reference's concurrency shapes.
SERVING = {
    "count_lineitem": "SELECT count(*) AS n FROM lineitem",
    "theta_join": (
        "SELECT s.s_suppkey, count(*) AS n FROM supplier s JOIN customer c "
        "ON s.s_acctbal > c.c_acctbal GROUP BY s.s_suppkey"
    ),
    "window_top1": (
        "SELECT * FROM (SELECT c_nationkey, c_custkey, rank() OVER "
        "(PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rk "
        "FROM customer) WHERE rk = 1"
    ),
    "q1_agg": (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "CAST(sum(l_quantity) AS BIGINT) AS sum_qty, "
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
        "AS sum_price_cents FROM lineitem "
        "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus"
    ),
    "prepared_nation": PREPARED_SQL,
}
EXPORT = {
    "export_lineitem": LINEITEM_6,
    "export_orders": "SELECT * FROM orders",
    "export_embeddings": "SELECT * FROM embeddings",
    "export_lineitem_partitioned": LINEITEM_6,
}
PARTITIONED = {"export_lineitem_partitioned"}
SHAPES = {**SERVING, **EXPORT}
N_NATIONS = 25
HEALTH_TRACED = 20
READY_TIMEOUT_S = 150.0


def free_port() -> int:
    """A free port below the kernel's ephemeral range, so no socket the
    JVMs or Python workers open (py4j, accumulator and block-manager
    ports are ephemeral) can take it while the server starts, and the
    readiness poll never reaches someone else's listener."""
    with open("/proc/sys/net/ipv4/ip_local_port_range") as fh:
        low = int(fh.read().split()[0])
    rng = random.Random()
    for _ in range(1000):
        port = rng.randrange(max(1024, low - 12000), low)
        with socket.socket() as s:
            try:
                s.bind(("127.0.0.1", port))
            except OSError:
                continue
            if port not in _taken:
                _taken.add(port)
                return port
    raise RuntimeError("no free port below the ephemeral range")


_taken: set[int] = set()


class Server:
    """The server subprocess and everything it launched."""

    def __init__(self, root: str, sf_dir: str, log_path: str) -> None:
        self.port = free_port()
        self.location = f"grpc://127.0.0.1:{self.port}"
        self._log = open(log_path, "w")
        env = dict(os.environ, PYTHONPATH=root)
        self.proc = subprocess.Popen(
            [
                sys.executable,
                "-m",
                "datafusion_dist_spark",
                "--serve",
                "--port",
                str(self.port),
                "--sf-dir",
                sf_dir,
            ],
            cwd=root,
            env=env,
            stdout=self._log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )

    def answers_health(self) -> bool:
        if self.proc.poll() is not None:
            raise RuntimeError(f"server exited with {self.proc.returncode}")
        client = flight.connect(self.location)
        try:
            list(client.do_action(
                flight.Action("health", b""), flight.FlightCallOptions(timeout=10)
            ))
            return True
        except flight.FlightError:
            return False
        finally:
            client.close()

    def cpu_s(self) -> float:
        return host.tree_cpu_s(self.proc.pid)

    def peak_rss_mb(self) -> float:
        return host.peak_rss_mb(self.proc.pid)

    def stop(self) -> None:
        """Kill the server and everything it launched, and wait for
        them; nothing is measured after this, so no clean shutdown."""
        host.kill_group(self.proc)
        self._log.close()


def wait_ready(servers: list[Server]) -> list[tuple[float, float]]:
    """Poll every server until each answers ``health``; returns each
    one's (CPU, wall) seconds from spawn to its first answer."""
    ready: dict[int, tuple[float, float]] = {}
    deadline = time.monotonic() + READY_TIMEOUT_S
    while len(ready) < len(servers):
        if time.monotonic() > deadline:
            raise RuntimeError("server did not answer health in time")
        for k, s in enumerate(servers):
            if k not in ready and s.answers_health():
                ready[k] = (s.cpu_s(), host.process_age_s(s.proc.pid))
        time.sleep(0.05)
    return [ready[k] for k in range(len(servers))]


class Oracle:
    """Digest of DuckDB's answer to each shape (and each bound value of
    the prepared statement)."""

    def __init__(self, sf_dir: str) -> None:
        self.con = batch.duckdb_views(sf_dir)
        self._cache: dict = {}

    def digest(self, shape: str, param: int | None) -> tuple:
        key = (SHAPES[shape], param)
        if key not in self._cache:
            args = [param] if param is not None else []
            table = self.con.execute(SHAPES[shape], args).arrow()
            self._cache[key] = stats.frame_digest(stats.arrow_to_pandas(table))
        return self._cache[key]

    def close(self) -> None:
        self.con.close()


class Client:
    """One Flight connection; measures each query from
    ``get_flight_info`` to the last batch, in wall seconds and in the
    server's CPU seconds."""

    def __init__(self, server: Server, tracer, rng: random.Random) -> None:
        self.server = server
        self.client = flight.connect(server.location)
        self.tr = tracer
        self.rng = rng
        res = list(
            self.client.do_action(
                flight.Action(
                    "CreatePreparedStatement",
                    flightsql.encode_create_prepared_request(PREPARED_SQL),
                )
            )
        )
        handle, _ = flightsql.parse_create_prepared_result(res[0].body.to_pybytes())
        self.prepared = flight.FlightDescriptor.for_command(
            flightsql.encode_prepared_query(handle)
        )

    def _descriptor(self, shape: str, param: int | None):
        if shape == "prepared_nation":
            params = pa.table({"param0": pa.array([param], pa.int64())})
            writer, _ = self.client.do_put(self.prepared, params.schema)
            writer.write_table(params)
            writer.close()
            return self.prepared
        cmd = SHAPES[shape]
        if shape in PARTITIONED:
            cmd = json.dumps({"query": cmd, "partitioned": True})
        return flight.FlightDescriptor.for_command(cmd.encode())

    def query(self, shape: str, qid: str) -> dict:
        """Run one shape; returns latency parts, batch and byte counts,
        the result table and the bound parameter."""
        param = self.rng.randrange(N_NATIONS) if shape == "prepared_nation" else None
        batches: list = []
        ttfb = None
        cpu0 = self.server.cpu_s()
        m0 = time.monotonic()
        with self.tr.span("op", qid) as op:
            with self.tr.span("flight.get_info", qid) as gi:
                info = self.client.get_flight_info(self._descriptor(shape, param))
            schema = info.schema
            with self.tr.span("flight.do_get", qid):
                t0 = time.perf_counter()
                for ep in info.endpoints:
                    reader = self.client.do_get(ep.ticket)
                    schema = reader.schema
                    for chunk in reader:
                        if ttfb is None:
                            ttfb = time.perf_counter() - t0
                        batches.append(chunk.data)
                drain = time.perf_counter() - t0
        cpu = self.server.cpu_s() - cpu0
        window = (m0, time.monotonic())
        ttfb = drain if ttfb is None else ttfb
        return {
            "s": op["s"],
            "cpu_s": cpu,
            "window": window,
            "get_info_s": gi["s"],
            "ttfb_s": ttfb,
            "drain_s": drain - ttfb,
            "batches": len(batches),
            "bytes": sum(b.nbytes for b in batches),
            "table": pa.Table.from_batches(batches, schema=schema),
            "param": param,
        }

    def health(self) -> bool:
        res = list(self.client.do_action(flight.Action("health", b"")))
        return res[0].body.to_pybytes() == b"ok"

    def close(self) -> None:
        self.client.close()


class FlightRun:
    def __init__(self, seed: int, seconds: float, tracer, sf_dir: str, root: str, out_dir: str):
        self.seed = seed
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.tr = tracer
        self.sf_dir = sf_dir
        self.root = root
        self.out_dir = out_dir
        self.log = stats.OpLog()
        self.detail: dict = {}
        self.server: Server | None = None
        self.extra: list[Server] = []
        self.oracle = Oracle(sf_dir)

    def _client(self, k: int) -> Client:
        return Client(self.server, self.tr, random.Random(self.seed * 1000 + k))

    def _checked(self, client: Client, shape: str, qid: str) -> dict | None:
        try:
            r = client.query(shape, qid)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            self.log.fail(f"{shape}: {type(exc).__name__}: {exc}")
            return None
        got = stats.frame_digest(stats.arrow_to_pandas(r.pop("table")))
        if got != self.oracle.digest(shape, r["param"]):
            self.log.fail(f"{shape} (param {r['param']}): result differs from DuckDB")
            return None
        self.log.ok()
        return r

    def _sequential(self, client: Client, label: str) -> dict[str, dict]:
        order = list(SHAPES)
        if label != "cold":  # fixed cold order: see batch.BatchRun._pass
            self.rng.shuffle(order)
        out = {}
        for shape in order:
            r = self._checked(client, shape, f"{label}:{shape}")
            if r is not None:
                out[shape] = r
        return out

    def _start(self, extra: int = 0) -> dict:
        """Start the run's server with ``extra`` more beside it; once
        all answer ``health``, stop the extra ones. Returns the CPU and
        wall seconds each took from spawn to ready, and the set-up's
        time window."""
        t0 = time.monotonic()
        servers = [
            Server(
                self.root, self.sf_dir,
                os.path.join(self.out_dir, f"server-{os.getpid()}-{k}.log"),
            )
            for k in range(1 + extra)
        ]
        self.server, self.extra = servers[0], servers[1:]
        ready = wait_ready(servers)
        window = (t0, time.monotonic())
        for s in self.extra:
            s.stop()
        self.extra = []
        return {
            "cpu_s": [c for c, _ in ready],
            "wall_s": [w for _, w in ready],
            "window": window,
        }

    def measure(self, speed) -> dict[str, float]:
        setup = self._start(batch.SETUP_SAMPLES - 1)
        c = self._client(9)
        cold, warm = stats.measured_passes(
            lambda label: self._sequential(c, label), self.seconds
        )
        c.close()
        metrics, self.detail = stats.pass_metrics(speed, setup, cold, warm)
        exports = [r for p in warm for shape, r in p.items() if shape in EXPORT]
        # Uncompressed Arrow bytes received per second of pull time.
        self.detail["export_MBps"] = (
            sum(r["bytes"] for r in exports) / 1e6 / sum(r["s"] for r in exports)
        )
        self.detail["peak_rss_mb"] = self.server.peak_rss_mb()
        return metrics

    def measure_layers(self) -> dict[str, float]:
        """Traced run: after a cold pass, a traced sequential pass
        between two untraced ones (as in the batch traced run) and a
        few health calls, then the same SQL pulled in-process through
        DistEngine after the server has stopped. Sequential passes keep
        the Flight numbers free of queueing, so they subtract cleanly
        from the engine's."""
        self._start()
        c = self._client(9)
        self.tr.enabled = False
        self._sequential(c, "cold")
        untraced = [self._sequential(c, "seqA")]
        self.tr.enabled = True
        traced = self._sequential(c, "seqB")
        self.tr.enabled = False
        untraced.append(self._sequential(c, "seqC"))
        self.tr.enabled = True
        for _ in range(HEALTH_TRACED):
            with self.tr.span("flight.health"):
                ok = c.health()
            if ok:
                self.log.ok()
            else:
                self.log.fail("health answered not-ok")
        c.close()
        self.server.stop()
        self.server = None
        eng = engine_probe(self.tr, self.sf_dir, self.rng)
        engine_total = eng.pop("_engine_total_s")
        client_total = sum(r["s"] for r in traced.values())

        def per_pass(key: str) -> float:
            return sum(r[key] for r in traced.values())

        return {
            **eng,
            "flight.get_info_s": per_pass("get_info_s"),
            "flight.do_get_ttfb_s": per_pass("ttfb_s"),
            "flight.do_get_drain_s": per_pass("drain_s"),
            "flight.batches": per_pass("batches"),
            "flight.health_s": stats.median(self.tr.durations("flight.health")),
            "flight.overhead_s": client_total - engine_total,
            "trace.overhead_frac": client_total
            / stats.mean([sum(r["s"] for r in p.values()) for p in untraced])
            - 1.0,
        }

    def close(self) -> None:
        for s in [self.server, *self.extra]:
            if s is not None:
                s.stop()
        self.oracle.close()


def _engine_pass(eng, tr, rng: random.Random, label: str) -> dict[str, float]:
    """Pull every shape once through ``eng``: submit, first batch,
    drain. The partitioned shape takes the per-partition path
    (``materialize_partitions`` + ``stream_partition``)."""
    acc = dict.fromkeys(("submit_s", "ttfb_s", "stream_s", "chunks", "bytes"), 0.0)
    order = list(SHAPES)
    rng.shuffle(order)
    for shape in order:
        args = [rng.randrange(N_NATIONS)] if shape == "prepared_nation" else None
        with tr.span("engine.submit", f"{label}:{shape}") as s:
            handle = eng.submit(SHAPES[shape], args=args)
        acc["submit_s"] += s["s"]
        t0 = time.perf_counter()
        first = None
        if shape in PARTITIONED:
            n = handle.materialize_partitions()
            gens = (handle.stream_partition(p) for p in range(n))
        else:
            gens = iter([handle.stream_arrow()])
        for gen in gens:
            for b in gen:
                if first is None:
                    first = time.perf_counter() - t0
                acc["chunks"] += 1
                acc["bytes"] += b.nbytes
        t1 = time.perf_counter()
        first = t1 - t0 if first is None else first
        acc["ttfb_s"] += first
        acc["stream_s"] += t1 - t0 - first
    return acc


def engine_probe(tr, sf_dir: str, rng: random.Random) -> dict[str, float]:
    """The Flight shapes pulled in-process through DistEngine, plus the
    executor numbers of the measured pass from the status stores."""
    with tr.span("session.build"):
        spark = build_session("perfbench-engine")
    try:
        with tr.span("catalog.register_views"):
            catalog.register_views(spark, sf_dir)
        eng = DistEngine(spark)
        load_s = []
        for name in catalog.TESTDATA_TABLES:
            with tr.span("catalog.load_table", name) as s:
                catalog.load_table(spark, sf_dir, name)
            load_s.append(s["s"])
        # Two passes pay first-touch costs (code generation, Python
        # workers) and JIT warm-up; the third is measured, matching the
        # two passes the server served before its traced one.
        _engine_pass(eng, tr, rng, "engine-cold")
        _engine_pass(eng, tr, rng, "engine-warm")
        mark = sparkstats.Watermark(spark)
        acc = _engine_pass(eng, tr, rng, "engine")
        with tr.span("engine.running_jobs") as rj:
            eng.register_running_jobs_view()
            spark.sql("SELECT * FROM running_jobs").collect()
        d = sparkstats.delta(spark, mark)
        action_s = acc["ttfb_s"] + acc["stream_s"]
        out = {
            "session.build_s": tr.total("session.build"),
            "session.warmup_s": 0.0,
            "catalog.register_views_s": tr.total("catalog.register_views"),
            "catalog.load_table_s": stats.median(load_s),
            "queries.build_s": 0.0,
            "queries.build_share": 0.0,
            "queries.build_jobs": 0.0,
            "operators.cache_hits": 0.0,
            "operators.warm_entries": 0.0,
            "operators.pyudf_run_s": d["pyudf_run_s"],
            "operators.pyudf_start_s": d["pyudf_start_s"],
            "operators.pyudf_bytes_sent": d["pyudf_bytes_sent"],
            "operators.pyudf_bytes_returned": d["pyudf_bytes_returned"],
            **batch.spark_layer(d, action_s, host.cores()),
            "engine.submit_s": acc["submit_s"],
            "engine.ttfb_s": acc["ttfb_s"],
            "engine.stream_s": acc["stream_s"],
            "engine.chunks": acc["chunks"],
            "engine.bytes": acc["bytes"],
            "engine.running_jobs_s": rj["s"],
            "_engine_total_s": acc["submit_s"] + action_s,
        }
        return out
    finally:
        batch.stop_spark(spark)
