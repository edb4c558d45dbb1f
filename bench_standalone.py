#!/usr/bin/env python
"""Standalone-daemons vs local-cluster walls: the deployment-shape
overhead measurement for the r8 standalone rehearsal (VERDICT r7
task 3's artifact).

Same resource envelope on both shapes — 2 executors x 4 cores x 4 GiB
— the only difference being WHERE the cluster manager lives: real
``org.apache.spark.deploy.{master,worker}`` daemons as separate OS
processes reached over ``spark://`` (tools_standalone), versus
``local-cluster[2,4,4096]``'s in-driver master. Per-query walls should
be near parity: the deployment layer sits on the control plane
(executor launch, heartbeats), not in the task hot path. A query
where the standalone wall exceeds ``VIOLATION_RATIO`` x the
local-cluster wall (on queries above the scheduling-noise floor) is a
violation — it would mean the engine accidentally depends on
in-process-master behavior.

Each shape runs in its own subprocess (one SparkContext per process);
entries run min-of-``--runs`` after bench.warmup, results print as ONE
JSON line and land in --out.

Usage:
  python bench_standalone.py [--runs 2] [--out BENCH_STANDALONE_r08.json]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import bench
from datafusion_dist_spark.catalog import DEFAULT_SF_DIR as SF_DIR

# Heavy-ish slice across the engine's plan shapes: scan+agg, shuffle
# join, banded-LSH dedup (python workers + shuffle), clustered
# embedding scorer (applyInPandas), inverted-index text scoring,
# iterated graph joins.
ENTRIES = [
    "tpch_q1",
    "tpch_q5",
    "dedup_minhash_lsh_capped",
    "dedup_semantic_adaptive",
    "text_tfidf_topk",
    "graph_triangle_count",
]

VIOLATION_RATIO = 1.5
MIN_WALL = 2.0  # below this, walls are scheduling noise on both shapes

_CHILD = r"""
import json, os, sys
sys.path.insert(0, os.environ["DDSPARK_REPO"])
import bench
from datafusion_dist_spark import registry
from datafusion_dist_spark.session import build_session

sf_dir = os.environ["DDSPARK_SF_DIR"]
runs = int(os.environ["DDSPARK_RUNS"])
spark = build_session(
    "bench-standalone",
    shuffle_partitions=8,
    extra_conf={"spark.executor.memory": "2g"},
)
specs = registry.all_specs()
bench.warmup(spark, sf_dir)
walls = {}
for name in os.environ["DDSPARK_ENTRIES"].split(","):
    fn = specs[name].spark_fn
    best = min(bench.time_runs(lambda: bench.run_query(fn(spark, sf_dir)), runs))
    walls[name] = round(best, 3)
    print(f"  {name}: {walls[name]}s", file=sys.stderr, flush=True)
print("CHILD_WALLS " + json.dumps(walls))
spark.stop()
"""


def run_shape(master_url: str, runs: int) -> dict[str, float]:
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        SPARK_GRAFT_MASTER=master_url,
        SPARK_GRAFT_DRIVER_MEM="4g",
        DDSPARK_REPO=REPO,
        DDSPARK_SF_DIR=SF_DIR,
        DDSPARK_RUNS=str(runs),
        DDSPARK_ENTRIES=",".join(ENTRIES),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD],
        capture_output=True,
        text=True,
        timeout=1800,
        env=env,
        cwd=REPO,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("CHILD_WALLS "):
            return json.loads(line[len("CHILD_WALLS "):])
    raise RuntimeError(
        f"child produced no walls (master={master_url}):\n"
        f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from tools_standalone import StandaloneCluster

    t0 = time.time()
    with StandaloneCluster(
        "/tmp/ddspark-standalone-bench", workers=2, cores=4, mem="4g"
    ) as c:
        print(f"standalone cluster up at {c.master_url}", file=sys.stderr)
        sa = run_shape(c.master_url, args.runs)
    lc = run_shape("local-cluster[2,4,4096]", args.runs)

    queries, violations = {}, []
    for name in ENTRIES:
        ratio = round(sa[name] / lc[name], 2) if lc[name] else None
        queries[name] = {
            "standalone_sec": sa[name],
            "local_cluster_sec": lc[name],
            "ratio": ratio,
        }
        if (
            ratio is not None
            and ratio > VIOLATION_RATIO
            and max(sa[name], lc[name]) >= MIN_WALL
        ):
            violations.append({"query": name, "ratio": ratio})
    result = {
        "metric": "standalone_vs_local_cluster",
        "sf_dir": SF_DIR,
        "runs_per_query": args.runs,
        "topology": "2 workers x 4 cores x 4g (both shapes)",
        "queries": queries,
        "violation_ratio": VIOLATION_RATIO,
        "min_wall_gate_sec": MIN_WALL,
        "violations": violations,
        "wall_total_sec": round(time.time() - t0, 1),
        **bench.host_record(),
    }
    bench.emit(result, args.out)
    if violations:
        print("standalone parity gate FAILED", file=sys.stderr)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
