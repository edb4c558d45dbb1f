"""Unit tests for the benchmark's own helpers (no Spark needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from perfbench import compare, host, run, sparkstats, speed, stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- percentile with a supported tail ------------------------------------


def test_samples_needed_leaves_ten_beyond():
    assert stats.samples_needed(50) == 20
    assert stats.samples_needed(90) == 100
    assert stats.samples_needed(95) == 200
    assert stats.samples_needed(99) == 1000


def test_percentile_refuses_thin_tail():
    with pytest.raises(ValueError, match="needs >= 100"):
        stats.percentile(list(range(99)), 90)


def test_percentile_value_once_supported():
    values = [float(v) for v in range(1, 101)]
    assert stats.percentile(values, 90) == pytest.approx(np.percentile(values, 90))
    assert stats.percentile(values[::-1], 90) == stats.percentile(values, 90)


@pytest.mark.parametrize("q", [0, 100, -5, 120])
def test_percentile_rejects_out_of_range_q(q):
    with pytest.raises(ValueError):
        stats.samples_needed(q)


# -- geomean --------------------------------------------------------------


def test_geomean_of_positive_values():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([3.0]) == pytest.approx(3.0)


@pytest.mark.parametrize(
    "values", [[], [0.0], [1.0, 0.0], [-1.0, 2.0], [float("nan")], [float("inf")]]
)
def test_geomean_refuses_empty_zero_and_nonfinite(values):
    with pytest.raises(ValueError):
        stats.geomean(values)


def test_median_and_mean_refuse_empty():
    with pytest.raises(ValueError):
        stats.median([])
    with pytest.raises(ValueError):
        stats.mean([])


# -- failure counting -----------------------------------------------------


def test_oplog_counts_errors_and_wrong_results_as_failed():
    log = stats.OpLog()
    for _ in range(7):
        log.ok()
    log.fail("q1: wrong result")
    log.fail("q2: RuntimeError")
    assert (log.attempted, log.failed) == (9, 2)
    assert log.fail_frac == pytest.approx(2 / 9)
    assert log.errors == ["q1: wrong result", "q2: RuntimeError"]


def test_oplog_nothing_attempted_is_total_failure():
    assert stats.OpLog().fail_frac == 1.0


def test_oplog_keeps_a_bounded_error_sample():
    log = stats.OpLog()
    for i in range(50):
        log.fail(f"e{i}" * 1000)
    assert log.failed == 50
    assert len(log.errors) == 20
    assert all(len(e) <= 500 for e in log.errors)


# -- result digest normalization -------------------------------------------


def _frame():
    return pd.DataFrame(
        {
            "k": np.array([1, 2, 2], dtype=np.int64),
            "v": [0.5, -0.0, 1.25],
            "s": ["a", "b", None],
        }
    )


def test_digest_ignores_row_and_column_order():
    df = _frame()
    shuffled = df.iloc[[2, 0, 1]][["s", "v", "k"]]
    assert stats.frame_digest(df) == stats.frame_digest(shuffled)


def test_digest_unifies_integer_widths_and_signed_zero():
    a = _frame()
    b = _frame()
    b["k"] = b["k"].astype(np.int32)
    b["v"] = [0.5, 0.0, 1.25]
    assert stats.frame_digest(a) == stats.frame_digest(b)


def test_digest_is_exact_on_floats():
    a = _frame()
    b = _frame()
    b.loc[0, "v"] = 0.5 + 1e-12
    assert stats.frame_digest(a) != stats.frame_digest(b)


def test_digest_counts_duplicate_rows():
    a = _frame()
    b = pd.concat([a, a.iloc[[0]]], ignore_index=True)
    c = pd.concat([a.iloc[[1, 2]], a.iloc[[1]]], ignore_index=True)
    assert stats.frame_digest(a) != stats.frame_digest(b)
    assert stats.frame_digest(a) != stats.frame_digest(c)


def test_digest_of_nested_and_timestamp_columns():
    t = pa.table(
        {
            "vec": pa.array([[1.0, 2.5], [3.0]], pa.list_(pa.float32())),
            "ts": pa.array(
                [datetime.datetime(2024, 1, 1, 12), datetime.datetime(2024, 1, 2)],
                pa.timestamp("us", tz="UTC"),
            ),
        }
    )
    naive = pa.table(
        {
            "vec": pa.array([[3.0], [1.0, 2.5]], pa.list_(pa.float32())),
            "ts": pa.array(
                [datetime.datetime(2024, 1, 2), datetime.datetime(2024, 1, 1, 12)],
                pa.timestamp("ns"),
            ),
        }
    )
    assert stats.frame_digest(stats.arrow_to_pandas(t)) == stats.frame_digest(
        stats.arrow_to_pandas(naive)
    )


def test_digest_of_empty_result_keeps_columns():
    empty = pd.DataFrame({"b": pd.Series([], dtype="int64"), "a": []})
    assert stats.frame_digest(empty) == (("a", "b"), 0, 0)


# -- SQL metric strings ----------------------------------------------------


@pytest.mark.parametrize(
    "text,value",
    [
        ("total (min, med, max (stageId: taskId))\n8.9 s (2.1 s, 2.3 s, 2.3 s (stage 2.0: task 6))", 8.9),
        ("623 ms", 0.623),
        ("1.5 m", 90.0),
        ("total (min, med, max (stageId: taskId))\n795.2 KiB (198.8 KiB, 1 KiB, 2 KiB (stage 2.0: task 5))", 795.2 * 1024),
        ("0.0 B", 0.0),
        ("100,000", 100000.0),
    ],
)
def test_parse_metric(text, value):
    assert sparkstats.parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_unknown_unit():
    with pytest.raises(ValueError):
        sparkstats.parse_metric("12 parsecs")


# -- record comparison -------------------------------------------------------


def _record(value: float, cores: int = 4, lineitem: str = "aa") -> dict:
    spec = _spec()
    return {
        "workload": "warehouse",
        "trace": 0,
        "cores": cores,
        "data_hashes": {"lineitem": lineitem, "orders": "bb"},
        "metrics": {m["name"]: value for m in spec["end_to_end"]},
    }


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_compare_refuses_different_core_counts():
    with pytest.raises(compare.Incomparable, match="cores"):
        compare.compare([_record(1.0, cores=32)], [_record(1.0, cores=4)], _spec())


def test_compare_refuses_different_data():
    with pytest.raises(compare.Incomparable, match=r"\['lineitem'\]"):
        compare.compare([_record(1.0)], [_record(1.0, lineitem="zz")], _spec())


def test_compare_flags_regression_beyond_bound_only():
    spec = _spec()
    _, regressed = compare.compare([_record(1.0)], [_record(1.01)], spec)
    assert not regressed
    _, regressed = compare.compare([_record(1.0)], [_record(2.0)], spec)
    assert regressed


# -- CPU seconds of a process tree ------------------------------------------


def _burn(seconds: float) -> None:
    t0 = time.process_time()
    while time.process_time() - t0 < seconds:
        pass


def test_tree_cpu_counts_own_work():
    before = host.tree_cpu_s()
    _burn(0.3)
    assert host.tree_cpu_s() - before >= 0.25


def test_tree_cpu_counts_children_and_skips_subtrees():
    burn = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.4: pass\ntime.sleep(30)"
    child = subprocess.Popen([sys.executable, "-c", burn])
    try:
        deadline = time.monotonic() + 20
        while host.tree_cpu_s(child.pid) < 0.35 and time.monotonic() < deadline:
            time.sleep(0.05)
        mine = host.tree_cpu_s(skip=frozenset([child.pid]))
        assert host.tree_cpu_s() - mine >= 0.35
    finally:
        child.kill()
        child.wait()


# -- host slowdown -----------------------------------------------------------


def _probe(t: list[float], dt: list[float]) -> speed.SpeedProbe:
    p = speed.SpeedProbe.__new__(speed.SpeedProbe)
    p.t, p.dt = t, dt
    p._lock = __import__("threading").Lock()
    return p


def test_slowdown_is_mean_round_in_window_over_reference():
    ref = speed.REFERENCE_S
    p = _probe([1.0, 2.0, 3.0, 4.0], [ref, 2 * ref, 4 * ref, ref])
    assert p.slowdown(1.5, 3.5) == pytest.approx(3.0)
    assert p.slowdown(0.0, 10.0) == pytest.approx(2.0)


def test_slowdown_of_short_window_uses_neighbouring_rounds():
    ref = speed.REFERENCE_S
    p = _probe([1.0, 2.0, 3.0], [ref, 3 * ref, 5 * ref])
    assert p.slowdown(2.2, 2.4) == pytest.approx(4.0)
    assert p.slowdown(9.0, 9.5) == pytest.approx(5.0)
    with pytest.raises(RuntimeError):
        _probe([], []).slowdown(0.0, 1.0)


def test_probe_process_samples_and_stops():
    p = speed.SpeedProbe()
    try:
        deadline = time.monotonic() + 20
        while len(p.t) < 3 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert p.slowdown(0.0, time.monotonic()) > 0
    finally:
        p.stop()
    assert p.proc.returncode is not None


# -- metrics of a run's passes -----------------------------------------------


class _Flat:
    """A host whose slowdown is a fixed factor."""

    def __init__(self, f: float) -> None:
        self.f = f

    def slowdown(self, t0: float, t1: float) -> float:
        return self.f


def _op(s: float, cpu: float) -> dict:
    return {"s": s, "cpu_s": cpu, "window": (0.0, s)}


def test_pass_metrics_scale_cpu_to_reference_speed():
    setup = {"cpu_s": [10.0, 14.0, 12.0], "wall_s": [5.0, 6.0, 7.0], "window": (0, 7)}
    cold = {"a": _op(1.0, 4.0), "b": _op(1.0, 6.0)}
    warm = [
        {"a": _op(0.5, 1.0), "b": _op(0.5, 4.0)},
        {"b": _op(0.5, 4.0), "a": _op(0.5, 1.0)},
        {"a": _op(0.5, 3.0), "b": _op(0.5, 12.0)},
    ]
    metrics, detail = stats.pass_metrics(_Flat(2.0), setup, cold, warm)
    assert metrics == {
        "setup_s": pytest.approx(6.0),
        "cold_cpu_s": pytest.approx(5.0),
        "warm_cpu_s": pytest.approx(2.5),
        "warm_geomean_cpu_s": pytest.approx(1.0),
    }
    assert detail["cold_raw_cpu_s"] == pytest.approx(10.0)
    assert detail["warm_raw_cpu_s"] == pytest.approx([5.0, 5.0, 15.0])
    assert detail["warm_entry_wall_s"] == {"a": 0.5, "b": 0.5}


def test_pass_metrics_skip_failed_operations():
    setup = {"cpu_s": [1.0], "wall_s": [1.0], "window": (0, 1)}
    cold = {"a": _op(1.0, 2.0)}
    warm = [{"a": _op(1.0, 2.0), "b": _op(1.0, 8.0)}, {"a": _op(1.0, 2.0)}]
    metrics, _ = stats.pass_metrics(_Flat(1.0), setup, cold, warm)
    assert metrics["warm_geomean_cpu_s"] == pytest.approx(4.0)
    assert metrics["warm_cpu_s"] == pytest.approx(6.0)


def test_measured_passes_run_the_minimum_then_until_seconds(monkeypatch):
    clock = [0.0]
    monkeypatch.setattr(stats.time, "monotonic", lambda: clock[0])
    labels = []

    def one_second_pass(label):
        labels.append(label)
        clock[0] += 1.0
        return {}

    cold, warm = stats.measured_passes(one_second_pass, 0.0)
    assert labels == ["cold"] + [f"warm{i}" for i in range(stats.MIN_WARM_PASSES)]
    assert len(warm) == stats.MIN_WARM_PASSES

    labels.clear()
    n = stats.MIN_WARM_PASSES + 3
    stats.measured_passes(one_second_pass, n + 0.5)
    assert labels == ["cold"] + [f"warm{i}" for i in range(n)]


# -- BENCHMARK.json matches what run.py prints ------------------------------


def test_benchmark_json_matches_run_metrics():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
