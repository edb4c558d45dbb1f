"""Pure helpers for the benchmark: percentiles, geomean, failure
counting, the order-insensitive result digest, and the metrics of a
run's passes.

Nothing here imports Spark, so the helpers are unit-tested in
milliseconds (``python -m pytest perfbench``).
"""

from __future__ import annotations

import math
import threading
import time

import numpy as np
import pandas as pd

# A percentile is only reported when at least this many samples lie
# beyond it; fewer makes the "tail" one or two unlucky requests.
MIN_TAIL_SAMPLES = 10


def samples_needed(q: float) -> int:
    """Smallest sample count whose ``q``-th percentile has at least
    ``MIN_TAIL_SAMPLES`` samples beyond it."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    return math.ceil(MIN_TAIL_SAMPLES * 100 / (100 - q) - 1e-9)


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (linear interpolation), refusing a
    sample too small to support it: raises ``ValueError`` when fewer
    than ``MIN_TAIL_SAMPLES`` samples lie beyond it."""
    need = samples_needed(q)
    if len(values) < need:
        raise ValueError(
            f"p{q:g} needs >= {need} samples "
            f"({MIN_TAIL_SAMPLES} beyond it), got {len(values)}"
        )
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(np.median(np.asarray(values, dtype=float)))


def mean(values: list[float]) -> float:
    if not values:
        raise ValueError("mean of no samples")
    return float(np.mean(np.asarray(values, dtype=float)))


def geomean(values: list[float]) -> float:
    """Geometric mean of positive timings. Empty input and non-positive
    values raise instead of returning a number that looks like a
    measurement (a 0 s wall would drag the mean to 0, an empty set has
    no mean)."""
    if not values:
        raise ValueError("geomean of no samples")
    arr = np.asarray(values, dtype=float)
    if not np.all(np.isfinite(arr)) or np.any(arr <= 0):
        raise ValueError(f"geomean needs finite positive values, got {values}")
    return float(np.exp(np.mean(np.log(arr))))


class OpLog:
    """Outcome of every attempted operation: latency when it succeeded
    with a correct result, otherwise counted as failed. A wrong result
    and an error both count as failed; neither contributes a latency."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def ok(self) -> None:
        with self._lock:
            self.attempted += 1

    def fail(self, why: str) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(why[:500])

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def arrow_to_pandas(table) -> pd.DataFrame:
    """An Arrow result as Spark's ``toPandas`` would give it with the
    session pinned to UTC: zoned timestamps become naive UTC."""
    df = table.to_pandas()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def _cell_key(v):
    """Hashable form of a nested cell (list / array / dict / struct)."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_cell_key(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell_key(x)) for k, x in v.items()))
    return v


def normalize_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Put a result frame into the comparison form of
    ``tests/oracle_compare.py`` (minus its row sort, which the digest
    makes unnecessary): columns sorted by name; timestamps at
    microsecond precision; integer and boolean columns as nullable
    Int64, so an int32 on one engine equals an int64 on the other;
    floats as float64, compared exactly (-0.0 equals 0.0, as with
    ``==``); nested cells as tuples. Takes ``arrow_to_pandas`` output."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s) or pd.api.types.is_integer_dtype(s):
            s = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64") + 0.0
        elif s.dtype == object:
            s = s.map(_cell_key)
        df[c] = s
    return df.reset_index(drop=True)


def frame_digest(df: pd.DataFrame) -> tuple:
    """Order-insensitive fingerprint of a result: column names, row
    count, and the wrapping uint64 sum of per-row hashes of the
    normalized frame. Equal multisets of rows give equal digests
    whatever order the engine delivered them in."""
    norm = normalize_frame(df)
    if len(norm) == 0:
        return (tuple(norm.columns), 0, 0)
    for c in norm.columns:
        if norm[c].dtype == object:
            # Tuples are not hashable by pandas' vectorized hasher.
            norm[c] = norm[c].map(repr)
    h = pd.util.hash_pandas_object(norm, index=False).to_numpy(dtype=np.uint64)
    total = int(np.add.reduce(h, dtype=np.uint64))
    return (tuple(norm.columns), len(norm), total)


# -- passes of operations -----------------------------------------------
#
# An operation's result is {"s": wall seconds, "cpu_s": CPU seconds of the
# system under test, "window": (start, end) in time.monotonic seconds}; a
# pass maps each operation's name to its result.


# Warm passes per run, at least. In the pass after the cold one the
# engine is still settling (JIT): its CPU seconds ran 10-25 % above the
# next pass's. Over ten runs a median of two passes spread 3-8 %
# (IQR/median) where a single pass spread up to 11-18 %.
MIN_WARM_PASSES = 2


def measured_passes(run_pass, seconds: float) -> tuple[dict, list[dict]]:
    """The cold pass, then warm passes until ``seconds`` have passed
    since the cold pass began, and at least ``MIN_WARM_PASSES``."""
    t0 = time.monotonic()
    cold = run_pass("cold")
    warm = []
    while len(warm) < MIN_WARM_PASSES or time.monotonic() - t0 < seconds:
        warm.append(run_pass(f"warm{len(warm)}"))
    return cold, warm


def total(ops: dict[str, dict], key: str) -> float:
    return sum(r[key] for r in ops.values())


def wall_total(ops: dict[str, dict]) -> float:
    return total(ops, "s")


def pass_metrics(
    speed, setup: dict, cold: dict[str, dict], warm: list[dict[str, dict]]
) -> tuple[dict[str, float], dict]:
    """End-to-end metrics of a run, and its record's detail.

    ``setup`` holds the CPU and wall seconds of each set-up and the
    set-up's time window; ``cold`` and ``warm`` are the passes. Every
    metric is CPU seconds at the reference host speed: an operation's
    CPU seconds divided by ``speed.slowdown`` over its window (see
    ``speed.py``). The detail keeps the raw CPU seconds, the wall-clock
    twins and the slowdowns."""
    for p in [cold, *warm]:
        for r in p.values():
            r["slowdown"] = speed.slowdown(*r["window"])
            r["ref_cpu_s"] = r["cpu_s"] / r["slowdown"]
    setup_slowdown = speed.slowdown(*setup["window"])
    names = sorted({n for p in [cold, *warm] for n in p})

    def per_entry(key: str) -> dict[str, float]:
        out = {}
        for n in names:
            v = [p[n][key] for p in warm if n in p]
            if v:
                out[n] = median(v)
        return out

    warm_ref = per_entry("ref_cpu_s")
    metrics = {
        "setup_s": median(setup["cpu_s"]) / setup_slowdown,
        "cold_cpu_s": total(cold, "ref_cpu_s"),
        "warm_cpu_s": median([total(p, "ref_cpu_s") for p in warm]),
        "warm_geomean_cpu_s": geomean(list(warm_ref.values())),
    }
    detail = {
        "setup_raw_cpu_s": setup["cpu_s"],
        "setup_wall_s": setup["wall_s"],
        "setup_slowdown": setup_slowdown,
        "cold_raw_cpu_s": total(cold, "cpu_s"),
        "cold_wall_s": wall_total(cold),
        "cold_slowdown": mean([r["slowdown"] for r in cold.values()]),
        "warm_raw_cpu_s": [total(p, "cpu_s") for p in warm],
        "warm_wall_s": [wall_total(p) for p in warm],
        "warm_slowdown": [mean([r["slowdown"] for r in p.values()]) for p in warm],
        "cold_entry_cpu_s": {n: r["ref_cpu_s"] for n, r in cold.items()},
        "cold_entry_wall_s": {n: r["s"] for n, r in cold.items()},
        "warm_entry_cpu_s": warm_ref,
        "warm_entry_wall_s": per_entry("s"),
        # Every operation: pass, name, wall s, raw CPU s, window.
        "ops": [
            [label, n, r["s"], r["cpu_s"], *r["window"]]
            for label, p in [("cold", cold)] + [(f"warm{i}", w) for i, w in enumerate(warm)]
            for n, r in p.items()
        ],
    }
    return metrics, detail
