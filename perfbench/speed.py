"""Host speed, sampled through a run.

On a shared host the CPU time a fixed piece of work takes drifts from
minute to minute (sibling hyperthreads, frequency), so CPU seconds
alone do not pin down the work done. ``SpeedProbe`` runs a fixed
pure-Python loop in a process of its own, about every
``INTERVAL_S``, and records when each round ended and the CPU seconds
it took. ``slowdown(t0, t1)`` is the mean of the rounds in a window,
relative to ``REFERENCE_S``: 1.0 on a host where the loop takes
``REFERENCE_S``, 1.3 on one 30 % slower.

    python3 perfbench/speed.py      # the probe process itself
"""

from __future__ import annotations

import bisect
import subprocess
import sys
import threading
import time

INTERVAL_S = 0.05
ROUNDS = 40_000
# CPU seconds one round takes on the reference host; any constant
# serves, since only ratios between runs matter.
REFERENCE_S = 0.0035


def _round() -> float:
    c0 = time.process_time()
    s = 0
    for i in range(ROUNDS):
        s += i * i % 7
    return time.process_time() - c0


def _serve() -> None:
    out = sys.stdout
    while True:
        dt = _round()
        out.write(f"{time.monotonic()} {dt}\n")
        out.flush()
        time.sleep(INTERVAL_S)


class SpeedProbe:
    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, __file__], stdout=subprocess.PIPE, text=True
        )
        self.t: list[float] = []
        self.dt: list[float] = []
        self._lock = threading.Lock()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            t, dt = line.split()
            with self._lock:
                self.t.append(float(t))
                self.dt.append(float(dt))

    def slowdown(self, t0: float, t1: float) -> float:
        """Slowdown against the reference host over ``[t0, t1]``
        (``time.monotonic`` seconds): the mean round in the window, or
        the two rounds around it when none ended inside."""
        with self._lock:
            lo = bisect.bisect_left(self.t, t0)
            hi = bisect.bisect_right(self.t, t1)
            if hi - lo < 2:
                lo, hi = max(0, lo - 1), min(len(self.t), hi + 1)
            window = self.dt[lo:hi]
        if not window:
            raise RuntimeError("no host speed sample")
        return sum(window) / len(window) / REFERENCE_S

    def samples(self) -> list[tuple[float, float]]:
        """Every round so far: (end time, CPU seconds)."""
        with self._lock:
            return list(zip(self.t, self.dt))

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
        self.proc.wait(timeout=30)
        self._reader.join(timeout=30)


if __name__ == "__main__":
    try:
        _serve()
    except (BrokenPipeError, KeyboardInterrupt):
        pass
