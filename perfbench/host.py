"""Host facts and process accounting for the run record."""

from __future__ import annotations

import os
import signal
import subprocess
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s(pid: int | None = None) -> float:
    """Seconds since ``pid`` (default: this process) started, from
    /proc, so set-up time includes interpreter start and imports."""
    with open(f"/proc/{pid or 'self'}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5), after pid and comm
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _CLK_TCK


def _children(pid: int) -> list[int]:
    kids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == pid:
            kids.append(int(name))
    return kids


def descendants(pid: int, skip: frozenset[int] = frozenset()) -> list[int]:
    """Live descendants of ``pid``, leaving out the subtrees rooted at
    the pids in ``skip``."""
    out, todo = [], [pid]
    while todo:
        kids = [k for k in _children(todo.pop()) if k not in skip]
        out.extend(kids)
        todo.extend(kids)
    return out


def kill_group(proc: subprocess.Popen, timeout: float = 30.0) -> None:
    """SIGKILL the process group ``proc`` leads (started with
    ``start_new_session``) and wait until it and every descendant it
    had are gone."""
    pids = descendants(proc.pid)
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.05)


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process; 0 when gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(v) for v in fields[11:15])  # fields 14-17 of stat(5)


def tree_cpu_s(pid: int | None = None, skip: frozenset[int] = frozenset()) -> float:
    """CPU seconds (user + system) used so far by ``pid`` (default:
    this process) and its live descendants, children it has reaped
    included, leaving out the subtrees rooted at ``skip``.

    Time the hypervisor steals from the guest is not counted (Linux
    with paravirtual time accounting), so the figure follows the work
    the processes did, not how busy the neighbours on the host were."""
    pid = pid or os.getpid()
    pids = descendants(pid, skip)
    return sum(_cpu_ticks(p) for p in pids + [pid]) / _CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB; 0 when the
    process is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def java_pids(pids: list[int]) -> list[int]:
    out = []
    for p in pids:
        try:
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().strip() == "java":
                    out.append(p)
        except OSError:
            continue
    return out


def peak_rss_mb(driver_pid: int) -> float:
    """Peak RSS of the system under test: the driver Python process
    plus the JVM(s) it launched. Python UDF workers are left out:
    they are forked per task set and their count follows the core
    count, not the engine's design."""
    return vm_hwm_mb(driver_pid) + sum(
        vm_hwm_mb(p) for p in java_pids(descendants(driver_pid))
    )
