"""Host context, process memory and process teardown, without extra
packages.

The memory-bandwidth probe is the same 3 s single-process streaming
probe ``bench.py`` logs before its timed runs: it is there to flag a
degraded host, not to be a precision instrument.  The steal share says
how much CPU time other guests of the host took during a run.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

import numpy as np


def membw_gbps(seconds: float = 3.0) -> float:
    """Single-process read+write stream bandwidth over 200 MB, in GB/s."""
    a = np.zeros(200_000_000 // 8, dtype=np.float64)
    t0 = time.monotonic()
    n = 0
    while time.monotonic() - t0 < seconds:
        a += 1.0
        n += 1
    return n * a.nbytes * 2 / (time.monotonic() - t0) / 1e9


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU time by state (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of the CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests (the ``steal`` column)."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / max(sum(d[:8]), 1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root_pid: int) -> list[int]:
    kids, out, todo = _children(), [], [root_pid]
    while todo:
        pid = todo.pop()
        out.extend(kids.get(pid, []))
        todo.extend(kids.get(pid, []))
    return out


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of the peak resident sets of ``root_pid`` and its live
    descendants (the driver JVM and its Python workers), in MB."""
    return sum(_vm_hwm_kb(pid) for pid in [root_pid, *descendants(root_pid)]) / 1024.0


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of every process it starts, also of
    those whose own parent ends first (Spark's Python workers), so that
    ``end_children`` can wait for each of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_children(grace: float = 30.0) -> None:
    """Return once every process this one started has ended and been
    reaped.  Those still running after ``grace`` seconds get SIGTERM,
    and SIGKILL 5 s later."""
    deadline = time.monotonic() + grace
    signals = iter((signal.SIGTERM, signal.SIGKILL))
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # no child left, running or ended
            return
        if time.monotonic() > deadline:
            sig = next(signals, signal.SIGKILL)
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)
