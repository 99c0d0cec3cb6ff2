"""Host conditions, process-tree memory and process clean-up.

The ``/proc/stat`` sampler is the one in the repo's ``bench.py``; import it
only after ``env.prepare`` (``bench`` imports the package).
"""

from __future__ import annotations

import os
import signal
import threading
import time
from typing import Dict, List, Optional

import bench  # noqa: E402  repo-root bench.py: _cpu_times() reads /proc/stat

_PAGE = os.sysconf("SC_PAGE_SIZE")


class CpuWindow:
    """Steal and idle share of all CPUs between ``__init__`` and ``close``."""

    def __init__(self) -> None:
        self._start = bench._cpu_times()

    def close(self) -> Dict[str, float]:
        delta = [b - a for a, b in zip(self._start, bench._cpu_times())]
        total = sum(delta) or 1
        return {"steal_pct": 100.0 * delta[7] / total, "idle_pct": 100.0 * delta[3] / total}


def calibration() -> Dict[str, float]:
    """Fixed-work probes, so a slower host shows in the record: a pure
    Python loop (interpreter speed) and 512 MB of memory copies."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i % 7
    cpu_ms = (time.perf_counter() - t0) * 1e3
    block = bytearray(64 << 20)
    t0 = time.perf_counter()
    for _ in range(8):
        block = bytearray(block)
    mem_ms = (time.perf_counter() - t0) * 1e3
    return {"calib_cpu_ms": cpu_ms, "calib_mem_ms": mem_ms}


def host_conditions() -> Dict[str, float]:
    return {"nproc": float(len(os.sched_getaffinity(0))), "load1": os.getloadavg()[0]}


def descendants(root_pid: int) -> List[int]:
    """Pids of every live descendant of ``root_pid``."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name) as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    found, stack = [], [root_pid]
    while stack:
        for child in children.get(stack.pop(), ()):
            found.append(child)
            stack.append(child)
    return found


def tree_rss_bytes(root_pid: int) -> int:
    total = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open("/proc/%d/statm" % pid) as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, ValueError, IndexError):
            continue
    return total


class RssSampler(threading.Thread):
    """Peak summed RSS of this process tree (driver, JVM, Python workers)."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self._halt = threading.Event()

    def run(self) -> None:
        pid = os.getpid()
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self.samples += 1
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def stop_descendants(timeout: float = 20.0) -> None:
    """Terminate whatever this process started that is still alive (the
    JVM, Python workers) and wait until each has ended."""
    deadline = time.time() + timeout
    sig: Optional[int] = signal.SIGTERM
    while True:
        pids = descendants(os.getpid())
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)  # reap our own children
            except ChildProcessError:
                pass
        pids = [p for p in descendants(os.getpid()) if _alive(p)]
        if not pids:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _alive(pid: int) -> bool:
    try:
        with open("/proc/%d/stat" % pid) as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
