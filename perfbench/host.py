"""Host context for a benchmark run: loadavg, a fixed-work canary, and the
peak resident memory of the benchmark's Python processes read from ``/proc``."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def canary() -> dict[str, float]:
    """Fixed work whose wall time exposes host state that loadavg misses
    (CPU steal, throttling, memory contention): a single-thread integer loop
    and a 128 MiB copy sweep. Recorded as context, never as a metric."""
    import numpy as np

    t0 = time.perf_counter()
    x = 0x9E3779B97F4A7C15
    for _ in range(1_000_000):  # xorshift64
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
    cpu_s = time.perf_counter() - t0
    a = np.zeros(1 << 24)  # 128 MiB
    b = np.empty_like(a)
    b[:] = a  # fault both buffers in before timing
    t0 = time.perf_counter()
    for _ in range(4):
        b[:] = a
        a[:] = b
    membw_s = time.perf_counter() - t0
    return {
        "loadavg_1m": os.getloadavg()[0],
        "cpu_canary_s": cpu_s,
        "membw_canary_s": membw_s,
    }


def python_rss_bytes(root_pid: int) -> int:
    """Resident bytes of the Python processes among ``root_pid`` and its
    descendants: this process and the Python workers the JVM forks. The JVM
    is left out, and with it any process it forks to run a command, which
    shares the JVM's memory until it execs."""
    children: dict[int, list[int]] = {}
    python: set[int] = set()
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        end = stat.rindex(")")
        ppid = int(stat[end + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
        if stat[stat.index("(") + 1 : end].startswith("python"):
            python.add(int(entry))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid not in python:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples ``python_rss_bytes`` of this process every ``interval``
    seconds while active; ``peak`` holds the largest sample."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> PeakRss:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, python_rss_bytes(pid))
            if self._stop.wait(self.interval):
                return
