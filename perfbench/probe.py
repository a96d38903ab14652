"""Machine probes taken beside every benchmark run.

- ``calib()``: a fixed pure-Python loop timed once serially and once in
  each of ``nproc`` processes released together (the slowest counts).  On a quiet machine both read the
  same; a contended window shows up as a slower ``parallel_s``.
- ``GroupSampler``: samples the resident memory and CPU time of a process
  group (a child process with the JVM and Python workers of its Spark
  run) from /proc, keeping the peak memory and the CPU total.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import threading
import time

LOOP = 3_000_000
PAGE = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _spin(n: int = LOOP) -> int:
    x = 0
    for i in range(n):
        x += i & 7
    return x


def _timed_spin(barrier, times) -> None:
    barrier.wait()
    t = time.perf_counter()
    _spin()
    times.put(time.perf_counter() - t)


def _parallel() -> float:
    # fork, not spawn: a spawned child re-imports Python for a second or
    # so per round; calib() runs while no other thread is alive
    ctx = mp.get_context("fork")
    n = cpus()
    barrier, times = ctx.Barrier(n), ctx.Queue()
    procs = [ctx.Process(target=_timed_spin, args=(barrier, times)) for _ in range(n)]
    for p in procs:
        p.start()
    slowest = max(times.get(timeout=60) for _ in procs)
    for p in procs:
        p.join()
    return slowest


def calib() -> dict[str, float]:
    """The first parallel round only wakes idle cores; the second counts."""
    _parallel()
    t = time.perf_counter()
    _spin()
    serial = time.perf_counter() - t
    return {"serial_s": serial, "parallel_s": _parallel()}


def group_usage(pgid: int) -> tuple[float, int]:
    """(CPU seconds, resident bytes) of the live processes in process group
    ``pgid``, CPU including the children they have reaped.  A child started
    in its own session keeps the JVM and Python workers it spawns in its
    group even after their parent exits."""
    ticks = pages = 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(f[2]) == pgid:
            ticks += sum(int(x) for x in f[11:15])
            pages += int(f[21])
    return ticks / CLK_TCK, pages * PAGE


class GroupSampler(threading.Thread):
    """Peak resident memory and CPU seconds of a process group, sampled
    until ``stop()``.  CPU is the highest reading seen, so a process that
    exits between two samples loses at most one interval."""

    def __init__(self, pgid: int, interval: float = 0.25):
        super().__init__(daemon=True)
        self.pgid, self.interval = pgid, interval
        self.peak_rss, self.cpu = 0, 0.0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            cpu, rss = group_usage(self.pgid)
            self.cpu, self.peak_rss = max(self.cpu, cpu), max(self.peak_rss, rss)
            self._done.wait(self.interval)

    def stop(self) -> None:
        self._done.set()
        self.join()
