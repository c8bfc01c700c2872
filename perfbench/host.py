"""Host and process readings taken around each pass (Linux ``/proc``).

- ``steal_s``: CPU time the hypervisor gave to other guests, summed over
  all CPUs. A pass that ran while it rose was contended.
- ``calib_ms``: a fixed single-thread CPU loop timed before each pass. On a
  quiet host it repeats within a few percent, so a slow reading marks a
  slow host rather than a slow program.
- ``ProcTree``: CPU seconds and resident memory of this process and every
  descendant (the JVM and its Python workers).
"""

from __future__ import annotations

import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
#: iterations of the calibration loop: about 25 ms on a quiet host
CALIB_LOOP = 300_000
#: how often ``ProcTree`` samples the tree's resident size
RSS_INTERVAL_S = 0.25


def steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(fields[8]) / _HZ


def calib_ms() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(CALIB_LOOP):
        acc += i * i % 7
    if acc < 0:  # keeps the loop from being optimized into nothing
        raise AssertionError
    return (time.perf_counter() - t0) * 1e3


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree_pids(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """Readings over the process tree rooted at this process.

    ``start_sampling`` runs a daemon thread that records the peak summed
    resident size; ``stop_sampling`` joins it."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu_s(self) -> float:
        """user + system seconds of every live process in the tree, plus the
        reaped children each of them has waited for."""
        total = 0
        for pid in tree_pids(self.root):
            st = _stat(pid)
            if st:
                # utime stime cutime cstime sit at fields 14-17 (1-based)
                total += sum(int(x) for x in st[11:15])
        return total / _HZ

    def rss_bytes(self) -> int:
        total = 0
        for pid in tree_pids(self.root):
            st = _stat(pid)
            if st:
                total += int(st[21]) * _PAGE  # rss, field 24
        return total

    def _sample(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.peak_rss_bytes = max(self.peak_rss_bytes, self.rss_bytes())

    def start_sampling(self) -> None:
        self.peak_rss_bytes = max(self.peak_rss_bytes, self.rss_bytes())
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop_sampling(self) -> None:
        if self._thread is not None:
            self._stop.set()
            self._thread.join(timeout=5)
            self._thread = None
        self.peak_rss_bytes = max(self.peak_rss_bytes, self.rss_bytes())


def process_start_epoch() -> float:
    """Wall-clock time at which this process started, from ``/proc``."""
    st = _stat(os.getpid())
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    started_after_boot = int(st[19]) / _HZ  # starttime, field 22
    return time.time() - (uptime - started_after_boot)
