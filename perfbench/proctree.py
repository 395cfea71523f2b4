"""CPU time and resident memory of the benchmark's own process tree.

The tree is the driver (this Python process), the Spark JVM it launched
(the py4j gateway process) and everything below the JVM: the
``pyspark.daemon`` and the Python workers it forks.  Only ``/proc`` entries
of those processes are read, so load from other processes on the machine
is never charged to a query.

CPU of a process that exits is folded by the kernel into its parent's
``cutime``/``cstime`` once reaped; summing ``utime+stime+cutime+cstime``
over the processes alive at each reading therefore counts exited workers
exactly once.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
#: Seconds between RSS samples of the tree.
SAMPLE_INTERVAL_S = 0.1


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may contain spaces; fields after it start past ")".
    return raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def _descendants(root: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


@dataclass(frozen=True)
class Cpu:
    driver_s: float
    jvm_s: float
    pyworker_s: float

    @property
    def total_s(self) -> float:
        return self.driver_s + self.jvm_s + self.pyworker_s

    def __sub__(self, other: "Cpu") -> "Cpu":
        return Cpu(
            self.driver_s - other.driver_s,
            self.jvm_s - other.jvm_s,
            self.pyworker_s - other.pyworker_s,
        )


class ProcTree:
    """Readings over the driver, the JVM ``jvm_pid`` and the JVM's
    descendants, plus a background sampler of the tree's peak RSS."""

    def __init__(self, jvm_pid: int):
        self.driver = os.getpid()
        self.jvm = jvm_pid
        self.peak_rss_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu(self) -> Cpu:
        def own(st: list[str] | None) -> int:
            return int(st[11]) + int(st[12]) if st else 0  # utime, stime

        def reaped(st: list[str] | None) -> int:
            return int(st[13]) + int(st[14]) if st else 0  # cutime, cstime

        jvm_st = _stat(self.jvm)
        workers = reaped(jvm_st)
        for pid in _descendants(self.jvm, _children_map()):
            st = _stat(pid)
            workers += own(st) + reaped(st)
        return Cpu(own(_stat(self.driver)) / _TCK, own(jvm_st) / _TCK, workers / _TCK)

    def rss_bytes(self) -> int:
        total = 0
        for pid in [self.driver, self.jvm, *_descendants(self.jvm, _children_map())]:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * _PAGE
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _sample(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self.peak_rss_bytes = max(self.peak_rss_bytes, self.rss_bytes())

    def take_peak(self) -> int:
        """Peak tree RSS since the previous call (or the sampler start)."""
        peak, self.peak_rss_bytes = self.peak_rss_bytes, self.rss_bytes()
        return max(peak, self.peak_rss_bytes)

    def start_sampler(self) -> None:
        self.peak_rss_bytes = self.rss_bytes()
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop_sampler(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
