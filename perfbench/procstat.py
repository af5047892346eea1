"""CPU time and resident memory of this process and all its descendants.

The tree is the driver Python, the JVM it launches and the JVM's Python
workers. Counters come from ``/proc/<pid>/stat``: ``utime + stime`` of
every live process plus ``cutime + cstime`` (the CPU of children that a
live process has already waited for), so a worker that exits between
two samples still counts.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the closing paren.
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def wait_for_exit(pids: list[int], timeout: float) -> None:
    """Wait until every process in ``pids`` has ended; after ``timeout``
    seconds terminate, then kill, the ones still running. Takes pids
    rather than walking the tree because a child's children are
    re-parented away from this process once the child exits."""
    for sig, wait in ((None, timeout), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.1)


def tree_cpu_seconds() -> float:
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11..14] are utime, stime, cutime, cstime (stat(5) 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * _PAGE / 1e6


def host_ticks() -> tuple[int, int]:
    """(busy, steal) CPU ticks of the whole host from ``/proc/stat``."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time runnable threads wanted between two
    ``host_ticks`` readings that the hypervisor gave to other guests.
    Steal accrues only while a vCPU has work, so this is the share by
    which CPU-bound progress was slowed."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


class PeakRss:
    """Sample the tree's summed RSS every ``interval`` s until ``stop``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
